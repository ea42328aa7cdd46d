"""The workloads, driven through the engine's public entry points only.

``cdc_catchup`` is two closed-loop AvailableNow catch-up drains
(``ApplyJob.run_available``), each followed by a closed-loop read phase
on its ``ManifestParquetSink``: a copy-on-write part and a
merge-on-read part (see ``CDC_PARTS``). Set-up generates each part's
log, writes its snapshot file and drains it into a *template* sink
(the untimed warm-up), then writes the rest of the log as the backlog.
Each timed iteration copies every template (its manifests and checkpoint
point at the template's immutable data files), drains the whole backlog
into the copy and runs the read mix. So every iteration catches up the
same backlog onto the same existing table.

``batch_backfill`` is the two batch paths, which share no code with the
streaming job: a replay of a whole generated log with
``plans.replay.replay_batch(impl="auto")`` (the initial-snapshot and
backfill path, with no streaming and no sink), then the dedup ladder
(``exact_dedup``, ``simhash_pairs``, ``minhash_lsh_pairs``,
``connected_components``) and ``curate`` over a generated corpus with
planted duplicates.

A workload's ``generate`` needs no Spark session, so it runs while the
session starts; ``prepare`` and ``warm_up`` follow. Every output is
checked against an independent reference after the timed phase
(``Workload.check``); a mismatch counts as a failed operation.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from checks import CHANGELOG_COLUMNS, Oracle, force, table_columns
from gen import V1_COLUMNS, CdcLog, Corpus, cdc_log, corpus
from pyspark.sql import functions as F
from tracing import Tracer, TriggerLog

from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.operators import curate as curate_mod
from mysql_time_machine_spark.operators import dedup as dedup_mod
from mysql_time_machine_spark.plans import replay as replay_mod
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.sources.binlog import read_binlog
from mysql_time_machine_spark.streaming import job as job_mod

#: the read mix of one CDC part per iteration, issued in a seeded order
READ_MIX = ("read", "snapshot", "changelog")
#: files the engine's default ``max_files_per_trigger`` takes per trigger
FILES_PER_TRIGGER = EngineConfig().max_files_per_trigger
#: near-duplicate recall floors of the pair generators on the planted
#: one-word edits (3-shingle Jaccard about 0.9)
MINHASH_RECALL = 0.9
SIMHASH_RECALL = 0.3


@dataclass(frozen=True)
class CdcPart:
    name: str
    #: ``gen.cdc_log`` arguments besides the seed and the file count
    log: dict
    merge_strategy: str = "cow"
    #: ``EngineConfig`` settings beyond the defaults
    engine: dict = field(default_factory=dict)


CDC_PARTS = (
    # single-row full-image transactions on uniform keys, txn-atomic
    # files, three ADD COLUMN DDLs, onto a CoW table four times the
    # backlog: every epoch rewrites every bucket
    CdcPart("cow", log=dict(n_keys=10_000, n_events=2_500, ddl_at=(0.2, 0.6, 0.8), content_len=(40, 240))),
    # Zipf keys whose hottest key gets about 18k updates in the one
    # backlog micro-batch (a fifth of one 100k-record Arrow batch; more
    # would lengthen every run), partial updates in 2-8 row transactions
    # cut across files, buffered transactions, merge-on-read
    CdcPart(
        "mor",
        log=dict(
            n_keys=2_000, n_events=24_000, zipf_alpha=2.5, partial_updates=True,
            txn_rows=(2, 8), straddle=True, op_probs=(0.03, 0.94, 0.03), content_len=(20, 80),
        ),
        merge_strategy="mor",
        engine={"buffer_transactions": True},
    ),
)

#: one line per workload: why it is in the benchmark
WHY = {
    "cdc_catchup": (
        "AvailableNow catch-up onto a CoW table (uniform keys, DDLs: merge rewrites every bucket) "
        "and a MoR one (hot key, buffered straddling txns), then reads"
    ),
    "batch_backfill": (
        "batch replay of a whole log on the sql kernel, then the dedup ladder and curate over "
        "a corpus with planted duplicates: no streaming, no sink"
    ),
}
REPLAY_LOG = dict(
    n_keys=20_000, n_events=80_000, ddl_at=(0.3, 0.7), partial_updates=True,
    txn_rows=(1, 4), content_len=(20, 80),
)
CORPUS = dict(n_base=800, n_exact=80, n_near=110)
COLD_CORPUS = dict(n_base=150, n_exact=15, n_near=20)


@dataclass
class Results:
    """What the timed phase measured and what the checks found."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: walls of the apply calls (drains, replays, ladder passes) and the
    #: items (row events, documents) they processed
    apply_wall_s: list[float] = field(default_factory=list)
    items: int = 0
    #: latency of each apply unit: a trigger, a forced replay or a ladder pass
    unit_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    sink_bytes: int = 0
    #: the same per part (cow, mor, replay, curate): [items, wall, units]
    parts: dict[str, list] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def applied(self, part: str, items: int, wall: float, units: list[float]) -> None:
        """Record one apply call: a drain, a replay or a ladder pass."""
        self.items += items
        self.apply_wall_s.append(wall)
        self.unit_s += units
        p = self.parts.setdefault(part, [0, 0.0, []])
        p[0] += items
        p[1] += wall
        p[2] += units


def dir_bytes(root: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root``, not descending
    into directories named in ``skip``."""
    total = files = 0
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Workload:
    """Results, deferred checks and trace facts, shared by every workload."""

    name = ""
    #: task slots of the session: ``local[min(cores, nproc)]``
    cores = 4

    def __init__(self, spark, seed: int, work: str, triggers: TriggerLog):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.triggers = triggers
        self.results = Results()
        #: (what, got, expected) of outputs still to check; ``expected`` is
        #: called at check time, so the reference runs after the timed phase
        self._pending: list[tuple[str, Any, Callable[[], Any]]] = []
        #: filled by a traced iteration for the per-layer report
        self.trace_progress: list[dict] = []
        self.trace_facts: dict | None = None

    def generate(self) -> None:
        """Inputs, their files and the references; runs without Spark."""

    def prepare(self) -> None:
        """Set-up that needs the Spark session."""

    def expect(self, what: str, got, expected: Callable[[], Any]) -> None:
        self._pending.append((what, got, expected))

    def check(self) -> None:
        """Compare every pending output with its reference."""
        for what, got, expected in self._pending:
            want = expected()
            if got != want:
                self.results.fail(f"{what}: got {got}, expected {want}")
        self._pending.clear()


def concurrently(calls: list[Callable[[], Any]]) -> None:
    """Run ``calls`` on one thread each and re-raise the first error."""
    errors: list[BaseException] = []

    def run(call):
        try:
            call()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(c,)) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _oracle(log: CdcLog) -> Oracle:
    ev = log.events
    ddl = ev.filter(pc.equal(ev["op"], "DDL"))
    ddl_gtids = {
        text.split("ADD COLUMN ")[1].split()[0]: g
        for text, g in zip(ddl["ddl"].to_pylist(), ddl["gtid_seq"].to_pylist())
    }
    return Oracle(ev, ddl_gtids, list(V1_COLUMNS))


def write_files(log: CdcLog, binlog: str, files, t0: int) -> int:
    """Write log files ``files`` under ``binlog`` with explicit, strictly
    increasing mtimes (the file source takes files in modification-time
    order); returns their bytes."""
    os.makedirs(binlog, exist_ok=True)
    total = 0
    for i in files:
        part = log.events.slice(log.cuts[i], log.cuts[i + 1] - log.cuts[i])
        p = os.path.join(binlog, f"binlog-{i:05d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (t0 + i, t0 + i))
        total += os.path.getsize(p)
    return total


class _Part:
    """One CDC part's log, files, template sink and oracle."""

    def __init__(self, spec: CdcPart, seed: int, work: str):
        self.spec = spec
        self.binlog = os.path.join(work, f"binlog-{spec.name}")
        self.template = os.path.join(work, f"template-{spec.name}")
        # file 0 is the snapshot, the rest one trigger's worth of backlog
        self.log = cdc_log(seed, n_files=1 + FILES_PER_TRIGGER, **spec.log)
        self.oracle = _oracle(self.log)
        self.end_gtid = int(pc.max(self.log.events["gtid_seq"]).as_py())
        ops = self.log.events.slice(self.log.cuts[1])["op"]
        self.backlog_rows = int(pc.sum(pc.is_in(ops, value_set=pc.cast(["I", "U", "D"], ops.type))).as_py())
        self.backlog_bytes = 0
        self.template_snapshots = 0
        self.t0 = int(time.time()) - 3600


class CdcWorkload(Workload):
    name = "cdc_catchup"

    def generate(self) -> None:
        """Generate every part's log, write its snapshot file and compute
        the oracle's digests of every state and changelog day the read
        mix can ask for."""
        self.parts = [_Part(spec, self.seed, self.work) for spec in CDC_PARTS]
        for p in self.parts:
            shutil.rmtree(p.binlog, ignore_errors=True)
            write_files(p.log, p.binlog, [0], p.t0)
            p.oracle.table(0)
            p.oracle.table(p.end_gtid)
            for day in p.oracle.days:
                p.oracle.changelog(day)

    def _sink(self, part: _Part, root: str) -> ManifestParquetSink:
        return ManifestParquetSink(self.spark, root, merge_strategy=part.spec.merge_strategy)

    def warm_up(self) -> None:
        """Drain each snapshot into its template (the process's first
        triggers; the parts drain concurrently, as their cold costs are
        mostly single-threaded), then write the backlog files."""
        before = self.triggers.terminated
        for p in self.parts:
            shutil.rmtree(p.template, ignore_errors=True)
        concurrently([lambda p=p: self._job(p, p.template).run_available(timeout_sec=120)
                      for p in self.parts])
        if not self.triggers.wait_terminated(before + len(self.parts)):
            raise RuntimeError("streaming query termination was not reported")
        for p in self.parts:
            p.template_snapshots = len(self._sink(p, p.template).snapshots())
            p.backlog_bytes = write_files(p.log, p.binlog, range(1, len(p.log.cuts) - 1), p.t0)

    def _job(self, part: _Part, root: str) -> job_mod.ApplyJob:
        return job_mod.ApplyJob(
            self.spark, part.binlog, self._sink(part, root), EngineConfig(**part.spec.engine)
        )

    def _drain(self, part: _Part, root: str) -> tuple[float, list[dict]]:
        before_p, before_t = len(self.triggers.progress), self.triggers.terminated
        job = self._job(part, root)
        t = time.time()
        job.run_available(timeout_sec=120)
        wall = time.time() - t
        if not self.triggers.wait_terminated(before_t + 1):
            raise RuntimeError("streaming query termination was not reported")
        return wall, self.triggers.progress[before_p:]

    def iteration(self, i: int, tracer: Tracer, reads: bool = True) -> float:
        """Per part: drain the backlog into a copy of the template, then run
        the read mix. Returns the timed seconds: the drains and the reads;
        copying the templates and the bookkeeping are untimed."""
        timed = 0.0
        facts = []
        progress = []
        for p in self.parts:
            dt, f, prog = self._part_iteration(p, i, tracer, reads)
            timed += dt
            facts.append(f)
            progress += prog
        if tracer.enabled:
            self.trace_progress = progress
            self.trace_facts = {k: sum(f[k] for f in facts) for k in facts[0]} if all(facts) else None
        return timed

    def _part_iteration(self, p: _Part, i: int, tracer: Tracer, reads: bool):
        r = self.results
        root = os.path.join(self.work, f"sink-{p.spec.name}-{i:03d}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(p.template, root)
        try:
            with tracer.span("drain", part=p.spec.name):
                wall, progress = self._drain(p, root)
        except Exception as e:  # noqa: BLE001 - any raised drain is a failed operation
            r.attempted += 1
            r.fail(f"{p.spec.name} drain {i}: {type(e).__name__}: {e}")
            shutil.rmtree(root, ignore_errors=True)
            return 0.0, None, []
        epochs = [x for x in progress if x["input_rows"] > 0]
        r.attempted += len(epochs)
        enabled, tracer.enabled = tracer.enabled, False
        sink = self._sink(p, root)
        snaps = sink.snapshots()
        new = snaps[p.template_snapshots:]
        # completeness, from the log rather than the sink: the drain must
        # apply every backlog row event and reach the log's last gtid
        consumed = sum(m["lineage"]["events_consumed"].get("ROW", 0) for m in new)
        r.applied(p.spec.name, consumed, wall, [x["duration_ms"]["triggerExecution"] / 1e3 for x in epochs])
        r.attempted += 1
        if consumed != p.backlog_rows or snaps[-1]["max_gtid_seq"] != p.end_gtid:
            r.fail(
                f"{p.spec.name} drain {i}: applied {consumed} of {p.backlog_rows} row events, "
                f"up to gtid {snaps[-1]['max_gtid_seq']} of {p.end_gtid}"
            )
        r.sink_bytes += dir_bytes(root, ("_checkpoint",))[0] - dir_bytes(p.template, ("_checkpoint",))[0]
        facts = self._facts(p, sink, root, new, consumed) if enabled else {}
        tracer.enabled = enabled
        timed = wall
        if reads:
            timed += self.read_phase(p, i, sink, tracer)
        shutil.rmtree(root, ignore_errors=True)
        return timed, facts, progress

    def _facts(self, p: _Part, sink, root: str, new: list[dict], consumed: int) -> dict:
        """Counts of what the drain consumed and wrote, from the manifests
        it committed and the files under the sink root."""
        old_read = 0
        if p.spec.merge_strategy == "cow":
            for m in new:
                parent = sink.manifest_at(m["parent"])
                for b in m["lineage"]["per_bucket"]:
                    old_read += sum(os.path.getsize(f) for f in parent["buckets"].get(b, []))
        b_new, f_new = dir_bytes(root, ("_checkpoint",))
        b_old, f_old = dir_bytes(p.template, ("_checkpoint",))
        return {
            "input_bytes": p.backlog_bytes,
            "rows_in": consumed,
            "rows_out": sum(m["lineage"]["n_I"] + m["lineage"]["n_U"] + m["lineage"]["n_D"] for m in new),
            "buckets_touched": sum(len(m["lineage"]["per_bucket"]) for m in new),
            "old_read_bytes": old_read,
            "bytes_written": b_new - b_old,
            "files_written": f_new - f_old,
            "changelog_bytes": dir_bytes(os.path.join(root, "changelog"))[0]
            - dir_bytes(os.path.join(p.template, "changelog"))[0],
        }

    def read_phase(self, p: _Part, i: int, sink: ManifestParquetSink, tracer: Tracer) -> float:
        """The seeded read mix, each read forced by the full-row checksum.
        Expected states come from the log: ``read()`` is the state at the
        log's last gtid; the backlog is one trigger, so a snapshot at any
        gtid before the log's end is the snapshot state (gtid 0)."""
        r = self.results
        rng = np.random.default_rng([self.seed, i, len(p.spec.name)])
        timed = 0.0
        oracle = p.oracle
        for kind in rng.permutation(READ_MIX):
            if kind == "changelog":
                day = str(rng.choice(oracle.days))
                call, what = (lambda d=day: sink.read_changelog(d)), f"read_changelog({day})"
                cols, want = CHANGELOG_COLUMNS, (lambda d=day: oracle.changelog(d))
            else:
                if kind == "snapshot":
                    g, bound = int(rng.integers(1, p.end_gtid)), 0
                    call, what = (lambda g=g: sink.snapshot_as_of_gtid(g)), f"snapshot_as_of_gtid({g})"
                else:
                    call, what, bound = sink.read, "read()", p.end_gtid
                cols, want = table_columns(oracle.columns_at(bound)), (lambda b=bound: oracle.table(b))
            r.attempted += 1
            t = time.time()
            try:
                with tracer.span("read") as attrs:
                    df = call()
                    with tracer.span("read.scan"):
                        got = force(df, cols)
            except Exception as e:  # noqa: BLE001 - any raised read is a failed operation
                r.fail(f"{p.spec.name} iteration {i} {what}: {type(e).__name__}: {e}")
                continue
            dt = time.time() - t
            timed += dt
            r.read_s.append(dt)
            if tracer.enabled:
                attrs["files"] = len(df.inputFiles())
            self.expect(f"{p.spec.name} iteration {i} {what}", got, want)
        return timed


class ReplayPart(Workload):
    def generate(self) -> None:
        """Generate the log and write all of it."""
        self.binlog = os.path.join(self.work, "binlog")
        shutil.rmtree(self.binlog, ignore_errors=True)
        self.log = cdc_log(self.seed, n_files=1 + FILES_PER_TRIGGER, **REPLAY_LOG)
        self.oracle = _oracle(self.log)
        self.input_bytes = write_files(self.log, self.binlog, range(len(self.log.cuts) - 1), int(time.time()))
        self.end_gtid = int(pc.max(self.log.events["gtid_seq"]).as_py())
        self.oracle.table(self.end_gtid)

    def _replay(self, tracer: Tracer):
        cols = [(c, "string") for c in self.log.final_columns]
        out = replay_mod.replay_batch(read_binlog(self.spark, self.binlog), cols, impl="auto")
        with tracer.span("plans.replay.exec"):
            return force(out, table_columns(self.log.final_columns))

    def warm_up(self) -> None:
        """An untimed replay of the whole log."""
        self._replay(Tracer())

    def iteration(self, i: int, tracer: Tracer, reads: bool = True) -> float:
        """One forced replay of the whole log; its digest is checked
        against the oracle's table at the log's last gtid. Returns its wall."""
        r = self.results
        r.attempted += 1
        t = time.time()
        try:
            with tracer.span("replay"):
                got = self._replay(tracer)
        except Exception as e:  # noqa: BLE001 - any raised replay is a failed operation
            r.fail(f"replay {i}: {type(e).__name__}: {e}")
            return 0.0
        dt = time.time() - t
        r.applied("replay", self.log.n_row_events, dt, [dt])
        if tracer.enabled:
            self.trace_facts = {
                "input_bytes": self.input_bytes,
                "rows_in": self.log.n_row_events,
                "rows_out": got.rows,
            }
        self.expect(f"replay {i}", got, lambda: self.oracle.table(self.end_gtid))
        return dt


def _pairs(groups: list[list[int]]) -> set[tuple[int, int]]:
    return {pair for g in groups for pair in itertools.combinations(g, 2)}


class CuratePart(Workload):
    #: the ladder's steps, in order
    STEPS = ("exact", "simhash", "minhash", "components", "curate")

    def _write(self, c: Corpus, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(c.docs, os.path.join(path, "docs.parquet"))
        return path

    def generate(self) -> None:
        self.corpus = corpus(self.seed, **CORPUS)
        self.paths = [self._write(corpus(self.seed + 1, **COLD_CORPUS), "corpus-cold"),
                      self._write(self.corpus, "corpus")]

    def prepare(self) -> None:
        self.cold_docs, self.docs = (self.spark.read.parquet(p) for p in self.paths)

    def warm_up(self) -> None:
        """An untimed ladder pass over a small corpus, its chains run
        concurrently (their cold cost is mostly single-threaded plan
        compilation)."""
        self._ladder(self.cold_docs, Tracer(), concurrent=True)

    def _ladder(self, docs, tracer: Tracer, concurrent: bool = False) -> dict:
        """Each step called and its (small) output collected. The exact,
        the SimHash and the MinHash-to-curate chains are independent;
        ``concurrent`` runs them on a thread each."""
        out = {}

        def exact():
            with tracer.span("ladder.exact"):
                rows = dedup_mod.exact_dedup(docs).where(F.col("n_copies") > 1).collect()
                out["exact"] = {(int(x["canonical_id"]), int(x["n_copies"])) for x in rows}

        def simhash():
            with tracer.span("ladder.simhash"):
                rows = dedup_mod.simhash_pairs(docs).select("a_id", "b_id").collect()
                out["simhash"] = [(int(x[0]), int(x[1])) for x in rows]

        def near():
            with tracer.span("ladder.minhash"):
                pairs = dedup_mod.minhash_lsh_pairs(docs)
                rows = pairs.select("a_id", "b_id").collect()
                out["minhash"] = [(int(x[0]), int(x[1])) for x in rows]
            with tracer.span("ladder.components"):
                clusters = dedup_mod.connected_components(pairs)
                out["components"] = {int(x[0]): int(x[1]) for x in clusters.collect()}
            with tracer.span("ladder.curate"):
                rows = curate_mod.curate(docs, clusters=clusters).select("doc_id", "verdict").collect()
                out["curate"] = {int(x[0]): x[1] for x in rows}

        if concurrent:
            concurrently([exact, simhash, near])
        else:
            for chain in (exact, simhash, near):
                chain()
        return out

    def iteration(self, i: int, tracer: Tracer, reads: bool = True) -> float:
        """One ladder pass; its outputs are checked against the planted
        ground truth. Returns its wall."""
        r = self.results
        r.attempted += len(self.STEPS)
        t = time.time()
        try:
            with tracer.span("ladder"):
                out = self._ladder(self.docs, tracer)
        except Exception as e:  # noqa: BLE001 - any raised ladder call is a failed operation
            r.fail(f"ladder {i}: {type(e).__name__}: {e}")
            return 0.0
        dt = time.time() - t
        n_docs = self.corpus.docs.num_rows
        r.applied("curate", n_docs, dt, [dt])
        if tracer.enabled:
            self.trace_facts = {"pairs": len(out["minhash"]), "docs": n_docs}
        self._check_ladder(i, out)
        return dt

    def _check_ladder(self, i: int, out: dict) -> None:
        """Planted truth: exact groups are found exactly; a found pair lies
        inside one planted group; every exact pair and at least the recall
        floor of the near pairs are found; clusters stay inside a group and
        are named by their lowest id; 'dup' marks exactly the non-lowest
        copies of exact groups and 'near_dup' exactly the other non-root
        cluster members."""
        c = self.corpus
        group = {d: g for g, ids in enumerate(c.exact_groups + c.near_groups) for d in ids}
        exact_pairs, near_pairs = _pairs(c.exact_groups), _pairs(c.near_groups)
        self.expect(f"ladder {i} exact_dedup groups", out["exact"],
                    lambda: {(g[0], len(g)) for g in c.exact_groups})
        for step, floor in (("simhash", SIMHASH_RECALL), ("minhash", MINHASH_RECALL)):
            found = set(out[step])
            stray = sorted(p for p in found if group.get(p[0], -1) != group.get(p[1], -2))[:3]
            recall = len(found & near_pairs) / len(near_pairs)
            self.expect(
                f"ladder {i} {step}_pairs (stray pairs, exact pairs missed, near recall >= {floor})",
                (stray, len(exact_pairs - found), recall >= floor),
                lambda: ([], 0, True),
            )
        comp = out["components"]
        members: dict[int, list[int]] = {}
        for d, root in comp.items():
            members.setdefault(root, []).append(d)
        bad = sorted(root for root, ds in members.items()
                     if root != min(ds) or len({group.get(d, -1 - d) for d in ds}) != 1)[:3]
        self.expect(f"ladder {i} connected_components (bad clusters)", bad, lambda: [])
        verdict = out["curate"]
        dups = {d for g in c.exact_groups for d in g[1:]}
        self.expect(
            f"ladder {i} curate (docs, dup ids, near_dup ids)",
            (len(verdict), {d for d, v in verdict.items() if v == "dup"},
             {d for d, v in verdict.items() if v == "near_dup"}),
            lambda: (c.docs.num_rows, dups, {d for d, root in comp.items() if d != root} - dups),
        )


class BatchWorkload(Workload):
    """The replay, then the ladder: one iteration runs both, and their
    results, checks and trace facts are pooled."""

    name = "batch_backfill"
    #: Half the task slots of ``cdc_catchup``. Every pass here generates
    #: new classes that the JIT then compiles: the compilation MXBean
    #: counts 40-45 s of compile time in an 18-20 s timed pass at local[4]
    #: on four cores, about two compiler threads busy all along. Four task
    #: threads on top oversubscribe the cores, and the pass's wall follows
    #: the scheduler: in runs interleaved on a 4-vCPU host, throughput
    #: spread 0.15 over ten runs at local[2] and 0.22 over five at local[4].
    cores = 2

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [ReplayPart(*args), CuratePart(*args)]
        for p in self.parts:
            p.results, p._pending = self.results, self._pending

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self) -> None:
        for p in self.parts:
            p.spark = self.spark
            p.prepare()

    def warm_up(self) -> None:
        """The parts' warm-ups, concurrently (their cold costs are mostly
        single-threaded plan compilation)."""
        concurrently([p.warm_up for p in self.parts])

    def iteration(self, i: int, tracer: Tracer, reads: bool = True) -> float:
        timed = 0.0
        for p in self.parts:
            p.trace_facts = None
            timed += p.iteration(i, tracer, reads)
        if tracer.enabled:
            facts = [p.trace_facts for p in self.parts]
            self.trace_facts = None if None in facts else {k: v for f in facts for k, v in f.items()}
        return timed


WORKLOADS = {cls.name: cls for cls in (CdcWorkload, BatchWorkload)}


def make(name: str, spark, seed: int, work: str, triggers: TriggerLog) -> Workload:
    return WORKLOADS[name](spark, seed, work, triggers)
