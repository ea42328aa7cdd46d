"""The traced run: one iteration with wrapper spans, streaming progress
and the Spark event log, turned into per-layer metrics; then, for
``cdc_catchup``, the same iteration's drains at ``local[1]`` as a
single-core reference.

Layers are the engine's modules. Every layer time is wall-clock and
disjoint from the others (span self times, listener phases outside
``addBatch``, stage intervals inside the merge span), so
``unattributed_s`` is the traced wall minus their sum. The collapse is
lazy and executes inside ``merge()``; only the stages, not the wrappers,
split it from the write: the stages that run the Python kernel, with the
stages feeding their exchange, are the collapse, every other stage of
the merge is the write.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from sparkctl import start_spark
from tracing import (
    EventLog,
    Tracer,
    TriggerLog,
    python_stages,
    self_times,
    task_skew,
    union_length,
    with_feeding_stages,
)

from mysql_time_machine_spark.fsio import MetaFS
from mysql_time_machine_spark.operators import curate as curate_mod
from mysql_time_machine_spark.operators import dedup as dedup_mod
from mysql_time_machine_spark.plans import replay as replay_mod
from mysql_time_machine_spark.registry import SchemaRegistry
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming.job import ApplyJob
from mysql_time_machine_spark.streaming.txn_store import TxnPendingStore

FSIO_METHODS = (
    "exists", "isdir", "getmtime", "makedirs", "listdir", "read_text",
    "write_text_atomic", "replace", "remove", "remove_if_exists", "rmdir", "rmtree",
)
SINK_READS = ("read", "snapshot_as_of_gtid", "read_changelog")
DEDUP_CALLS = ("exact_dedup", "simhash_pairs", "minhash_lsh_pairs", "connected_components")
#: the benchmark's own spans around the timed operations
ROOTS = {"drain", "read", "replay", "ladder"}
#: span name prefixes that are layer time (the rest of a root is unattributed)
LAYER_PREFIXES = ("streaming", "registry", "sinks", "fsio", "plans", "trace", "ladder", "operators")

CDC, BATCH = "cdc_catchup", "batch_backfill"
COW, MOR = f"{CDC} (cow part)", f"{CDC} (mor part)"
REPLAY, CURATE = f"{BATCH} (replay part)", f"{BATCH} (curate part)"
LATENCY, THROUGHPUT, READS = "latency_p50_s", "throughput_per_s", "read latency (report)"

#: per-layer metrics, in report order: name -> (unit, better, the
#: end-to-end metric it should move and on which workload)
LAYERS = {
    "sources.offset_s": ("s", "lower", f"{LATENCY} on {CDC}"),
    # Spark's numInputRows: rows the micro-batch scans read, so a batch
    # that the epoch scans twice counts twice
    "sources.input_rows": ("count", "higher", f"{LATENCY} on {CDC}"),
    "sources.input_bytes": ("B", "lower", "none: bytes of the backlog files offered to the source"),
    "streaming.job.self_s": ("s", "lower", f"{LATENCY} on {CDC}"),
    "streaming.job.stats_agg_s": ("s", "lower", f"{LATENCY} on {CDC}"),
    "streaming.job.ddl_collect_s": ("s", "lower", f"{LATENCY} on {COW}"),
    "streaming.planning_s": ("s", "lower", f"{LATENCY} on {CDC}"),
    "streaming.checkpoint_s": ("s", "lower", f"{LATENCY} on {CDC}"),
    "streaming.txn_store.resolve_s": ("s", "lower", f"{THROUGHPUT}, {LATENCY} on {MOR} (off on the cow part)"),
    "streaming.txn_store.pending_rows": ("count", "lower", f"{THROUGHPUT} on {MOR}"),
    "registry.ddl_applied": ("count", "higher", f"none: confirms the DDL path ran on {COW}"),
    "operators.reassemble.collapse_s": ("s", "lower", f"{THROUGHPUT} on {CDC}, {REPLAY}"),
    "operators.reassemble.rows_in": ("count", "higher", f"{THROUGHPUT} on {CDC}, {REPLAY}"),
    "operators.reassemble.rows_out": ("count", "lower", f"{THROUGHPUT} on {CDC}, {REPLAY}"),
    "operators.reassemble.shuffle_bytes": ("B", "lower", f"{THROUGHPUT}, peak_rss_mb on {MOR}, {REPLAY}"),
    "operators.reassemble.python_bytes": ("B", "lower", f"{THROUGHPUT} on {CDC}"),
    "operators.reassemble.task_skew": ("ratio", "lower", f"{LATENCY}, peak_rss_mb on {MOR}"),
    "sinks.manifest.merge_s": ("s", "lower", f"{THROUGHPUT}, {LATENCY} on {COW}"),
    "sinks.manifest.write_s": ("s", "lower", f"{THROUGHPUT}, {LATENCY} on {COW}"),
    "sinks.manifest.old_read_bytes": ("B", "lower", f"{THROUGHPUT} on {COW}"),
    "sinks.manifest.bytes_written": ("B", "lower", f"sink bytes per event (report) on {CDC}"),
    "sinks.manifest.files_written": ("count", "lower", f"sink bytes per event (report) on {CDC}"),
    "sinks.manifest.changelog_bytes": ("B", "lower", f"sink bytes per event (report) on {CDC}"),
    "sinks.manifest.buckets_touched": ("count", "lower", f"{THROUGHPUT} on {COW}"),
    "sinks.manifest.read_call_s": ("s", "lower", f"{READS} on {MOR} (plain scan on the cow part)"),
    "sinks.manifest.read_scan_s": ("s", "lower", f"{READS} on {MOR} (plain scan on the cow part)"),
    "sinks.manifest.read_files": ("count", "lower", f"{READS} on {CDC}"),
    "sinks.manifest.manifests_read": ("count", "lower", f"{READS} on {CDC}"),
    "sinks.manifest.resolve_shuffle_bytes": ("B", "lower", f"{READS} on {MOR}"),
    "plans.replay.plan_s": ("s", "lower", f"{THROUGHPUT} on {REPLAY}"),
    "plans.replay.exec_s": ("s", "lower", f"{THROUGHPUT} on {REPLAY}"),
    "plans.replay.shuffle_bytes": ("B", "lower", f"{THROUGHPUT} on {REPLAY}"),
    "plans.replay.spill_bytes": ("B", "lower", f"{THROUGHPUT}, peak_rss_mb on {REPLAY}"),
    "operators.dedup.exact_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    "operators.dedup.simhash_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    "operators.dedup.minhash_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    "operators.dedup.components_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    "operators.curate.verdict_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    # rows out of the largest join of the MinHash call: its banded
    # candidate self-join, before the distinct and the verification
    "operators.dedup.candidates": ("count", "lower", f"{THROUGHPUT} on {CURATE}"),
    "operators.dedup.pairs": ("count", "higher", f"none: verified MinHash pairs on {CURATE}"),
    "operators.dedup.driver_s": ("s", "lower", f"{THROUGHPUT} on {CURATE}"),
    "fsio.ops": ("count", "lower", f"{LATENCY}, {READS} on {CDC}"),
    "fsio.busy_s": ("s", "lower", f"{LATENCY}, {READS} on {CDC}"),
    "spark.gc_s": ("s", "lower", "every metric, every workload"),
    "spark.spill_bytes": ("B", "lower", "every metric, every workload"),
    "unattributed_s": ("s", "lower", "every metric, every workload"),
    "trace.wall_s": ("s", "lower", "the traced iteration's timed wall"),
    "trace.overhead": ("ratio", "lower", "traced wall over the next untraced one, minus 1"),
}
LAYER_METRICS = {k: v[0] for k, v in LAYERS.items()}


def _pending_rows(attrs: dict, result, args) -> None:
    store, batch, epoch_id = args[0], args[1], args[2]
    files = store.pending_fragments(batch.sparkSession, epoch_id).inputFiles()
    attrs["pending_rows"] = sum(
        pq.read_metadata(f.removeprefix("file:")).num_rows for f in files
    )


def install(tracer: Tracer) -> None:
    tracer.wrap(
        ApplyJob, "process_batch", "streaming.job.process_batch",
        trace_of=lambda args: f"epoch-{args[2]}",
    )
    tracer.wrap(TxnPendingStore, "resolve", "streaming.txn_store.resolve", _pending_rows)
    tracer.wrap(
        SchemaRegistry, "apply_ddl", "registry.apply_ddl",
        lambda attrs, result, args: attrs.__setitem__("applied", bool(result)),
    )
    tracer.wrap(ManifestParquetSink, "merge", "sinks.manifest.merge")
    for m in SINK_READS:
        tracer.wrap(ManifestParquetSink, m, f"sinks.manifest.{m}")
    for m in FSIO_METHODS:
        tracer.wrap(MetaFS, m, f"fsio.{m}")
    tracer.wrap(replay_mod, "replay_batch", "plans.replay.replay_batch")
    for f in DEDUP_CALLS:
        tracer.wrap(dedup_mod, f, f"operators.dedup.{f}")
    tracer.wrap(curate_mod, "curate", "operators.curate.curate")


def traced_iteration(w, tracer: Tracer, i: int, reads: bool) -> float:
    w.trace_facts = None
    install(tracer)
    tracer.enabled = True
    tracer.trace_id = f"{w.name}/{i}"
    try:
        return w.iteration(i, tracer, reads=reads)
    finally:
        tracer.enabled = False
        tracer.uninstall()


def _ancestor(spans, i: int, names: set[str]) -> int:
    p = spans[i].parent
    while p >= 0:
        if spans[p].name in names:
            return p
        p = spans[p].parent
    return -1


def layer_metrics(tracer: Tracer, progress: list[dict], elog: EventLog, facts: dict) -> dict:
    """name -> (value, unit, samples)."""
    spans = tracer.spans
    selfs = self_times(spans)
    roots = [k for k, s in enumerate(spans) if s.name in ROOTS]
    wall = sum(spans[k].dur for k in roots)
    inside = [k for k in range(len(spans)) if _ancestor(spans, k, ROOTS) >= 0]
    lo = min(spans[k].start for k in roots)
    hi = max(spans[k].end for k in roots)
    out: dict[str, tuple[float, str, int]] = {}

    def put(name, value, n):
        out[name] = (float(value), LAYER_METRICS[name], int(n))

    def named(prefix):
        return [k for k in inside if spans[k].name.startswith(prefix)]

    # -- streaming progress (outside addBatch) ---------------------------------
    epochs = [p for p in progress if p["input_rows"] > 0]
    dm = [p["duration_ms"] for p in epochs]
    offset = sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dm) / 1e3
    planning = sum(d.get("queryPlanning", 0) for d in dm) / 1e3
    checkpoint = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm) / 1e3
    put("sources.offset_s", offset, len(dm))
    put("sources.input_rows", sum(p["input_rows"] for p in epochs), len(dm))
    put("sources.input_bytes", facts.get("input_bytes", 0), int("input_bytes" in facts))

    pb = named("streaming.job.process_batch")
    pb_iv = [(spans[k].start, spans[k].end) for k in pb]
    put("streaming.job.self_s", sum(selfs[k] for k in pb), len(pb))
    for name, desc in (("streaming.job.stats_agg_s", "mtm:stats-agg"),
                       ("streaming.job.ddl_collect_s", "mtm:ddl-collect")):
        iv = [x for s, e in pb_iv for x in elog.job_intervals(s, e, desc)]
        put(name, union_length(iv), len(iv))
    put("streaming.planning_s", planning, len(dm))
    put("streaming.checkpoint_s", checkpoint, len(dm))

    rs = named("streaming.txn_store.resolve")
    put("streaming.txn_store.resolve_s", sum(spans[k].dur for k in rs), len(rs))
    put("streaming.txn_store.pending_rows", sum(spans[k].attrs.get("pending_rows", 0) for k in rs), len(rs))
    ddl = named("registry.apply_ddl")
    put("registry.ddl_applied", sum(1 for k in ddl if spans[k].attrs.get("applied")), len(ddl))

    # -- collapse vs write inside merge() ------------------------------------------
    merges = named("sinks.manifest.merge")
    m_iv = [(spans[k].start, spans[k].end) for k in merges]
    m_stages = [st for s, e in m_iv for st in elog.stages_within(s, e)]
    py = python_stages(m_stages)
    m_collapse = with_feeding_stages(py, m_stages)
    # batch replay: collapse, materialize and the checksum are one plan
    execs = named("plans.replay.exec")
    x_stages = [st for k in execs for st in elog.stages_within(spans[k].start, spans[k].end)]
    collapse = m_collapse + x_stages
    c_iv = [(st.start, st.end) for st in collapse]
    all_iv = [(st.start, st.end) for st in m_stages]
    collapse_s = union_length(c_iv)
    put("operators.reassemble.collapse_s", collapse_s, len(collapse))
    put("operators.reassemble.rows_in", facts.get("rows_in", 0), len(merges) + len(execs))
    put("operators.reassemble.rows_out", facts.get("rows_out", 0), len(merges) + len(execs))
    put("operators.reassemble.shuffle_bytes",
        sum(t["shuffle_read"] for st in py + x_stages for t in st.tasks), len(py) + len(x_stages))
    put("operators.reassemble.python_bytes",
        sum(sum(t["acc"].values()) for st in py for t in st.tasks), len(py))
    put("operators.reassemble.task_skew",
        max([task_skew(st) for st in py + x_stages] or [1.0]), len(py) + len(x_stages))

    put("sinks.manifest.merge_s", sum(spans[k].dur for k in merges), len(merges))
    put("sinks.manifest.write_s",
        union_length(all_iv) - union_length([(st.start, st.end) for st in m_collapse]),
        len(m_stages) - len(m_collapse))
    for key in ("old_read_bytes", "bytes_written", "files_written", "changelog_bytes", "buckets_touched"):
        put(f"sinks.manifest.{key}", facts.get(key, 0), len(merges))

    # -- reads ---------------------------------------------------------------------------
    reads = [k for k in inside if spans[k].name.startswith("sinks.manifest.")
             and spans[k].name.split(".")[-1] in SINK_READS
             and _ancestor(spans, k, {f"sinks.manifest.{m}" for m in SINK_READS}) < 0]
    read_names = {f"sinks.manifest.{m}" for m in SINK_READS}
    scans = named("read.scan")
    put("sinks.manifest.read_call_s", sum(spans[k].dur for k in reads), len(reads))
    put("sinks.manifest.read_scan_s", sum(spans[k].dur for k in scans), len(scans))
    put("sinks.manifest.read_files",
        sum(spans[k].attrs.get("files", 0) for k in roots if spans[k].name == "read"), len(scans))
    put("sinks.manifest.manifests_read",
        sum(1 for k in named("fsio.read_text") if _ancestor(spans, k, read_names) >= 0), len(reads))
    scan_stages = [st for k in scans for st in elog.stages_within(spans[k].start, spans[k].end)]
    put("sinks.manifest.resolve_shuffle_bytes",
        sum(t["shuffle_read"] for st in scan_stages for t in st.tasks), len(scan_stages))

    # -- batch replay -----------------------------------------------------------------------
    plans = named("plans.replay.replay_batch")
    put("plans.replay.plan_s", sum(spans[k].dur for k in plans), len(plans))
    put("plans.replay.exec_s", sum(spans[k].dur for k in execs), len(execs))
    put("plans.replay.shuffle_bytes",
        sum(t["shuffle_read"] for st in x_stages for t in st.tasks), len(x_stages))
    put("plans.replay.spill_bytes", sum(t["spill"] for st in x_stages for t in st.tasks), len(x_stages))

    # -- dedup ladder ------------------------------------------------------------------------
    steps = {step: named(f"ladder.{step}") for step in ("exact", "simhash", "minhash", "components", "curate")}
    for step, metric in (("exact", "operators.dedup.exact_s"), ("simhash", "operators.dedup.simhash_s"),
                         ("minhash", "operators.dedup.minhash_s"),
                         ("components", "operators.dedup.components_s"),
                         ("curate", "operators.curate.verdict_s")):
        put(metric, sum(spans[k].dur for k in steps[step]), len(steps[step]))
    joins = [n for k in steps["minhash"] for n in elog.join_output_rows(spans[k].start, spans[k].end)]
    put("operators.dedup.candidates", max(joins, default=0), len(joins))
    put("operators.dedup.pairs", facts.get("pairs", 0), len(steps["minhash"]))
    ladder = [k for ks in steps.values() for k in ks]
    put("operators.dedup.driver_s",
        sum(spans[k].dur - union_length(elog.job_intervals(spans[k].start, spans[k].end)) for k in ladder),
        len(ladder))

    # -- metadata IO, whole process --------------------------------------------------------------
    fs_top = [k for k in named("fsio.") if not spans[spans[k].parent].name.startswith("fsio.")]
    put("fsio.ops", len(fs_top), len(fs_top))
    put("fsio.busy_s", sum(spans[k].dur for k in fs_top), len(fs_top))
    window = elog.stages_within(lo, hi)
    put("spark.gc_s", sum(t["gc"] for st in window for t in st.tasks), len(window))
    put("spark.spill_bytes", sum(t["spill"] for st in window for t in st.tasks), len(window))

    layer_self = sum(
        selfs[k] for k in inside
        if spans[k].name.split(".")[0] in LAYER_PREFIXES or spans[k].name == "read.scan"
    )
    put("unattributed_s", wall - layer_self - offset - planning - checkpoint, len(roots))
    put("trace.wall_s", wall, len(roots))
    return out


def _event_log(path: str) -> EventLog:
    (app,) = os.listdir(path)  # one application per session
    return EventLog(os.path.join(path, app))


def _zeros() -> dict:
    return {k: (0.0, u, 0) for k, u in LAYER_METRICS.items()}


def _layers(w, tracer: Tracer, event_log: str) -> dict:
    """Stop the session (which closes its event log) and compute the
    per-layer metrics of the traced iteration."""
    w.spark.stop()
    if w.trace_facts is None:
        return _zeros()  # the traced operation failed; counted in ``failed``
    return layer_metrics(tracer, w.trace_progress, _event_log(event_log), w.trace_facts)


def traced_run(w, work: str, spans_path: str) -> dict:
    """Traced iteration 0 in the running (event-logged) session, untraced
    iteration 1, then, for ``cdc_catchup``, the traced iteration's drains
    at ``local[1]``. The tracing overhead compares the traced wall with
    the untraced one after it; that one runs warmer, so the figure is an
    upper bound. Prints both per-layer tables and writes the spans to
    ``spans_path``; returns the multi-core table."""
    tracer = Tracer()
    wall = traced_iteration(w, tracer, 0, reads=True)
    master = w.spark.sparkContext.master
    tracer.dump(spans_path, master=master)
    untraced = w.iteration(1, Tracer())
    multi = _layers(w, tracer, os.path.join(work, "eventlog"))
    multi["trace.overhead"] = (wall / untraced - 1.0 if untraced else 0.0, "ratio", 1)
    if w.name != CDC:
        print_layers(multi, {}, master)
        return multi

    ev1 = os.path.join(work, "eventlog-local1")
    w.spark = start_spark(work, "local[1]", ev1)
    w.triggers = TriggerLog()
    w.spark.streams.addListener(w.triggers)
    tracer = Tracer()
    traced_iteration(w, tracer, 2, reads=False)
    tracer.dump(spans_path, master="local[1]")
    single = _layers(w, tracer, ev1)
    print_layers(multi, single, master)
    return multi


def print_layers(multi: dict, single: dict, master: str) -> None:
    print(f"per-layer metrics of the traced iteration (local[1]: the same drains, {CDC} only):")
    print(f"  {'metric':<38} {'unit':<6} {master + ' (n)':>23} {'local[1] (n)':>23}  should move")
    for k, (unit, _better, moves) in LAYERS.items():
        v4, _, n4 = multi[k]
        v1, _, n1 = single.get(k, (0.0, unit, 0))
        print(f"  {k:<38} {unit:<6} {v4:>17.4f} ({n4:>3}) {v1:>17.4f} ({n1:>3})  {moves}")
    rin, rout = multi["operators.reassemble.rows_in"][0], multi["operators.reassemble.rows_out"][0]
    ratio = rout / rin if rin else float("nan")
    print(f"  collapse factor rows_out/rows_in = {ratio:.4f} ({rout:.0f} / {rin:.0f})")
    cand, pairs = multi["operators.dedup.candidates"][0], multi["operators.dedup.pairs"][0]
    ratio = pairs / cand if cand else float("nan")
    print(f"  useful candidate ratio pairs/candidates = {ratio:.4f} ({pairs:.0f} / {cand:.0f})")
