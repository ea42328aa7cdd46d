"""Seeded benchmark of the mysql_time_machine_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 3 --trace 0

Workloads (``workloads.WHY`` says why each exists): ``cdc_catchup`` and
``batch_backfill``.

One process, one Spark session at ``local[min(cores, nproc)]`` (``cores`` is
4 for ``cdc_catchup`` and 2 for ``batch_backfill``, see ``workloads``), one
client.
The run generates its inputs from ``--seed``; sets up (session start,
with input generation and file writes alongside it, then an untimed
warm-up); then loops
closed-loop iterations until ``--seconds`` of timed work are done, and
checks every output against an independent reference. It prints a
report and, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` sets up the
same way with the Spark event log on, then runs one traced iteration
(wrapper spans, streaming progress, event log), one untraced iteration
to compare it with and, for ``cdc_catchup``, the traced iteration's
drains at ``local[1]`` as a single-core reference; it reports the
per-layer metrics of the multi-core traced iteration and writes its
spans to ``perfbench-spans-<workload>-<seed>.jsonl`` in the current
directory.

Exit status: 0 when every operation succeeded and every check passed,
1 when any failed, 2 when the engine cannot be imported or the
arguments are invalid. All files are written under ``.perfbench_work/``
in the current directory and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_catchup", "batch_backfill")

#: end-to-end metrics: name -> unit. An item is a row event applied or
#: replayed, or a document through the ladder; a unit of latency is a
#: trigger, a forced replay or a ladder pass.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "items/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

#: per-part figures the report prints besides: part -> (rate, unit, latency)
PART_METRICS = {
    "cow": ("events_per_s", "events/s", "epoch"),
    "mor": ("events_per_s", "events/s", "epoch"),
    "replay": ("events_per_s", "events/s", "replay"),
    "curate": ("docs_per_s", "docs/s", "ladder"),
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def run(args: argparse.Namespace, work: str):
    import workloads
    from sparkctl import master_for_host, shutdown_jvm, start_spark
    from stats import PeakRss
    from tracing import TriggerLog

    rss = PeakRss()
    t0 = time.time()
    triggers = TriggerLog()
    w = workloads.make(args.workload, None, args.seed, work, triggers)
    # input generation needs no session: it runs while the JVM starts
    gen_error: list[BaseException] = []
    gen_s: list[float] = []

    def generate():
        try:
            w.generate()
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            gen_error.append(e)
        gen_s.append(time.time() - t0)

    gen = threading.Thread(target=generate, name="generate")
    gen.start()
    master = master_for_host(w.cores)
    try:
        w.spark = start_spark(work, master, os.path.join(work, "eventlog") if args.trace else None)
        w.spark.streams.addListener(triggers)
        session_s = time.time() - t0
        gen.join()
        if gen_error:
            raise gen_error[0]
        return _measure(args, work, w, master, t0, rss, session_s, gen_s[0])
    finally:
        gen.join()
        rss.close()
        shutdown_jvm()


def _measure(args, work: str, w, master: str, t0: float, rss, session_s: float, generate_s: float):
    from stats import describe
    from tracing import Tracer

    w.prepare()
    t = time.time()
    w.warm_up()
    warm_s = time.time() - t
    setup_s = time.time() - t0

    r = w.results
    res = {
        "master": master,
        "session_s": session_s,
        "generate_s": generate_s,
        "warm_up_s": warm_s,
        "setup_s": setup_s,
    }
    if args.trace:
        from layers import traced_run

        spans = os.path.join(os.getcwd(), f"perfbench-spans-{args.workload}-{args.seed}.jsonl")
        if os.path.exists(spans):
            os.remove(spans)
        res["layers"] = traced_run(w, work, spans)
        res["spans"] = spans
        w.check()
        return res, r

    rss.arm()
    timed, iter_s = 0.0, []
    while timed < args.seconds:
        dt = w.iteration(len(iter_s), Tracer())
        iter_s.append(dt)
        timed += dt
        if dt == 0.0:
            break  # the iteration failed before timing anything
    peak = rss.disarm()
    w.check()
    w.spark.stop()
    res.update({
        "timed_s": timed,
        "iterations": len(iter_s),
        "unit": describe(r.unit_s),
        "read": describe(r.read_s),
        "e2e": {
            "setup_s": setup_s,
            "throughput_per_s": r.items / sum(r.apply_wall_s) if r.apply_wall_s else 0.0,
            "latency_p50_s": statistics.median(r.unit_s) if r.unit_s else 0.0,
            "peak_rss_mb": peak / 2**20,
        },
        "sink_bytes_per_event": r.sink_bytes / r.items if r.items else 0.0,
    })
    return res, r


def _tail_text(d: dict) -> str:
    if "tail" in d:
        return f"{d['tail']:.4f} s at p{d['tail_pct']:g} (n={d['n']})"
    return f"n/a: the rule needs at least 20 samples (n={d['n']})"


def report(args, res: dict, r) -> None:
    p = print
    wl = args.workload
    p(f"workload {wl}  seed {args.seed}  master {res['master']}  nproc {os.cpu_count()}")
    p(
        f"set-up: {res['setup_s']:.2f} s: session start {res['session_s']:.2f} s "
        f"(input generation alongside, done at {res['generate_s']:.2f} s), then warm-up "
        f"{res['warm_up_s']:.2f} s"
    )
    if "spans" in res:
        p(f"spans written to {res['spans']}")
    else:
        p(f"timed: {res['timed_s']:.2f} s over {res['iterations']} iterations")
        p("end-to-end metrics:")
        for k, unit in END_TO_END.items():
            p(f"  {k:<24} {res['e2e'][k]:>14.4f} {unit}")
        unit = "epoch" if wl == "cdc_catchup" else "replay_or_ladder"
        p(f"  {unit + '_latency_tail_s':<24} {_tail_text(res['unit'])}")
        for part, (items, wall, units) in r.parts.items():
            rate, rate_unit, what = PART_METRICS[part]
            p(f"  {f'{rate} ({part})':<24} {items / wall:>14.4f} {rate_unit}")
            p(f"  {f'{what}_latency_p50_s ({part})':<24} {statistics.median(units):>14.4f} s (n={len(units)})")
        if wl == "cdc_catchup":
            p(f"  {'read_latency_p50_s':<24} {res['read'].get('p50', float('nan')):>14.4f} s (n={res['read']['n']})")
            p(f"  {'read_latency_tail_s':<24} {_tail_text(res['read'])}")
            p(f"  {'sink_bytes_per_event':<24} {res['sink_bytes_per_event']:>14.4f} B/event")
    err = r.failed / r.attempted if r.attempted else 1.0
    p(f"  {'error_rate':<24} {err:>14.4f} ratio ({r.failed} of {r.attempted} operations)")
    for f in r.failures:
        p(f"  FAILED: {f}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        sys.path[:0] = [HERE, ROOT]
        from sparkctl import prepare_environment

        prepare_environment(work)
        try:
            import fixtures.oracle  # noqa: F401
            import mysql_time_machine_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        res, r = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    report(args, res, r)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}
        )
    )
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
