"""Tests of the benchmark's own machinery (not of the engine).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402

SMALL = dict(n_keys=50, n_events=400, n_files=5, ddl_at=(0.3, 0.6), partial_updates=True, txn_rows=(2, 5))


# -- generator -----------------------------------------------------------------------


def test_same_seed_same_log_hash():
    assert gen.cdc_log(7, **SMALL).log_hash() == gen.cdc_log(7, **SMALL).log_hash()


def test_different_seed_different_log():
    assert gen.cdc_log(7, **SMALL).log_hash() != gen.cdc_log(8, **SMALL).log_hash()


def _txn_files(log: gen.CdcLog) -> dict[int, set[int]]:
    file_of = np.searchsorted(np.array(log.cuts[1:]), np.arange(len(log.events)), side="right")
    out: dict[int, set[int]] = {}
    for t, f in zip(log.events["txn_id"].to_pylist(), file_of):
        if t >= 0:
            out.setdefault(t, set()).add(int(f))
    return out


def test_txn_atomic_files_never_split_a_transaction():
    log = gen.cdc_log(3, **SMALL)
    assert all(len(files) == 1 for files in _txn_files(log).values())


def test_straddling_files_split_transactions():
    log = gen.cdc_log(3, straddle=True, **SMALL)
    assert any(len(files) > 1 for files in _txn_files(log).values())


def test_log_shape():
    log = gen.cdc_log(5, zipf_alpha=2.0, **SMALL)
    ev = log.events
    ops = ev["op"].to_pylist()
    assert ops.count("DDL") == 2
    assert ops.count("BEGIN") == ops.count("COMMIT") > 0
    assert log.n_row_events == sum(o in ("I", "U", "D") for o in ops)
    # deletes carry no image, inserts and updates do
    for op, after in zip(ops, ev["after"].to_pylist()):
        if op == "D":
            assert after is None
        elif op in ("I", "U"):
            assert after
    # the hottest key only ever receives updates after its snapshot insert
    hot = pc.equal(ev["path"], "src/f0.py")
    assert set(ev.filter(hot)["op"].to_pylist()) == {"I", "U"}
    assert ev.filter(hot)["op"].to_pylist().count("I") == 1
    # gtid order is log order
    g = ev["gtid_seq"].to_numpy()
    assert (np.diff(g) >= 0).all()


CORPUS = dict(n_base=200, n_exact=20, n_near=30)


def test_corpus_same_seed_same_hash_different_seed_different_hash():
    assert gen.corpus(4, **CORPUS).corpus_hash() == gen.corpus(4, **CORPUS).corpus_hash()
    assert gen.corpus(4, **CORPUS).corpus_hash() != gen.corpus(5, **CORPUS).corpus_hash()


def test_corpus_plants_exact_and_one_word_near_duplicates():
    c = gen.corpus(6, **CORPUS)
    text = dict(zip(c.docs["doc_id"].to_pylist(), c.docs["text"].to_pylist()))
    assert sorted(text) == list(range(len(text)))
    assert len(c.exact_groups) == 20 and len(c.near_groups) == 30
    planted = [d for g in c.exact_groups + c.near_groups for d in g]
    assert len(planted) == len(set(planted))  # groups are disjoint
    for g in c.exact_groups:
        assert len(g) >= 2 and len({text[d] for d in g}) == 1
    for g in c.near_groups:
        words = [text[d].split() for d in g]
        assert len(g) >= 2 and len(set(map(tuple, words))) == len(g)
        for w in words[1:]:
            assert len(w) == len(words[0])
        # every copy differs from the group's base in exactly one word
        base = max(words, key=lambda w: sum(
            sum(a != b for a, b in zip(w, o)) == 1 for o in words if o is not w))
        assert all(sum(a != b for a, b in zip(w, base)) == 1 for w in words if w is not base)
    # outside the planted groups every text is distinct
    assert len(set(text.values())) == len(text) - sum(len(g) - 1 for g in c.exact_groups)


# -- tail rule -----------------------------------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(1, 20))) is None  # p50 of 19 leaves 9 beyond
    assert stats.tail(list(range(1, 21))) == (50.0, 10)
    assert stats.tail(list(range(1, 101))) == (90.0, 90)
    assert stats.tail(list(range(1, 1001))) == (99.0, 990)
    assert stats.tail(list(range(1, 10_001))) == (99.9, 9990)


def test_tail_ignores_input_order():
    vals = [float(v) for v in np.random.default_rng(0).permutation(200)]
    pct, v = stats.tail(vals)
    assert pct == 95.0 and sum(x > v for x in vals) >= 10


# -- self time -----------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("a", 0.0, 10.0, -1, "t"),
        Span("b", 1.0, 4.0, 0, "t"),
        Span("c", 3.0, 6.0, 0, "t"),  # overlaps b: counted once
        Span("d", 2.0, 3.0, 1, "t"),  # grandchild: only b's self time shrinks
        Span("e", 9.0, 12.0, 0, "t"),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])


def test_tracer_nests_spans_and_restores_wrapped_methods():
    now = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(now)))

    class Thing:
        def work(self, x):
            with tracer.span("inner"):
                return x + 1

    orig = Thing.work
    tracer.wrap(
        Thing, "work", "outer",
        on_exit=lambda attrs, res, args: attrs.update(res=res),
        trace_of=lambda args: f"epoch-{args[1]}",
    )
    tracer.enabled = True
    tracer.trace_id = "w/0"
    assert Thing().work(1) == 2
    tracer.enabled = False
    assert Thing().work(1) == 2  # disabled: no spans
    tracer.uninstall()
    assert Thing.work is orig
    names = [s.name for s in tracer.spans]
    assert names == ["outer", "inner", "trace.probe"]
    outer, inner, probe = tracer.spans
    assert inner.parent == 0 and outer.parent == -1 and probe.parent == -1
    assert outer.attrs == {"res": 2}
    assert (outer.trace, inner.trace, probe.trace) == ("w/0/epoch-1", "w/0/epoch-1", "w/0")
    assert tracer.trace_id == "w/0"
    assert self_times(tracer.spans)[0] == pytest.approx(outer.dur - inner.dur)


def test_tracer_dump_writes_one_json_line_per_span(tmp_path):
    tracer = Tracer(clock=iter(range(10)).__next__)
    tracer.enabled = True
    with tracer.span("a", files=3):
        with tracer.span("b"):
            pass
    path = tmp_path / "spans.jsonl"
    tracer.dump(str(path), master="local[4]")
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [(r["id"], r["name"], r["parent"], r["master"]) for r in rows] == [
        (0, "a", -1, "local[4]"), (1, "b", 0, "local[4]")
    ]
    assert rows[0]["attrs"] == {"files": 3}


# -- metric names --------------------------------------------------------------------


@pytest.mark.parametrize("name", ["setup_s", "sinks.manifest.merge_s", "fsio.ops", "a-b.c_d"])
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)


def test_every_declared_metric_name_is_valid():
    from layers import LAYER_METRICS
    from run import END_TO_END, WORKLOADS
    from workloads import WHY

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(stats.valid_metric_name(n) for n in declared)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(LAYER_METRICS)
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == list(WHY.items())
    assert set(WORKLOADS) == set(WHY)
