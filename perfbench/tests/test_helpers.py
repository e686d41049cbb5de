"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402
import measure  # noqa: E402
from model import CorpusModel  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = measure.tail(xs)
    assert n == 100
    assert value == 90 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_uses_rank_not_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    value, pct, n = measure.tail(xs)
    assert (value, n) == (2.0, 12)
    assert pct == pytest.approx(100 * 2 / 12)
    assert sum(x > value for x in xs) == 10


def test_tail_with_too_few_samples_is_the_max():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert measure.tail([]) == (0.0, 0.0, 0)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_merged_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps child 1: covered 1..5
        _span(3, 0, 8.0, 12.0),  # clipped to the parent: 8..10
        _span(4, 1, 2.0, 3.0),  # grandchild: only counts against span 1
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length():
    assert measure.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4


def test_tracer_off_records_nothing():
    t = measure.Tracer(False, "r")
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


def test_tracer_records_parents_and_run_id():
    t = measure.Tracer(True, "r7")
    with t.span("op"):
        with t.span("io.append_dataset"):
            pass
    op, child = t.spans
    assert child["parent"] == op["id"] and op["parent"] is None
    assert {op["run"], child["run"]} == {"r7"}
    assert op["start"] <= child["start"] <= child["end"] <= op["end"]
    assert t.descendants(op["id"]) == [child]


def test_tree_diff_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 20)
    before = measure.tree_snapshot(str(tmp_path))
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "c").write_bytes(b"z" * 7)
    (tmp_path / "a").write_bytes(b"x" * 11)  # rewritten in place
    os.remove(tmp_path / "b")
    d = measure.tree_diff(before, measure.tree_snapshot(str(tmp_path)))
    assert d == {"files_created": 2, "bytes_created": 18, "files_removed": 1}
    assert measure.tree_bytes(str(tmp_path)) == 18
    assert measure.tree_snapshot(str(tmp_path / "missing")) == {}


def test_parse_metric_formats():
    assert measure.parse_metric("20,000") == 20000
    assert measure.parse_metric("707 ms") == pytest.approx(0.707)
    assert measure.parse_metric("80.5 KiB") == pytest.approx(80.5 * 1024)
    agg = "total (min, med, max (stageId: taskId))\n1.2 s (1 ms, 2 ms, 3 ms)"
    assert measure.parse_metric(agg) == pytest.approx(1.2)


def test_corpus_model_versions_and_lookups():
    m = CorpusModel()
    m.append([(1, 0.1), (2, 0.2)])
    m.commit(1)
    m.upsert([(2, 0.5), (3, 0.3)])
    m.delete([1, 99])
    m.commit(2)
    assert m.at(1) == {1: 0.1, 2: 0.2}
    assert m.live == m.at(2) == {2: 0.5, 3: 0.3}
    assert m.lookup([1, 2, 4]) == {2: 0.5}
    assert m.lookup([1, 2], version=1) == {1: 0.1, 2: 0.2}
    with pytest.raises(ValueError):
        m.append([(2, 0.9)])  # appending a live key is a model error
    with pytest.raises(ValueError):
        m.commit(1)  # versions only move forward


def test_corpus_batches_are_seeded_and_labelled():
    def batches(seed):
        g = gen.CorpusGen(np.random.default_rng(seed))
        g.initial(100)
        return [g.batch(20, 2, 2) for _ in range(3)]

    a, b = batches(5), batches(5)
    for (da, la), (db, lb) in zip(a, b):
        assert da.equals(db) and la == lb
    docs, dups = a[0]
    assert len(docs) == 20 and len(dups) == 4
    assert docs.doc_id.is_unique
    texts = dict(zip(docs.doc_id, docs.text))
    assert all(d in texts for d in dups)


def test_covid_inputs_are_seeded(tmp_path):
    a = gen.covid_inputs(np.random.default_rng(3), str(tmp_path / "a"), 8)
    b = gen.covid_inputs(np.random.default_rng(3), str(tmp_path / "b"), 8)
    assert a.kept == b.kept and a.weather_rows == b.weather_rows
    assert len(a.kept) + len(a.dropped) == 8
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_loop_starts_only_steps_that_fit(monkeypatch):
    import run as bench

    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])

    def loop(seconds, step_s):
        r = bench.Run.__new__(bench.Run)
        r.seconds, r.iterations = seconds, 0

        def step():
            clock[0] += step_s

        r.loop(step)
        return r.iterations

    assert loop(10, 4) == 2  # a third step would end at 12 s
    assert loop(10, 5) == 2  # ends exactly at 10 s
    assert loop(1, 4) == 1  # the first step always runs
