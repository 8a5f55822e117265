"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Timer, self_times  # noqa: E402
from stats import MIN_BEYOND, percentile, samples_beyond, tail_percentile  # noqa: E402


def _write_inputs(seed: int, d) -> list[str]:
    mix = gen.Mixture()
    paths = []

    def put(name, table):
        p = str(d / name)
        gen.write_table(p, table)
        paths.append(p)

    x = gen.corpus(seed, 500, mix)
    put("corpus.parquet", gen.vectors_table(np.arange(len(x)), x))
    q = gen.query_batch(seed, 3, 16, mix)
    put("queries.parquet", gen.vectors_table(np.arange(len(q)), q, "query_id", "query_vec"))
    topics = gen.Topics(size=500)
    docs, _ = gen.curate_unit(seed, 1, 200, topics, topics.benchmark(10))
    put("docs.parquet", docs)
    return paths


def _read_all(paths) -> list[bytes]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_generators_are_byte_identical_for_a_seed(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "c").mkdir()
    a = _read_all(_write_inputs(7, tmp_path / "a"))
    b = _read_all(_write_inputs(7, tmp_path / "b"))
    c = _read_all(_write_inputs(8, tmp_path / "c"))
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_planted_duplicates_have_higher_ids_than_their_sources():
    topics = gen.Topics(size=500)
    bench = topics.benchmark(10)
    table, planted = gen.curate_unit(3, 0, 400, topics, bench)
    text_of = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    norm = {}
    for i in sorted(text_of):
        norm.setdefault(text_of[i].strip().lower(), i)
    for i in planted["exact"]:
        assert norm[text_of[i].strip().lower()] < i
    assert {text_of[i] for i in planted["bench"]} <= set(bench)
    assert len(planted["near"]) == 20
    assert len(set(text_of.values())) < len(text_of)


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps span 1
        _span(3, 0, 9.0, 12.0),  # runs past the parent's end
        _span(4, 1, 1.5, 2.5),   # grandchild: only span 1 loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_timer_nests_spans_under_the_open_span():
    t = Timer("run")
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
        t.child(outer, "reported", outer.start, outer.start)
    assert inner.parent == outer.span_id
    assert t.spans[2].parent == outer.span_id
    assert outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tail_percentile_leaves_enough_samples_beyond_it():
    for n in range(1, 3000, 7):
        q = tail_percentile(n)
        if q is None:
            assert samples_beyond(n, 75.0) < MIN_BEYOND
            continue
        values = list(np.random.default_rng(n).permutation(n).astype(float))
        p = percentile(values, q)
        assert sum(v > p for v in values) >= MIN_BEYOND
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(39) is None


def test_percentile_is_nearest_rank():
    vals = [float(v) for v in range(1, 11)]
    assert percentile(vals, 50) == 5.0
    assert percentile(vals, 90) == 9.0
    assert percentile(vals, 91) == 10.0


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        bench = json.load(f)
    got = [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]]
    assert got == run.END_TO_END
    got = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert got == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["ann_query", "corpus_curate"]


def _record(d, i, workload, value):
    rec = {"config": {"workload": workload, "trace": 0},
           "result": {"correct": True, "metrics": {
               name: {"value": value * (1 + 0.001 * i), "unit": unit}
               for name, unit, _ in run.END_TO_END}}}
    with open(d / f"{workload}-{i}.json", "w") as f:
        json.dump(rec, f)


def test_compare_agrees_on_equal_sets_and_flags_a_regression(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    for i in range(10):
        _record(a, i, "ann_query", 100.0)
        _record(b, i, "ann_query", 100.0)
        _record(c, i, "ann_query", 150.0)  # every metric 50 % off
    assert compare.main([str(a), str(b)]) == 0
    assert compare.main([str(a), str(c)]) == 1
