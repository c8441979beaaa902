"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from checks import (
    check_build,
    check_same,
    components_reference,
    oracle_rows,
    pagerank_reference,
)
from run import ROOT, WARMUP_SCALE, Run, _layer_metrics, n_passes, quartiles
from spans import Span, idle_core_frac, metric_name, self_times
from workloads import WORKLOADS, _arrow, _rows, make

HERE = os.path.dirname(os.path.abspath(__file__))


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans = [
        _span("root.pass", 0.0, 10.0),
        _span("a.x", 1.0, 3.0, parent=0),
        _span("b.y", 2.0, 5.0, parent=0),  # overlaps a.x: [1, 5] counts once
        _span("c.z", 6.0, 7.0, parent=0),
        _span("d.w", 6.2, 6.7, parent=3),  # grandchild: only c.z's business
    ]
    selfs = self_times(spans)
    assert selfs == pytest.approx([10.0 - 4.0 - 1.0, 2.0, 3.0, 0.5, 0.5])


def test_self_time_clips_children_to_parent():
    spans = [_span("root.pass", 0.0, 2.0), _span("a.x", 1.5, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_idle_core_frac():
    assert idle_core_frac(cpu_s=4.0, wall_s=2.0, cores=4) == pytest.approx(0.5)
    assert idle_core_frac(cpu_s=0.0, wall_s=0.0, cores=4) == 0.0


def test_metric_name_charset():
    assert metric_name("coref", "clusters_via_components", "self_s") == (
        "coref.clusters_via_components.self_s"
    )
    for bad in (("kg", "cc iter"), ("kg", "cc/iter"), ("", "x"), ("x" * 70,)):
        with pytest.raises(ValueError):
            metric_name(*bad)


def test_benchmark_json_names_and_units():
    bench = _benchmark_json()
    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit_re = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    names = [w["name"] for w in bench["workloads"]]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert unit_re.fullmatch(m["unit"]), m
        names.append(m["name"])
    assert all(name_re.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_layer_metrics_are_the_declared_ones():
    class FakeTracer:
        spans = [
            Span("kg_build.pass", 0.0, 10.0, None, "r", jobs=2, jvm_cpu_s=20.0, py_cpu_s=4.0),
            Span("coref.clusters_via_components", 1.0, 4.0, 0, "r", jobs=3, py_cpu_s=3.0),
            Span("sinks.write_mentions", 5.0, 6.0, 0, "r", jobs=2, bytes_written=10, files=2),
        ]

    m = _layer_metrics(FakeTracer(), untraced_s=8.0, session_s=7.0, cores=4)
    declared = {x["name"] for x in _benchmark_json()["per_layer"]}
    assert set(m) | {"jvm.peak_rss_mb"} == declared
    assert m["trace.coverage.ratio"][0] == pytest.approx((3.0 + 1.0) / 8.0)
    assert m["trace.glue.self_s"][0] == pytest.approx(6.0)
    assert m["trace.overhead.s"][0] == pytest.approx(2.0)
    assert m["spans.jobs"][0] == 7
    assert m["kernels.idle_core_frac"][0] == pytest.approx(1 - 3.0 / (3.0 * 4))
    assert m["writes.files"][0] == 2


def test_check_build_accepts_consistent_output():
    assert check_build(n_triple_rows=120, sum_support=120, n_failed_rows=0, resume_todo=0) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        {"sum_support": 119},  # a canonical triple lost one unit of support
        {"n_failed_rows": 3},
        {"resume_todo": 2},
        {"n_triple_rows": 0, "sum_support": 0},
    ],
)
def test_check_build_rejects_corrupted_output(corrupt):
    args = {"n_triple_rows": 120, "sum_support": 120, "n_failed_rows": 0, "resume_todo": 0}
    assert check_build(**{**args, **corrupt})


# a cycle a-b-c with a pendant d, a self-loop on e, and b-a given in
# both directions (one undirected edge, two directed ones)
EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "e"), ("b", "a")]


def test_components_reference():
    assert sorted(components_reference(EDGES)) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("e", "e")
    ]


def test_components_check_rejects_corrupted_result():
    want = components_reference(EDGES)
    wrong_id = [(e, "b" if c == "a" else c) for e, c in want]  # not the minimum member
    split = [(e, "d" if e == "d" else c) for e, c in want]  # d cut off its component
    assert check_same("cc", want, want) == []
    assert check_same("cc", wrong_id, want)
    assert check_same("cc", split, want)


def test_pagerank_reference_by_hand():
    # directed edges a->b, b->c, b->a, c->a, c->d (the self-loop drops);
    # one iteration from rank 10^6: b and c split theirs over two out-edges
    base = 150_000
    got = dict(pagerank_reference(EDGES, iterations=1))
    assert got == {
        "a": base + 85 * (500_000 + 500_000) // 100,
        "b": base + 85 * 1_000_000 // 100,
        "c": base + 85 * 500_000 // 100,
        "d": base + 85 * 500_000 // 100,
        "e": base,
    }


def test_pagerank_check_rejects_corrupted_result():
    want = pagerank_reference(EDGES)
    off_by_one = [(e, r + (e == "c")) for e, r in want]
    assert check_same("pagerank", off_by_one, want)


def test_oracle_rows_normalizes_like_the_gate():
    assert oracle_rows([(2, 0.1 + 0.2, None), (1, 1.0, "x")]) == [
        ("1", "1", "x"), ("2", "0.3", "~")
    ]
    # a value that differs in the tenth significant digit is a mismatch
    assert check_same("leaf", oracle_rows([(1, 0.123456789)]), oracle_rows([(1, 0.123456788)]))


def test_check_same_reports_dropped_row():
    full = [("E1", "E1"), ("E2", "E1"), ("E3", "E3")]
    assert check_same("cc", list(reversed(full)), full) == []
    assert check_same("cc", full[:2], full)
    assert check_same("cc", [], [])  # an empty result is never correct


def test_quartiles():
    assert quartiles([3.0]) == {"median": 3.0, "q1": 3.0, "q3": 3.0, "n": 1}
    q = quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q["q1"], q["median"], q["q3"], q["n"]) == (2.0, 3.0, 4.0, 5)


def test_measured_passes_are_a_fixed_count():
    assert [n_passes(s) for s in (1, 10, 14, 30)] == [1, 1, 1, 3]

    class Instant:
        ops = [("a", lambda tag: tag), ("b", lambda tag: tag)]

        def check(self, op, out):
            return []

    run = Run(Instant(), os.getpid())
    per_op = run.measure(3)
    assert {op: len(v) for op, v in per_op.items()} == {"a": 3, "b": 3}
    assert (run.attempted, run.failed) == (6, 0)


def test_warmup_scale_keeps_each_workload_valid():
    for name in WORKLOADS:
        full = make(name, None, ROOT, "unused", seed=1)
        small = make(name, None, ROOT, "unused", seed=1, scale=WARMUP_SCALE)
        for big, part in zip(full.parts, small.parts):
            for attr in part.SCALED:
                assert 1 <= getattr(part, attr) < getattr(big, attr), (name, attr)
            if hasattr(part, "MEGA_TURNS"):  # the mega-conversation's share
                assert part.MEGA_TURNS / part.N_CONVS == pytest.approx(
                    big.MEGA_TURNS / big.N_CONVS, rel=0.01
                )


def test_arrow_reader_reads_spark_layout(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for key, rows in ((0, [1, 2]), (1, [3])):
        part = tmp_path / f"partition_key={key}"
        part.mkdir()
        pq.write_table(pa.table({"n_support": rows}), part / "part-0.parquet")
    (tmp_path / "_SUCCESS").write_text("")
    table = _arrow(str(tmp_path))
    assert table.num_rows == 3
    assert sorted(_rows(table)) == [(1, 0), (2, 0), (3, 1)]
