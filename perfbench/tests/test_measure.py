"""Unit tests of the benchmark's pure helpers; no SparkSession needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import math

import pandas as pd
import pytest

from perfbench.measure import (
    Span,
    answer_issues,
    covered,
    digest_frame,
    geomean,
    median,
    pair_yield,
    parse_metric,
    self_times,
    tail_percentile,
)

# ---------------------------------------------------------------- metrics


@pytest.mark.parametrize(
    "text, value",
    [
        ("0", 0),
        ("1,500", 1500),
        ("13,048", 13048),
        ("1,234,567", 1234567),
        ("0.0 B", 0),
        ("99.9 KiB", 99.9 * 1024),
        ("16.5 MiB", 16.5 * 2**20),
        ("1088.0 KiB", 1088 * 1024),
        ("2.0 GiB", 2 * 2**30),
        ("12 ms", 12),
        ("1.5 s", 1500),
        ("250 ns", 250e-6),
    ],
)
def test_parse_single_values(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_takes_total_of_multi_task_metrics():
    text = ("total (min, med, max (stageId: taskId))\n"
            "79.3 KiB (32.5 KiB, 46.8 KiB, 46.8 KiB (stage 11.0: task 9))")
    assert parse_metric(text) == pytest.approx(79.3 * 1024)
    rows = "total (min, med, max (stageId: taskId))\n2,538 (100, 1,200, 1,238 (stage 3.0: task 5))"
    assert parse_metric(rows) == 2538


@pytest.mark.parametrize("bad", ["", "n/a", "3.0 furlongs"])
def test_parse_rejects_unknown_text(bad):
    with pytest.raises(ValueError):
        parse_metric(bad)


# ------------------------------------------------------------- statistics


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None  # no percentile has 10 above it
    assert tail_percentile(list(range(1, 21)))[0] == 50.0  # 10 beyond p50
    p, v = tail_percentile([float(i) for i in range(1, 41)])
    assert (p, v) == (75.0, 30.0)  # rank 30 of 40 leaves exactly 10 beyond
    p, _ = tail_percentile([float(i) for i in range(1, 101)])
    assert p == 90.0
    p, v = tail_percentile([float(i) for i in range(1, 1001)])
    assert (p, v) == (99.0, 990.0)


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
    assert tail_percentile(xs) == tail_percentile(sorted(xs))


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.5, 2.0, 8.0]) == pytest.approx(math.exp(math.log(8.0) / 3))
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_pair_yield_counts_only_queries_that_scored_pairs():
    rows = {"agg_group": 40, "sim_cosine_pairs": 10, "dedup_embedding": 90}
    scored = {"agg_group": 0.0, "sim_cosine_pairs": 100.0, "dedup_embedding": 300.0}
    assert pair_yield(rows, scored) == pytest.approx(100 / 400)


def test_pair_yield_is_zero_without_pair_queries():
    assert pair_yield({"graph_mst": 120}, {"graph_mst": 0.0}) == 0.0


# ---------------------------------------------------------------- digests


def _frame():
    return pd.DataFrame({
        "b": [2.0, -0.0, float("nan")],
        "a": [3, 1, 2],
        "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })


def test_digest_is_order_insensitive():
    df = _frame()
    shuffled = df.iloc[[2, 0, 1]][["t", "a", "b"]].reset_index(drop=True)
    assert digest_frame(df) == digest_frame(shuffled)


def test_digest_canonicalises_cells():
    base = digest_frame(pd.DataFrame({"x": [0.0, 1.5]}))
    # -0.0 and 0.0 are the same answer
    assert digest_frame(pd.DataFrame({"x": [-0.0, 1.5]})) == base
    # a different value is not
    assert digest_frame(pd.DataFrame({"x": [0.0, 1.25]}))["sha256"] != base["sha256"]


def test_digest_unifies_timestamp_units():
    us = pd.DataFrame({"t": pd.Series([datetime.datetime(2024, 1, 1)], dtype="datetime64[us]")})
    ns = pd.DataFrame({"t": pd.Series([datetime.datetime(2024, 1, 1)], dtype="datetime64[ns]")})
    assert digest_frame(us) == digest_frame(ns)


def test_answer_issues_names_the_difference():
    want = digest_frame(_frame())
    assert answer_issues(digest_frame(_frame()), want) == []
    fewer = digest_frame(_frame().iloc[:2])
    assert "row count differs" in answer_issues(fewer, want)[0]
    renamed = digest_frame(_frame().rename(columns={"a": "c"}))
    assert "columns differ" in answer_issues(renamed, want)[0]
    retyped = digest_frame(_frame().astype({"a": "int32"}))
    assert "dtype differs on a" in answer_issues(retyped, want)[0]
    changed = _frame()
    changed.loc[0, "a"] = 9
    assert "values differ" in answer_issues(digest_frame(changed), want)[0]


def test_answer_issues_lets_object_columns_match_any_dtype():
    strings = digest_frame(pd.DataFrame({"s": ["1", "2"]}))
    ints = digest_frame(pd.DataFrame({"s": [1, 2]}))
    assert strings["dtypes"] == ["object"]
    # dtypes pass ('object' on one side); the canonical rows decide
    assert answer_issues(ints, strings) == []


# ------------------------------------------------------------------ spans


def test_covered_merges_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5)]) == 4  # overlapping → union
    assert covered(0, 10, [(1, 2), (4, 6)]) == 3
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3  # clipped to the parent
    assert covered(0, 10, [(12, 15)]) == 0
    assert covered(0, 10, [(3, 3)]) == 0


def test_self_times():
    spans = [
        Span("query", 0, None, "q", 0.0, 10.0),
        Span("build", 1, 0, "q", 0.0, 6.0),
        Span("build_sql", 2, 1, "q", 1.0, 3.0),
        Span("build_sql", 3, 1, "q", 2.0, 4.0),
        Span("execute", 4, 0, "q", 6.0, 9.5),
    ]
    got = self_times(spans)
    assert got["query"] == pytest.approx(0.5)  # 10 − (6 + 3.5)
    assert got["build"] == pytest.approx(3.0)  # 6 − union(1..4)
    assert got["build_sql"] == pytest.approx(4.0)  # two leaves, summed
    assert got["execute"] == pytest.approx(3.5)


def test_self_times_sum_per_name_across_queries():
    spans = [
        Span("query", 0, None, "a", 0.0, 2.0),
        Span("execute", 1, 0, "a", 0.5, 2.0),
        Span("query", 2, None, "b", 5.0, 6.0),
        Span("execute", 3, 2, "b", 5.0, 5.25),
    ]
    got = self_times(spans)
    assert got["query"] == pytest.approx(0.5 + 0.75)
    assert got["execute"] == pytest.approx(1.5 + 0.25)
