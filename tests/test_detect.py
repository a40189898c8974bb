"""Spark changepoint-wrapper tests: UDF path vs kernels, segment re-expression."""

from __future__ import annotations

import numpy as np
import pytest

from transcriptts.detect import detect_changepoints, detect_cusum, segment_stats, select_penalties

STEP = [1.0, 1, 1, 5, 5, 5, 1, 1, 1]


@pytest.fixture(scope="module")
def step_df(spark):
    rows = [("a", i, float(v)) for i, v in enumerate(STEP)]
    rows += [("b", i, float(v)) for i, v in enumerate([2.0] * 6 + [9.0] * 6)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")


def test_pelt_spark_matches_kernel(step_df):
    got = {}
    for r in detect_changepoints(step_df, penalty=2.0, cost="l2").collect():
        got.setdefault(r["conv_id"], []).append(r["breakpoint_idx"])
    assert sorted(got["a"]) == [3, 6]
    assert sorted(got["b"]) == [6]


def test_cusum_spark(step_df):
    spikes = [("c", i, v) for i, v in enumerate([0.1, 0.2, 10.0, -10.0, 0.1, 0.2])]
    df = step_df.sparkSession.createDataFrame(spikes, "conv_id string, turn_idx int, value double")
    got = sorted(r["changepoint_idx"] for r in detect_cusum(df).collect())
    assert got == [2, 3]  # CUSUMTests.cs:175-186


def test_segment_stats_windowed_aggregates(step_df):
    bps = detect_changepoints(step_df, penalty=2.0, cost="l2")
    segs = {
        (r["conv_id"], r["segment_id"]): r for r in segment_stats(step_df, bps).collect()
    }
    a0, a1, a2 = segs[("a", 0)], segs[("a", 1)], segs[("a", 2)]
    assert (a0["seg_len"], a0["seg_mean"]) == (3, 1.0)
    assert (a1["seg_len"], a1["seg_mean"]) == (3, 5.0)
    assert (a2["seg_len"], a2["seg_mean"]) == (3, 1.0)
    assert a1["start_idx"] == 3 and a2["start_idx"] == 6
    b0, b1 = segs[("b", 0)], segs[("b", 1)]
    assert (b0["seg_len"], b0["seg_mean"], b1["seg_mean"]) == (6, 2.0, 9.0)


def test_select_penalties_spark(spark):
    x = np.concatenate([np.full(30, 0.0), np.full(30, 8.0)]) + np.sin(np.arange(60)) * 0.1
    rows = [("s", i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    r = select_penalties(df, cost="gaussian", method="bic", min_size=2).collect()
    assert len(r) == 1
    assert r[0]["breakpoints"] == [30]
    assert r[0]["selected_penalty"] > 0


def test_detect_null_value_reaches_kernel_as_nan(spark):
    """A null value is NaN to the kernel: CUSUM over the series matches the
    numpy kernel on the same values with NaN in place of the null."""
    from transcriptts.kernels.cusum import cusum

    vals = [0.1, None, 0.2, 9.0, 0.1]
    rows = [("n", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = sorted(r["changepoint_idx"] for r in detect_cusum(df).collect())
    assert got == list(cusum(np.array(vals, dtype=float), 0.0, 1.0, 0.0, 5.0))


def test_detect_short_series_yields_no_rows(step_df):
    """A series too short to split gives no breakpoint rows, and the other
    conversations are unaffected."""
    short = step_df.sparkSession.createDataFrame([("s", 0, 1.0)], step_df.schema)
    got = {r["conv_id"] for r in detect_changepoints(step_df.union(short), penalty=2.0, min_size=2).collect()}
    assert got == {"a", "b"}


def test_select_penalties_failure_emits_null_row(spark):
    """A series where selection fails still gets one all-null row."""
    x = np.concatenate([np.full(30, 0.0), np.full(30, 8.0)]) + np.sin(np.arange(60)) * 0.1
    rows = [("s", i, float(v)) for i, v in enumerate(x)] + [("one", 0, 1.0)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = {r["conv_id"]: r for r in select_penalties(df, cost="gaussian", min_size=2).collect()}
    assert got["s"]["breakpoints"] == [30] and got["s"]["n_breakpoints"] == 1
    assert (got["one"]["selected_penalty"], got["one"]["n_breakpoints"], got["one"]["breakpoints"]) == (None, None, None)
