"""per_series: plan shape, tie order, null handling and one hot conversation
beside many short ones."""

from __future__ import annotations

import datetime as dt
import re
import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from transcriptts.compress import compress_series, decompress_series
from transcriptts.detect import detect_changepoints
from transcriptts.gapfill import gapfill
from transcriptts.kernels import pelt as KP
from transcriptts.kernels import smoothing as KS
from transcriptts.partitioning import per_series
from transcriptts.smooth import smooth


def _series_df(spark, series: dict, dtype: str = "double"):
    rows = [(cid, i, v) for cid, vals in series.items() for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, f"conv_id string, turn_idx int, value {dtype}")


def _by_conv(rows, order: str, value: str) -> dict:
    out = {}
    for r in sorted(rows, key=lambda r: (r["conv_id"], r[order])):
        out.setdefault(r["conv_id"], []).append(r[value])
    return out


def _stages(df) -> list[tuple[int, int]]:
    """Run `df` to a noop sink and return (tasks, shuffle bytes written) of
    each stage it ran, in stage order."""
    sc = df.sparkSession.sparkContext
    group = f"per-series-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan shape")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker, jsc = sc.statusTracker(), sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids = sorted({s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds})
    return [
        (info.numTasks, jsc.statusStore().lastStageAttempt(s).shuffleWriteBytes())
        for s in ids
        if (info := tracker.getStageInfo(s)) is not None and info.numCompletedTasks
    ]


def _python_stage_tasks(df) -> int:
    """Task count of the last stage `df` runs, the one holding the Python
    UDF or the windows (nothing shuffles after it)."""
    return _stages(df)[-1][0]


@pytest.mark.parametrize("coalesce", ["false", "true"])
@pytest.mark.parametrize("upstream", [False, True], ids=["plain", "window-upstream"])
def test_plan_shape_one_task_per_core(spark, coalesce, upstream):
    """One exchange, a MapInPandas and no grouped pandas UDF; the Python stage
    is exactly defaultParallelism wide, also when AQE may coalesce and when
    the input is already hash-partitioned by conv_id by an upstream window."""
    rng = np.random.default_rng(0)
    df = _series_df(spark, {f"c{i:03d}": rng.normal(size=5).tolist() for i in range(120)})
    if upstream:
        df = df.withColumn("value", F.col("value") - F.avg("value").over(Window.partitionBy("conv_id")))
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": coalesce,
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = smooth(df, "ema", alpha=0.3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        n_tasks = _python_stage_tasks(out)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(re.findall(r"\bExchange\b", plan)) == 1 + upstream, plan
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert n_tasks == spark.sparkContext.defaultParallelism


def test_ties_on_order_key_are_deterministic(spark):
    """Duplicate turn_idx: the series is ordered by turn_idx, then value, so
    forward and reversed input rows give identical output."""
    rows = [("t", 0, 1.0), ("t", 1, 5.0), ("t", 1, 2.0), ("t", 2, 7.0), ("t", 2, -1.0), ("t", 2, 3.0),
            ("t", 3, 4.0), ("t", 4, 9.0), ("t", 4, 8.0), ("t", 5, 0.5)]
    ordered = np.array([v for _, _, v in sorted(rows, key=lambda r: (r[1], r[2]))])
    outs = []
    for rs in (rows, rows[::-1]):
        df = spark.createDataFrame(rs, "conv_id string, turn_idx int, value double").repartition(3)
        sm = _by_conv(smooth(df, "ema", alpha=0.4).collect(), "pos", "value")["t"]
        bps = sorted(r["breakpoint_idx"] for r in detect_changepoints(df, penalty=1.0, cost="l2").collect())
        outs.append((sm, bps))
    assert outs[0] == outs[1]
    np.testing.assert_array_equal(outs[0][0], KS.ema(ordered, 0.4))
    assert outs[0][1] == KP.pelt(ordered, penalty=1.0, cost="l2")


@pytest.mark.parametrize("dtype", ["double", "bigint"])
def test_null_reaches_kernel_as_nan(spark, dtype):
    cast = float if dtype == "double" else int
    df = _series_df(spark, {"n": [cast(1), None, cast(3), None], "m": [cast(2), cast(4)]}, dtype)
    out = per_series(
        df, ["conv_id"], "turn_idx", ["value"],
        lambda x: (np.arange(len(x)), np.isnan(x), np.nan_to_num(x, nan=-1.0)),
        "conv_id string, pos long, is_nan boolean, value double",
    )
    rows = out.collect()
    assert _by_conv(rows, "pos", "is_nan") == {"n": [False, True, False, True], "m": [False, False]}
    assert _by_conv(rows, "pos", "value")["n"] == [1.0, -1.0, 3.0, -1.0]


def test_schema_must_lead_with_keys(spark):
    df = _series_df(spark, {"a": [1.0]})
    with pytest.raises(ValueError):
        per_series(df, ["conv_id"], "turn_idx", ["value"], lambda x: (x,), "value double, conv_id string")


def test_hot_conversation_beside_short_ones(spark):
    """One 20k-turn conversation (one array row) among 200 short ones: ema
    and PELT l2 equal the numpy kernels on every series."""
    rng = np.random.default_rng(11)
    n_hot = 20_000
    series = {"hot": np.repeat(rng.normal(0, 5, n_hot // 200), 200) + rng.normal(0, 1, n_hot)}
    for i in range(200):
        n = int(rng.integers(1, 40))
        series[f"s{i:03d}"] = rng.normal(0, 1, n) + np.where(np.arange(n) >= n // 2, 4.0, 0.0)
    df = _series_df(spark, {k: v.tolist() for k, v in series.items()})

    ema = _by_conv(smooth(df, "ema", alpha=0.3).collect(), "pos", "value")
    bps = _by_conv(detect_changepoints(df, penalty=50.0, cost="l2").collect(),
                   "breakpoint_idx", "breakpoint_idx")
    assert len(ema["hot"]) == n_hot
    for cid, x in series.items():
        np.testing.assert_array_equal(ema[cid], KS.ema(x, 0.3))
        assert bps.get(cid, []) == KP.pelt(x, penalty=50.0, cost="l2"), cid


def test_session_sizes_shuffles_by_bytes(spark):
    """With coalescing on (get_spark's default), a tiny groupBy runs one
    post-shuffle task, while a shuffle of 1-3 MB and one of 16 MB or more
    keep the session's full shuffle width (at least 256 KB a partition)."""
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum") == str(width)

    def shuffle(df) -> tuple[int, int]:
        """(bytes the map side wrote, tasks of the post-shuffle stage)"""
        (_, written), (tasks, _) = _stages(df)[-2:]
        return written, tasks

    tiny_bytes, tiny_tasks = shuffle(spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count())
    assert tiny_bytes < 256 << 10 and tiny_tasks == 1

    # random doubles as unique keys: partial aggregation cannot shrink the
    # shuffle and lz4 cannot compress it
    def unique_keys(n):
        return spark.range(n, numPartitions=4).select(F.rand(7).alias("k")).groupBy("k").count()

    mid_bytes, mid_tasks = shuffle(unique_keys(150_000))
    assert 1 << 20 < mid_bytes < 3 << 20 and mid_tasks == width
    big_bytes, big_tasks = shuffle(unique_keys(2_000_000))
    assert big_bytes >= 16 << 20 and big_tasks == width


def test_gapfill_and_decode_run_one_task_per_core(spark):
    """The CPU-bound stages after a small shuffle keep one task per core
    although AQE would coalesce that shuffle to one task."""
    n = spark.sparkContext.defaultParallelism
    t0 = dt.datetime(2025, 1, 1)
    rows = [(f"c{i:02d}", "m", t0 + dt.timedelta(minutes=2 * j), float(i + j)) for i in range(40) for j in range(6)]
    tier = spark.createDataFrame(rows, "conv_id string, metric string, bucket_start timestamp, mean double")
    tier = tier.withColumn("cnt", F.lit(1).cast("bigint"))
    assert _python_stage_tasks(gapfill(tier, "1m")) == n
    # one input partition, as after a coalesced shuffle
    assert _python_stage_tasks(decompress_series(compress_series(tier).coalesce(1))) == n
