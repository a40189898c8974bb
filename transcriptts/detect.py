"""Spark wrappers for changepoint detection.

Each conversation is one independent series (the DP/scan kernels are
inherently sequential; conversations are the parallelism unit, exactly as
SURVEY §3.1 plans). `partitioning.per_series` gathers each conversation into
one sorted array row on the JVM and runs the kernel over whole Arrow batches
of conversations. Outputs are tiny relative to inputs (a handful of
breakpoints per series), so the post-UDF stages are cheap.

`segment_stats` then re-expresses detected boundaries as windowed aggregates:
segment_id = running count of breakpoints over (conv, order) — a window sum —
followed by an ordinary groupBy aggregation. This is the north-star shape
('PELT/CUSUM-style segment boundaries re-expressed as windowed aggregates').
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .kernels.cusum import cusum as _cusum_kernel
from .kernels.pelt import pelt as _pelt_kernel
from .kernels.pelt import select_penalty as _select_penalty_kernel
from .partitioning import per_series


def detect_changepoints(
    df: DataFrame,
    penalty: float,
    cost: str = "l2",
    min_size: int = 1,
    jump: int = 1,
    value_col: str = "value",
    order_col: str = "turn_idx",
    value_cols: list[str] | None = None,
    **cost_params,
) -> DataFrame:
    """PELT breakpoints per conversation → (conv_id, breakpoint_idx).

    Pass ``value_cols=[...]`` for MULTIVARIATE detection: the D columns stack
    into the kernels' (D, N) matrix (reference layout PELTAlgorithm.cs:103-113)
    and the cost sums over dimensions (e.g. L2CostFunction.cs:105-139 loops
    rows), so a change visible in any dimension contributes to the segment
    cost. ``value_col`` remains the univariate shorthand.
    """
    cols = list(value_cols) if value_cols else [value_col]
    probe = np.zeros((len(cols), 2)) if len(cols) > 1 else [0.0, 1.0]
    _pelt_kernel(probe, penalty=penalty, cost=cost, min_size=min_size, jump=jump, **cost_params)  # validate params early

    def run(*xs):
        x = np.vstack(xs) if len(xs) > 1 else xs[0]
        bps = _pelt_kernel(x, penalty=penalty, cost=cost, min_size=min_size, jump=jump, **cost_params)
        return (np.asarray(bps, dtype=np.int64),)

    return per_series(df, ["conv_id"], order_col, cols, run, "conv_id string, breakpoint_idx long")


def detect_cusum(
    df: DataFrame,
    expected_mean: float = 0.0,
    expected_std_dev: float = 1.0,
    slack_factor: float = 0.0,
    threshold_factor: float = 5.0,
    value_col: str = "value",
    order_col: str = "turn_idx",
) -> DataFrame:
    """CUSUM alarms per conversation → (conv_id, changepoint_idx)."""
    _cusum_kernel([0.0, 0.0], expected_mean, expected_std_dev, slack_factor, threshold_factor)

    def run(x):
        cps = _cusum_kernel(x, expected_mean, expected_std_dev, slack_factor, threshold_factor)
        return (np.asarray(cps, dtype=np.int64),)

    return per_series(df, ["conv_id"], order_col, [value_col], run, "conv_id string, changepoint_idx long")


def select_penalties(
    df: DataFrame,
    cost: str = "gaussian",
    method: str = "bic",
    min_size: int = 1,
    jump: int = 1,
    num_steps: int = 50,
    value_col: str = "value",
    order_col: str = "turn_idx",
    **cost_params,
) -> DataFrame:
    """Per-conversation automatic penalty selection (BIC/AIC/AICc) →
    (conv_id, selected_penalty, n_breakpoints, breakpoints array)."""

    def run(x):
        try:
            res = _select_penalty_kernel(
                x, cost=cost, method=method, min_size=min_size, jump=jump,
                num_steps=num_steps, **cost_params,
            )
        except (RuntimeError, ValueError):
            return [None], [None], [None]  # selection failed: one all-null row
        return [res.selected_penalty], [len(res.breakpoints)], [res.breakpoints]

    return per_series(
        df, ["conv_id"], order_col, [value_col], run,
        "conv_id string, selected_penalty double, n_breakpoints int, breakpoints array<long>",
    )


def segment_stats(
    df: DataFrame,
    breakpoints: DataFrame,
    value_col: str = "value",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Boundaries → windowed aggregates: join breakpoints back onto turns,
    assign segment_id = count of breakpoints at-or-before each row (window
    running sum), then groupBy segment. Both the join and the window share
    the conv_id partitioning, so this adds one broadcast-able join and one
    aggregation on top of the detection pass."""
    w = Window.partitionBy("conv_id").orderBy(order_col)
    rn = F.row_number().over(w) - 1
    bp = breakpoints.select(
        "conv_id", F.col(breakpoints.columns[1]).alias("_bp"), F.lit(1).alias("_is_bp")
    )
    turns = df.select("conv_id", F.col(order_col), F.col(value_col).cast("double").alias("_v")).withColumn(
        "_rn", rn
    )
    joined = turns.join(
        F.broadcast(bp), (turns.conv_id == bp.conv_id) & (turns._rn == bp._bp), "left"
    ).select(turns.conv_id, "_rn", "_v", "_is_bp")
    seg = F.sum(F.coalesce(F.col("_is_bp"), F.lit(0))).over(
        Window.partitionBy("conv_id").orderBy("_rn")
    )
    return (
        joined.withColumn("segment_id", seg)
        .groupBy("conv_id", "segment_id")
        .agg(
            F.count("_v").alias("seg_len"),
            F.min("_rn").alias("start_idx"),
            F.avg("_v").alias("seg_mean"),
            F.min("_v").alias("seg_min"),
            F.max("_v").alias("seg_max"),
            F.var_pop("_v").alias("seg_var"),
        )
    )
