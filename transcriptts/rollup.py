"""Tumbling-window continuous aggregates — the rollup core.

Re-expresses the reference's positional segment statistics
(SegmentMean/Median/Min/Max, SignalSharp/Resampling/Resampling.cs:85-172) as
time-bucket aggregates over real timestamps, generalized with count / p50 /
p99 and the inter-turn latency metric per the north rule.

Execution shape (scale notes):
- everything is built-in Catalyst aggregates — count/sum/min/max/avg get
  map-side partial aggregation for free, so the shuffle carries one partial
  row per (conv_id, bucket, metric) per map task, not raw turns;
- ``percentile`` is Spark's EXACT percentile (matches reference median
  semantics: even n → mean of the two middle values); it buffers bucket
  values, so bucket size — not conversation size — bounds task memory.
  A conversation that is hot *across* buckets parallelizes naturally because
  the grouping key includes the bucket; a single pathological bucket is
  handled by the salted two-phase path in ``rollup_salted``;
- no Python in this path at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .schema import TIERS

METRICS = ("token_count", "latency_s")


def token_count_col(text: str | Column = "text") -> Column:
    """Whitespace token count; empty/blank/null → 0 (derived metric per input_hint).

    Counted as the number of \\S+ runs: identical to
    len(split(trim(text), '\\s+')) for non-blank text, but regexp_count
    never materializes the token array — the split version allocates a
    string array per row, which at 16M rows x 3 tiers dominated young-gen
    GC and was the single worst scaling drag in the hot path.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(r"\S+"))


def with_derived_metrics(df: DataFrame) -> DataFrame:
    """Add token_count and inter-turn latency_s (seconds, null for turn 0).

    latency = ts - lag(ts) over (partition by conv_id order by turn_idx) —
    a single window, evaluated in one shuffle by (conv_id).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # parquet timestamps may load as TIMESTAMP_NTZ; unix_micros needs LTZ —
    # session tz is pinned to UTC so the cast is wall-clock-preserving.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lat_us = ts_us - F.lag(ts_us).over(w)
    return df.withColumn("token_count", token_count_col()).withColumn(
        "latency_s", (lat_us / F.lit(1_000_000.0)).cast("double")
    )


def with_session_id(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Split each conversation into sessions at inactivity gaps > `gap`.

    session_id is the 0-based running count of gap-exceeding boundaries
    before the turn: a cumulative sum over an is-new-session indicator in
    ONE window pass per conversation (the same (conv_id, turn_idx) window
    with_derived_metrics already shuffles by, so sessionizing a derived
    frame adds no extra exchange). Turn 0 starts session 0; a null previous
    ts cannot occur mid-conversation (ts is non-null per the input hint).

    The transcripts-native cut for training pipelines: long agent traces
    with day-long idle stretches become separately-windowable sessions
    without touching the raw partitioning.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = F.lit(int(_parse_gap_us(gap)))
    is_new = (ts_us - F.lag(ts_us).over(w) > gap_us).cast("long")
    return df.withColumn(
        "session_id",
        F.coalesce(
            F.sum(F.coalesce(is_new, F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            F.lit(0),
        ),
    )


def _parse_gap_us(gap: str) -> int:
    """'30 minutes' / '2 hours' / '45 seconds' / '1 day' → microseconds."""
    qty, unit = gap.split()
    mult = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }
    if unit not in mult:
        raise ValueError(f"unsupported gap unit {unit!r} in {gap!r}")
    return int(qty) * mult[unit]


def _long_metrics(df: DataFrame) -> DataFrame:
    """Wide → long: one row per (turn, metric); null metric values dropped
    (turn 0 has no latency — matches 'gaps do not exist' reference model)."""
    pairs = ", ".join(f"'{m}', cast({m} as double)" for m in METRICS)
    return (
        df.select("conv_id", "ts", F.expr(f"stack({len(METRICS)}, {pairs}) as (metric, value)"))
        .where(F.col("value").isNotNull())
    )


def rollup(
    df: DataFrame, tier: str = "1m", percentile_mode: str = "exact",
    approx_accuracy: int = 10000,
) -> DataFrame:
    """One retention tier of continuous aggregates from raw turns.

    df must already carry token_count/latency_s (see with_derived_metrics).
    Returns ROLLUP_SCHEMA rows (long format: one row per metric).

    Plan shape (measured ~5x faster than the naive long-format design):
    - WIDE aggregation — both metrics aggregated in ONE groupBy over the raw
      rows, so the pre-shuffle row count is 1x raw (a stack-to-long first
      design shuffles 2x rows and doubles the aggregation groups);
    - both percentiles share ONE percentile buffer per metric
      (percentile(v, array(0.5, 0.99))) instead of two independent
      sort-buffers;
    - the long output shape is produced AFTER aggregation by exploding a
      2-struct array on the (small) aggregated rows.

    percentile_mode:
    - 'exact' (default): Spark's exact interpolating percentile — matches
      the reference's median semantics bit-for-bit (even n → mean of the
      two middle values) and is what every oracle row verifies. Buffers
      each bucket's values, so bucket size bounds task memory.
    - 'approx': percentile_approx (Greenwald-Khanna mergeable sketch,
      rank error <= 1/approx_accuracy). The 100-TB escape hatch when a
      single bucket's value multiset no longer fits an aggregation buffer
      (hour/day tiers over pathological conversations): sketch state is
      O(accuracy * log n) per group regardless of bucket size, and
      map-side partials merge instead of concatenating. Not bit-exact —
      keep it OFF anywhere reference parity is asserted.
    """
    if percentile_mode not in ("exact", "approx"):
        raise ValueError(f"percentile_mode must be 'exact' or 'approx', got {percentile_mode!r}")
    duration = TIERS[tier]
    ps = F.array(F.lit(0.5), F.lit(0.99))
    aggs = []
    for m in METRICS:
        v = F.col(m).cast("double")
        pct = (
            F.percentile(v, ps)
            if percentile_mode == "exact"
            else F.percentile_approx(v, ps, F.lit(approx_accuracy)).cast("array<double>")
        )
        aggs += [
            F.count(v).alias(f"{m}_cnt"),
            F.sum(v).alias(f"{m}_sum"),
            F.min(v).alias(f"{m}_min"),
            F.max(v).alias(f"{m}_max"),
            pct.alias(f"{m}_pct"),
        ]
    wide = df.groupBy("conv_id", F.window("ts", duration).alias("w")).agg(*aggs)
    per_metric = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"),
                F.col(f"{m}_cnt").alias("cnt"),
                F.col(f"{m}_sum").alias("sum"),
                F.col(f"{m}_min").alias("min"),
                F.col(f"{m}_max").alias("max"),
                F.col(f"{m}_pct").alias("pct"),
            )
            for m in METRICS
        ]
    )
    return (
        wide.select("conv_id", F.col("w.start").alias("bucket_start"), F.explode(per_metric).alias("s"))
        .where(F.col("s.cnt") > 0)  # e.g. buckets whose only latency values are null
        .select(
            "conv_id",
            "bucket_start",
            F.col("s.metric").alias("metric"),
            F.col("s.cnt").alias("cnt"),
            F.col("s.sum").alias("sum"),
            (F.col("s.sum") / F.col("s.cnt")).alias("mean"),
            F.col("s.min").alias("min"),
            F.col("s.max").alias("max"),
            F.col("s.pct")[0].alias("p50"),
            F.col("s.pct")[1].alias("p99"),
        )
    )


def rollup_salted(df: DataFrame, tier: str = "1m", salt_buckets: int = 8) -> DataFrame:
    """Skew-hardened rollup: two-phase aggregation with an explicit salt.

    Phase 1 groups by (conv_id, bucket, metric, salt) — a hot bucket splits
    into `salt_buckets` parallel partial aggregates, each carrying a SORTED
    value array for the percentile. Phase 2 merges partials: moments compose
    exactly (sum/count/min/max), and the exact percentile is recovered by
    flattening + sorting the per-salt sorted arrays (identical multiset →
    identical percentile — no approximation).

    Cost: the percentile arrays shuffle all values either way; what salting
    buys is that no single *task* has to pre-aggregate a pathological bucket
    alone. Use when one (conv, minute) can hold millions of turns.
    """
    duration = TIERS[tier]
    long_df = _long_metrics(df).withColumn(
        "salt", F.pmod(F.hash("ts"), F.lit(salt_buckets))
    )
    partial = long_df.groupBy(
        "conv_id", F.window("ts", duration).alias("w"), "metric", "salt"
    ).agg(
        F.count("value").alias("p_cnt"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
        F.sort_array(F.collect_list("value")).alias("p_vals"),
    )
    merged = partial.groupBy("conv_id", "w", "metric").agg(
        F.sum("p_cnt").alias("cnt"),
        F.min("p_min").alias("min"),
        F.max("p_max").alias("max"),
        F.sort_array(F.flatten(F.collect_list("p_vals"))).alias("vals"),
    )

    # sum/mean via the sorted-multiset fold (see _finalize_partials): the
    # per-salt partial-sum re-addition order depends on the shuffle, so the
    # deterministic fold makes the salted and hierarchical paths mutually
    # bit-identical (and oracle-reproducible). The direct rollup() still
    # sums via F.sum, whose partial-aggregation order is shuffle-dependent —
    # agreement with IT holds only to ulp (its oracle rounds to 6 dp).
    ssum = F.aggregate(F.col("vals"), F.lit(0.0), lambda acc, x: acc + x)
    return merged.select(
        "conv_id",
        F.col("w.start").alias("bucket_start"),
        "metric",
        "cnt",
        ssum.alias("sum"),
        (ssum / F.col("cnt")).alias("mean"),
        "min",
        "max",
        _exact_pct(F.col("vals"), F.col("cnt"), 0.5).alias("p50"),
        _exact_pct(F.col("vals"), F.col("cnt"), 0.99).alias("p99"),
    )


def coarsen_partials(fine: DataFrame, tier: str) -> DataFrame:
    """Hierarchical re-aggregation: 1h/1d moments from 1m partials.

    cnt/sum/min/max compose exactly; mean = Σsum/Σcnt. Exact percentiles do
    NOT compose from per-bucket percentiles, so this path emits p50/p99 as
    NULL — callers that need exact coarse-tier percentiles use ``rollup``
    over raw (one extra scan) or the salted array-merge path. This is the
    cheap maintenance path at 100 TB: it never rereads raw data.
    """
    from .schema import TIER_SECONDS

    secs = TIER_SECONDS[tier]
    in_type = dict(fine.dtypes)["bucket_start"]
    bucket = (
        F.timestamp_seconds(
            # floor division (not truncate-toward-zero) so pre-1970 negative
            # epochs land in the same bucket as F.window's tumbling windows
            F.floor(F.unix_seconds(F.col("bucket_start").cast("timestamp")) / secs).cast("long") * secs
        )
        .cast(in_type)  # keep NTZ inputs NTZ (UTC session → same wall clock)
        .alias("bucket_start")
    )
    return (
        fine.groupBy("conv_id", bucket, "metric")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
        .select(
            "conv_id",
            "bucket_start",
            "metric",
            "cnt",
            "sum",
            (F.col("sum") / F.col("cnt")).alias("mean"),
            "min",
            "max",
            F.lit(None).cast("double").alias("p50"),
            F.lit(None).cast("double").alias("p99"),
        )
    )


def _exact_pct(vals: Column, cnt: Column, p: float) -> Column:
    """Exact percentile with linear interpolation on a SORTED array.

    pos = p*(n-1) (the same convention as Spark's exact ``percentile`` and
    DuckDB's quantile_cont; reference median = p=0.5 special case,
    StatisticalFunctions.helpers.cs:32-45). 1-based element_at.

    Uses the BUILTIN's exact two-sided form `(hi-pos)*a + (pos-lo)*b`
    (Percentile.scala getPercentile) rather than `a + frac*(b-a)`: the two
    differ in the last ulp, and matching the builtin keeps every percentile
    in the engine — direct, salted, or hierarchical — bit-identical."""
    pos = F.lit(p) * (cnt - 1).cast("double")
    lo = F.floor(pos)
    hi = F.ceil(pos)
    a = F.element_at(vals, lo.cast("int") + 1)
    b = F.element_at(vals, hi.cast("int") + 1)
    return F.when(hi == lo, a).otherwise((hi - pos) * a + (pos - lo) * b)


def _partials_1m(derived: DataFrame) -> DataFrame:
    """ONE wide aggregation of raw turns into per-(conv, 1m-bucket, metric)
    partials that carry the bucket's full (unsorted) value multiset.

    This is the only shuffle that ever sees raw turns in the hierarchical
    tier pipeline: every coarser tier re-aggregates these partials.
    """
    aggs = []
    for m in METRICS:
        v = F.col(m).cast("double")
        aggs += [
            F.count(v).alias(f"{m}_cnt"),
            F.min(v).alias(f"{m}_min"),
            F.max(v).alias(f"{m}_max"),
            F.collect_list(v).alias(f"{m}_vals"),
        ]
    wide = derived.groupBy("conv_id", F.window("ts", TIERS["1m"]).alias("w")).agg(*aggs)
    per_metric = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"),
                F.col(f"{m}_cnt").alias("cnt"),
                F.col(f"{m}_min").alias("min"),
                F.col(f"{m}_max").alias("max"),
                F.col(f"{m}_vals").alias("vals"),
            )
            for m in METRICS
        ]
    )
    return (
        wide.select("conv_id", F.col("w.start").alias("bucket_start"), F.explode(per_metric).alias("s"))
        .where(F.col("s.cnt") > 0)
        .select("conv_id", "bucket_start", "s.metric", "s.cnt", "s.min", "s.max", "s.vals")
    )


def _coarsen_partials_exact(partials: DataFrame, tier: str) -> DataFrame:
    """Merge fine partials into coarser buckets. Moments compose exactly;
    the value multisets concatenate — so the coarse tier's exact percentiles
    are computable without ever touching raw turns again."""
    from .schema import TIER_SECONDS

    secs = TIER_SECONDS[tier]
    in_type = dict(partials.dtypes)["bucket_start"]
    bucket = (
        F.timestamp_seconds(
            # floor division (not truncate-toward-zero) so pre-1970 negative
            # epochs land in the same bucket as F.window's tumbling windows
            F.floor(F.unix_seconds(F.col("bucket_start").cast("timestamp")) / secs).cast("long") * secs
        )
        .cast(in_type)
        .alias("bucket_start")
    )
    return partials.groupBy("conv_id", bucket, "metric").agg(
        F.sum("cnt").alias("cnt"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.flatten(F.collect_list("vals")).alias("vals"),
    )


def _finalize_partials(partials: DataFrame) -> DataFrame:
    """Partials (with value arrays) → ROLLUP_SCHEMA rows (exact p50/p99).

    `sum` is a left fold over the SORTED value multiset rather than a
    re-addition of per-fine-bucket partial sums: fp addition is not
    associative, so the partial-sum order (which depends on shuffle
    nondeterminism and differs from any direct aggregation) could land a
    1-ulp away from a direct sum and straddle a downstream rounding
    boundary. Folding the sorted multiset makes `sum`/`mean` a pure
    function of the bucket's value multiset — the same number every run
    and the same number any other engine computes with the same fold.
    """
    sorted_vals = F.sort_array(F.col("vals"))
    ssum = F.aggregate(sorted_vals, F.lit(0.0), lambda acc, x: acc + x)
    return partials.select(
        "conv_id",
        "bucket_start",
        "metric",
        "cnt",
        ssum.alias("sum"),
        (ssum / F.col("cnt")).alias("mean"),
        "min",
        "max",
        _exact_pct(sorted_vals, F.col("cnt"), 0.5).alias("p50"),
        _exact_pct(sorted_vals, F.col("cnt"), 0.99).alias("p99"),
    )


class HierarchicalRollup(dict):
    """Tier name → finalized DataFrame, plus an unpersist handle for the
    intermediate partials cached by rollup_tiers_hierarchical."""

    def __init__(self, tiers: dict[str, DataFrame], persisted: list[DataFrame]):
        super().__init__(tiers)
        self.persisted = persisted

    def unpersist(self) -> None:
        for p in self.persisted:
            p.unpersist()
        self.persisted = []


def rollup_tiers_hierarchical(
    df: DataFrame, tiers: tuple[str, ...] = ("1m", "1h", "1d"), persist: bool = True
) -> "HierarchicalRollup":
    """All three tiers from ONE shuffle of raw turns (the 100-TB plan shape).

    ``rollup_tiers`` re-aggregates raw rows once per tier — 3 wide shuffles
    of the full table. Here raw turns are shuffled exactly once into 1m
    partials that keep each bucket's value multiset; 1h buckets merge 60 1m
    partials, 1d buckets merge 24 1h partials. cnt/sum/min/max compose
    algebraically, and exact percentiles come from the merged multiset
    (identical values → identical interpolation → identical p50/p99; verified
    against the per-tier path in tests/test_rollup.py).

    At cluster scale this matters twice: the raw table (with its wide text
    column) is scanned once instead of three times, and the two coarse tiers
    shuffle only per-minute partial rows (~raw/row-density), not raw turns.
    Task memory is bounded by bucket size per (conv, bucket, metric) — a
    pathological single bucket is the salted path's job (rollup_salted).
    """
    derived = with_derived_metrics(df).select("conv_id", "ts", "token_count", "latency_s")
    p1m = _partials_1m(derived)
    persisted: list[DataFrame] = []
    # The 1m partials feed up to three consumers (1m finalize, 1h,
    # transitively 1d); without a persist Spark would recompute the raw
    # shuffle per consumer. With a single requested tier there is exactly
    # one consumer per stage, so nothing is cached (and nothing leaks).
    multi = len(tiers) > 1
    if persist and multi:
        p1m = p1m.persist()
        persisted.append(p1m)
    p1h = _coarsen_partials_exact(p1m, "1h")
    if persist and multi and "1d" in tiers and "1h" in tiers:
        p1h = p1h.persist()
        persisted.append(p1h)
    p1d = _coarsen_partials_exact(p1h, "1d")
    out = {"1m": _finalize_partials(p1m), "1h": _finalize_partials(p1h), "1d": _finalize_partials(p1d)}
    return HierarchicalRollup({t: out[t] for t in tiers}, persisted)


def rollup_tiers(
    df: DataFrame, exact_percentiles: bool = True, persist_derived: bool = False,
    percentile_mode: str = "exact",
) -> dict[str, DataFrame]:
    """All three retention tiers from one raw transcripts DataFrame.

    exact_percentiles=True → each tier is a wide aggregation over the
    derived rows (percentiles exact everywhere; one shuffle per tier).
    False → 1m exact, 1h/1d via coarsen_partials (coarse percentiles NULL —
    the cheapest maintenance path: no re-shuffle of raw values at all).

    percentile_mode='approx' swaps every tier's percentile for the
    Greenwald-Khanna mergeable sketch (see rollup()) — the bounded-memory
    path for pathological buckets at 100 TB.

    persist_derived caches the slim 4-column derived projection so the raw
    table (with its wide `text` column) is scanned once — worth it when raw
    IO dominates (e.g. 100 TB remote storage); on a warm local page cache
    the rescan is cheaper than the cache materialization, hence default off.
    """
    derived = with_derived_metrics(df).select("conv_id", "ts", "token_count", "latency_s")
    if persist_derived:
        from pyspark.storagelevel import StorageLevel

        derived = derived.persist(StorageLevel.MEMORY_AND_DISK)
    out = {"1m": rollup(derived, "1m", percentile_mode=percentile_mode)}
    if exact_percentiles:
        out["1h"] = rollup(derived, "1h", percentile_mode=percentile_mode)
        out["1d"] = rollup(derived, "1d", percentile_mode=percentile_mode)
    else:
        out["1h"] = coarsen_partials(out["1m"], "1h")
        out["1d"] = coarsen_partials(out["1h"], "1d")
    return out


# ---------------------------------------------------------------------------
# Positional segment operators — direct equivalents of the reference's
# Resampling family, over (conv_id, order_col, value).
# ---------------------------------------------------------------------------


def _rn(order_col: str) -> tuple[Window, Column]:
    w = Window.partitionBy("conv_id").orderBy(order_col)
    return w, F.row_number().over(w) - 1  # 0-based position == array index


def downsample(df: DataFrame, factor: int, value_col: str, order_col: str = "turn_idx") -> DataFrame:
    """Keep every k-th sample: result[i] = signal[i*factor]
    (Resampling.cs:41-55). Narrow filter after one per-conv window pass."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    _, rn = _rn(order_col)
    return (
        df.withColumn("_rn", rn)
        .where(F.col("_rn") % factor == 0)
        .select("conv_id", (F.col("_rn") / factor).cast("long").alias("pos"), F.col(value_col).alias("value"))
    )


def segment_agg(df: DataFrame, factor: int, value_col: str, order_col: str = "turn_idx") -> DataFrame:
    """Tumbling positional segments of `factor` points; the last segment may
    be partial (Resampling.cs:101-118 `end = min(start+factor, n)`).

    Emits mean/median/min/max per segment — the union of SegmentMean (:101),
    SegmentMedian (:85, exact median), SegmentMax (:128), SegmentMin (:155).
    """
    if factor <= 0:
        raise ValueError("factor must be positive")
    _, rn = _rn(order_col)
    v = F.col(value_col).cast("double")
    return (
        df.withColumn("_rn", rn)
        .groupBy("conv_id", (F.col("_rn") / factor).cast("long").alias("seg"))
        .agg(
            F.avg(v).alias("seg_mean"),
            F.percentile(v, F.lit(0.5)).alias("seg_median"),
            F.min(v).alias("seg_min"),
            F.max(v).alias("seg_max"),
            F.count(v).alias("seg_cnt"),
        )
    )
