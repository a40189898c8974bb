"""Cold-tier compression: Gorilla-packed chunks as BinaryType columns.

`compress_series` folds each (conv_id, metric, chunk) group of rollup points
into ONE row holding two binary blobs — XOR-packed values + delta-of-delta-
packed bucket timestamps — plus chunk metadata (row count, ts range, raw and
encoded byte sizes). `decompress_series` explodes blobs back into points;
roundtrip is bit-exact.

Chunking: `chunk` = floor(bucket epoch / chunk_seconds) so one blob covers a
bounded time range (default 1 day of 1m points = <=1440 points/blob). Packing
runs through `partitioning.per_series`: each chunk's (ts, value) pairs are
gathered into one sorted array row on the JVM, and one Python call packs a
whole Arrow batch of chunks — with day-sized chunks of a handful of points,
one pandas group per chunk would make per-group overhead the whole runtime.

At 100 TB this is the storage win for cold data: a metronome-ish series
packs ~60-80x for timestamps and 5-20x for values. Blobs stay individually
decodable, and `decompress_series` is a projection, so a lookup by conv_id or
metric decodes only the chunks it selects: the predicate reaches the parquet
scan as a pushed filter, and the rows it rejects never reach Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from .partitioning import per_series


def compress_series(
    df: DataFrame,
    value_col: str = "mean",
    ts_col: str = "bucket_start",
    chunk_seconds: int = 86400,
) -> DataFrame:
    """Rollup points → one compressed chunk row per (conv_id, metric, chunk)."""
    from .kernels.gorilla import encode_floats, encode_timestamps

    ts = F.col(ts_col).cast("timestamp")
    base = df.select(
        "conv_id",
        "metric",
        F.floor(F.unix_seconds(ts) / chunk_seconds).alias("chunk"),
        F.unix_micros(ts).alias("_us"),
        F.col(value_col).cast("double").alias("_v"),
    )

    def pack(ts_us, vals):
        # epoch microseconds are exact in float64 for 1685-2255
        ts_us = ts_us.astype(np.int64)
        ts_blob, val_blob = encode_timestamps(ts_us), encode_floats(vals)
        return (
            [len(vals)], ts_us[:1], ts_us[-1:], [ts_blob], [val_blob],
            [len(vals) * 16], [len(ts_blob) + len(val_blob)],
        )

    packed = per_series(
        base, ["conv_id", "metric", "chunk"], "_us", ["_us", "_v"], pack,
        "conv_id string, metric string, chunk long, n int, ts_min long, ts_max long, "
        "ts_blob binary, val_blob binary, raw_bytes long, enc_bytes long",
    )
    return packed.withColumns(
        {"ts_min": F.timestamp_micros("ts_min"), "ts_max": F.timestamp_micros("ts_max")}
    )


@arrow_udf(ArrayType(StructType([StructField("us", LongType()), StructField("value", DoubleType())])))
def _decode_chunks(ts_blobs: pa.Array, val_blobs: pa.Array) -> pa.Array:
    """Both blobs of each chunk row → one list of (epoch µs, value) points;
    one call per Arrow batch of chunk rows."""
    from .kernels.gorilla import decode_floats, decode_timestamps

    ts = [decode_timestamps(b) for b in ts_blobs.to_pylist()]
    vals = [decode_floats(b) for b in val_blobs.to_pylist()]
    offsets = np.zeros(len(ts) + 1, dtype=np.int32)
    np.cumsum([len(t) for t in ts], out=offsets[1:])
    points = pa.StructArray.from_arrays(
        [pa.array(np.concatenate([np.empty(0, np.int64), *ts])),
         pa.array(np.concatenate([np.empty(0, np.float64), *vals]))],
        names=["us", "value"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets), points)


def decompress_series(df: DataFrame) -> DataFrame:
    """Compressed chunks → (conv_id, metric, bucket_start, value) points.

    A projection, not a map over partitions: an Arrow UDF decodes each
    chunk row into a list of points and `inline` explodes it. A caller's
    predicate on conv_id or metric therefore pushes below the decode (and
    any window or aggregate keyed on them) into the parquet scan, so only
    the selected chunks are decoded. The decode is CPU-bound
    Python, so it runs at one task per core, like `per_series`: an explicit
    repartition on a struct of the chunk keys, which AQE does not coalesce.
    """
    n = max(1, df.sparkSession.sparkContext.defaultParallelism)
    return (
        df.repartition(n, F.struct("conv_id", "metric", "chunk"))
        .select("conv_id", "metric", F.inline(_decode_chunks("ts_blob", "val_blob")))
        .select("conv_id", "metric", F.timestamp_micros("us").alias("bucket_start"), "value")
    )


def compression_report(compressed: DataFrame) -> DataFrame:
    """Per-metric compression ratio summary (for pipeline metrics)."""
    return compressed.groupBy("metric").agg(
        F.count("*").alias("chunks"),
        F.sum("n").alias("points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"),
    )
