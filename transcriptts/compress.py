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
packs ~60-80x for timestamps and 5-20x for values; blobs stay individually
decodable so point lookups only touch the covering chunk.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def decompress_series(df: DataFrame) -> DataFrame:
    """Compressed chunks → (conv_id, metric, bucket_start, value) points."""
    import pandas as pd

    from .kernels.gorilla import decode_floats, decode_timestamps

    def unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        # one output frame per Arrow batch (np.repeat for the id columns),
        # not one pandas frame per chunk row
        ts_list = [decode_timestamps(bytes(b)) for b in pdf["ts_blob"]]
        val_list = [decode_floats(bytes(b)) for b in pdf["val_blob"]]
        if not ts_list:
            return pd.DataFrame(
                {"conv_id": pd.Series(dtype=str), "metric": pd.Series(dtype=str),
                 "bucket_start": pd.Series(dtype="datetime64[us]"),
                 "value": pd.Series(dtype=np.float64)}
            )
        ns = np.array([len(t) for t in ts_list])
        return pd.DataFrame(
            {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), ns),
                "metric": np.repeat(pdf["metric"].to_numpy(), ns),
                "bucket_start": np.concatenate(ts_list).astype("datetime64[us]"),
                "value": np.concatenate(val_list),
            }
        )

    # mapInPandas: each chunk row explodes independently, no shuffle at all
    return df.mapInPandas(
        lambda it: (unpack(pdf) for pdf in it),
        "conv_id string, metric string, bucket_start timestamp, value double",
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
