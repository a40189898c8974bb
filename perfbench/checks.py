"""Output checks. Each returns a list of mismatch descriptions (empty = ok).

They read the engine's parquet output with DuckDB or pyarrow, never with
Spark, so a check adds no Spark job to the run it checks.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

STATS = ("sum", "mean", "min", "max", "p50", "p99")
TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 1")
    # 6 dp as scripts/check_oracle.py canonicalises (half-up via floor). A
    # value whose exact form sits on a rounding boundary (a mean of two
    # latencies ending in half a microsecond) can round either way after a
    # last-ulp difference in summation order, so a 1e-9 relative match is
    # accepted as well.
    con.execute("CREATE MACRO r6(x) AS floor(x * 1000000 + 0.5) / 1000000.0")
    con.execute(
        "CREATE MACRO close6(a, b) AS (a IS NULL AND b IS NULL) OR r6(a) = r6(b) "
        "OR abs(a - b) <= 1e-9 * greatest(1.0, abs(a))"
    )
    return con


def tier_glob(root: str, tier: str) -> str:
    return os.path.join(root, f"tier={tier}", "*", "*.parquet")


def tier_rel(root: str, tier: str) -> str:
    """A pipeline tier as a DuckDB relation with the rollup columns."""
    return (f"(SELECT conv_id, bucket_start::TIMESTAMP AS bucket_start, metric, cnt, {', '.join(STATS)} "
            f"FROM read_parquet('{tier_glob(root, tier)}', hive_partitioning = true))")


# the engine's token_count: the number of \S+ runs in the text, 0 for NULL
TOKEN_COUNT = "len(regexp_extract_all(coalesce(text, ''), '\\S+'))::DOUBLE"


def build_rollup_oracle(con, input_glob: str) -> None:
    """oracle_<tier> tables: an independent DuckDB rollup of the turns."""
    con.execute(f"""
        CREATE OR REPLACE TABLE long_turns AS
        WITH d AS (
          SELECT conv_id, ts::TIMESTAMP AS ts,
                 {TOKEN_COUNT} AS token_count,
                 (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx))::DOUBLE
                   / 1000000.0::DOUBLE AS latency_s
          FROM read_parquet('{input_glob}', hive_partitioning = true))
        SELECT conv_id, ts, 'token_count' AS metric, token_count AS value FROM d
        UNION ALL
        SELECT conv_id, ts, 'latency_s', latency_s FROM d WHERE latency_s IS NOT NULL
    """)
    for tier, trunc in TRUNC.items():
        con.execute(f"""
            CREATE OR REPLACE TABLE oracle_{tier} AS
            SELECT conv_id, date_trunc('{trunc}', ts) AS bucket_start, metric, count(*) AS cnt,
                   sum(value) AS sum, avg(value) AS mean, min(value) AS min, max(value) AS max,
                   quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.99) AS p99
            FROM long_turns GROUP BY ALL
        """)


def tiers_match(con, root: str, refs: dict[str, str], since: dict[str, str] | None = None) -> list[str]:
    """Every tier under `root` against the relation refs[tier], row by row:
    same keys, same cnt, each stat equal at 6 dp (see `connect`). With
    `since`, only buckets on or after since[tier] (a date) are compared,
    as retention removed the older ones from `root`."""
    bad = []
    for tier, ref in refs.items():
        if not glob.glob(tier_glob(root, tier)):
            bad.append(f"{tier}: no output")
            continue
        lo = (since or {}).get(tier, "0001-01-01")
        cond = " OR ".join(f"NOT close6(o.{c}, s.{c})" for c in STATS)
        n_out, n_ref, n_bad = con.execute(f"""
            WITH s AS (SELECT * FROM {tier_rel(root, tier)} WHERE bucket_start::DATE >= DATE '{lo}'),
                 o AS (SELECT * FROM {ref} WHERE bucket_start::DATE >= DATE '{lo}')
            SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o),
                   (SELECT count(*) FROM o FULL OUTER JOIN s USING (conv_id, bucket_start, metric)
                    WHERE o.cnt IS DISTINCT FROM s.cnt OR {cond})
        """).fetchone()
        if n_out == 0 or n_out != n_ref or n_bad:
            bad.append(f"{tier}: {n_out} rows vs {n_ref} expected, {n_bad} differ")
    return bad


def oracle_refs() -> dict[str, str]:
    return {tier: f"oracle_{tier}" for tier in TRUNC}


# --- bit-exact frame comparison --------------------------------------------


def _bits(s: pd.Series) -> np.ndarray:
    if s.dtype.kind == "f":
        return s.to_numpy(dtype=np.float64).view(np.int64)
    if s.dtype.kind == "M":
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.to_numpy(dtype="datetime64[us]").astype(np.int64)
    return s.to_numpy()


def frames_bit_equal(a: pd.DataFrame, b: pd.DataFrame, keys: list[str]) -> list[str]:
    """Same rows, and every float equal bit for bit."""
    cols = sorted(a.columns)
    if sorted(b.columns) != cols:
        return [f"columns {cols} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"{len(a)} vs {len(b)} rows"]
    a = a.sort_values(keys, kind="stable").reset_index(drop=True)
    b = b.sort_values(keys, kind="stable").reset_index(drop=True)
    return [f"column {c} differs" for c in cols if not np.array_equal(_bits(a[c]), _bits(b[c]))]


def read_parquet_rows(path: str, filt=None) -> pd.DataFrame:
    """A parquet file or directory as pandas, without Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(filter=filt).to_pandas()
