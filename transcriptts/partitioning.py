"""Batched per-series kernel runner.

The per-conversation kernels (smoothing, changepoints, forecasts, Gorilla
packing) are sequential numpy code over short series. Running them as one
pandas group per conversation (`applyInPandas`) costs a pandas frame, a sort
and an Arrow hop per group: on thousands of short conversations the executor
spent 17-82x the time of the numpy kernels themselves. `per_series` removes
that overhead in two ways:

- **Batching.** Each series is gathered on the JVM into one array row
  (`groupBy` + sorted `collect_list`), and one `mapInPandas` call sees whole
  Arrow batches of series, so Python pays per batch, not per group
  ("Accelerating Python UDFs in Vectorized Query Execution", CIDR 2022).
- **One task per core.** Every Python task pays a fixed start cost in the
  PySpark worker's `main()`: 0.19-0.44 s on a 4-vCPU VM (Python 3.11.7,
  PySpark 4.1), even for an identity UDF over 16 rows (at `local[4]` such
  a UDF took 0.54 s in 4 tasks and 1.33 s in 17). cProfile puts almost all
  of it in `setup_spark_files -> importlib.invalidate_caches ->
  zipimport._read_directory`, which re-reads the `pyspark.zip` directory on
  every task. The Python stage therefore runs exactly `defaultParallelism`
  tasks: at 4 tasks per core + 1 it pays that cost about five times per
  core.

The width is an explicit `repartition(n, ...)` on the keys: user-specified
repartitions are exempt from AQE's byte-based post-shuffle coalescing (on
in `session.get_spark`), which would otherwise shrink a few-MB kernel input
to one partition and run the CPU-bound stage on one core. The `groupBy`
reuses that clustering, so the gather adds a single exchange. `gapfill` and
`compress.decompress_series` pin their CPU-bound stages the same way.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from itertools import chain

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def per_series(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_cols: Sequence[str],
    kernel: Callable,
    schema: str,
) -> DataFrame:
    """Run `kernel` once per series of `df`; return its rows under `schema`.

    A series is the rows sharing `keys`, ordered by `order_col`. Rows that
    tie on the order key are ordered by their values, compared column by
    column in `value_cols` order (nulls first, NaN last), so duplicate order
    keys give the same series whichever order the rows arrive in.

    `kernel(*arrays)` gets one float64 array per value column; a null value
    arrives as NaN. It returns the output columns that follow the keys in
    `schema`, as equal-length sequences in schema order, or None to emit no
    rows for that series. The key columns are repeated onto every row.
    """
    keys, value_cols = list(keys), list(value_cols)
    out = StructType.fromDDL(schema)
    names = out.fieldNames()
    if names[: len(keys)] != keys:
        raise ValueError(f"schema must start with the key columns {keys}, got {names}")
    out_cols = names[len(keys) :]
    arrays = [f"_v{i}" for i in range(len(value_cols))]

    point = F.struct(
        F.col(order_col).alias("o"),
        *[F.col(c).cast("double").alias(a) for c, a in zip(value_cols, arrays)],
    )
    n = max(1, df.sparkSession.sparkContext.defaultParallelism)
    # Hash on a struct of the keys, not on the keys: if the input is already
    # hashed on the keys at this width (a window by conv_id upstream), Spark
    # drops `repartition(n, *keys)` as redundant, and the upstream exchange,
    # which AQE may coalesce, would size the Python stage instead.
    series = (
        df.select(F.struct(*keys).alias("_key"), point.alias("_pt"))
        .repartition(n, "_key")
        .groupBy("_key")
        .agg(F.sort_array(F.collect_list("_pt")).alias("_pts"))
        .select("_key.*", *[F.col(f"_pts.{a}").alias(a) for a in arrays])
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            reps, parts = [], []
            for xs in zip(*(pdf[a] for a in arrays)):
                res = kernel(*(np.asarray(x, dtype=np.float64) for x in xs))
                reps.append(0 if res is None else len(res[0]))
                if reps[-1]:
                    parts.append(res)
            if not parts:
                continue
            frame = {k: np.repeat(pdf[k].to_numpy(), reps) for k in keys}
            frame.update((c, _concat(p)) for c, p in zip(out_cols, zip(*parts)))
            yield pd.DataFrame(frame)

    return series.mapInPandas(run, out)


def _concat(parts: Sequence) -> np.ndarray:
    """One output column from the per-series pieces: numpy concatenation
    when every piece is a plain numpy array, else an object array, so bytes,
    lists and None reach Arrow as they are, with no dtype guessed."""
    if all(isinstance(p, np.ndarray) and p.dtype != object for p in parts):
        return np.concatenate(parts)
    return np.fromiter(chain.from_iterable(parts), dtype=object, count=sum(map(len, parts)))
