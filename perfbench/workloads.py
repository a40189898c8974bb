"""The workloads. Each is a closed loop of one client: it runs one Spark
action at a time, checks its output, then runs the next.

- tier_maintain: ticks of append + incremental run + retention with archive
  + one archived read-back, from the same committed starting state. The
  aggregation is small; the pipeline's fixed per-run overheads, Gorilla
  packing in Python and the cold read dominate.
- series_kernels: per-conversation smoothing, changepoints, forecast and
  gap-fill over thousands of short series, where per-group Arrow/pandas
  overhead dominates; the rollup path is bypassed.

Sizes are module constants so every run of a workload does the same work;
README.md records them and why.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from . import checks, inputs
from .trace import Tracer


@dataclass
class Sizes:
    """How much work a run does; the smoke test shrinks it."""

    maintain_convs_per_day: int = 300  # generated; the day keeps the first
    maintain_turns_per_day: int = 2_400  # turns of them, besides the metronome
    maintain_metronome: int = 2_400  # turns, at 1 turn/s
    kernel_convs: int = 2_000
    check_sample: int = 16  # conversations checked per kernel output


MAINTAIN_DAYS = 7  # committed in set-up
MAINTAIN_TICKS = 1  # per unit
CARRY_SHARE = 0.2  # of a day's conversations continuing one of the day before
INPUT_FILES = 8
RETENTION = {"1m": 3, "1h": 7, "1d": None}  # keep days; None = forever
PELT_PENALTY = 200.0
EMA_ALPHA = 0.3
HOLT_HORIZON = 5


@dataclass
class Run:
    """One benchmark run: session, work dir, tracer and the op log."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    sizes: Sizes
    ops: list = field(default_factory=list)
    generate_s: float = 0.0
    warmup_s: float = 0.0
    first_op_at: float | None = None  # perf_counter() when the first timed op began
    warmup_calls: dict = field(default_factory=dict)  # engine call -> seconds, in set-up
    report: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    layer: dict = field(default_factory=dict)  # extra per-layer values
    e2e: dict = field(default_factory=dict)  # name -> (value, unit)

    def __post_init__(self):
        self.con = checks.connect(self.path("duckdb-tmp"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def loop(self):
        """Yield unit 0, the timed unit, then extra units while `seconds`
        have not passed since the loop began. Every metric comes from unit
        0 alone, so how many extra units a host fits moves no metric; the
        extra units are checked and kept in the record."""
        deadline = time.perf_counter() + self.seconds
        unit = 0
        while unit == 0 or time.perf_counter() < deadline:
            yield unit
            unit += 1

    def timed(self) -> list[dict]:
        """The ops of the timed unit."""
        return [o for o in self.ops if o["unit"] == 0]

    def timed_spans(self) -> list[dict]:
        ids = {o["op"] for o in self.timed()}
        return [s for s in self.tracer.spans if s["op"] in ids]

    def op(self, kind: str, unit: int) -> dict:
        if self.first_op_at is None:
            self.first_op_at = time.perf_counter()
        rec = {"op": len(self.ops), "kind": kind, "unit": unit,
               "ok": False, "error": None, "load1_before": os.getloadavg()[0]}
        self.ops.append(rec)
        return rec

    def call(self, rec: dict, span: str, fn):
        """Run one engine call as (part of) op `rec`, timed and traced.
        Returns (result, span record); raises what the call raises."""
        with self.tracer.span(span, rec["op"]) as srec:
            t0 = time.perf_counter()
            result = fn()
            rec.setdefault("calls", {})[span] = time.perf_counter() - t0
        rec["load1_after"] = os.getloadavg()[0]
        return result, srec

    def setup(self, generate, warmup) -> None:
        """Set up: `generate` the inputs, then `warmup`, which runs the
        engine's first, cold calls on them."""
        t0 = time.perf_counter()
        generate()
        self.generate_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warmup()
        self.warmup_s = time.perf_counter() - t0

    def warm(self, name: str, fn):
        """One engine call of the set-up, timed into `warmup_calls`."""
        t0 = time.perf_counter()
        result = fn()
        self.warmup_calls[name] = self.warmup_calls.get(name, 0.0) + time.perf_counter() - t0
        return result

    def finish(self, rec: dict, bad: list[str]) -> None:
        rec["wall_s"] = sum(rec.get("calls", {}).values())
        rec["ok"] = not bad and rec["error"] is None
        if bad:
            rec["error"] = "; ".join(bad)[:500]

    def fail(self, rec: dict, exc: BaseException) -> None:
        rec["wall_s"] = sum(rec.get("calls", {}).values())
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec.setdefault("load1_after", os.getloadavg()[0])

    def walls(self, kind: str) -> list[float]:
        """Wall times of the timed unit's passing ops of `kind`."""
        return [o["wall_s"] for o in self.timed() if o["kind"] == kind and o["ok"]]

    def trace_overhead(self) -> None:
        """Median over the timed ops of the status-store read time of their spans."""
        if self.tracer.enabled and self.timed():
            self.layer["trace_overhead_s"] = median(
                sum(s["trace_s"] for s in self.tracer.spans if s["op"] == o["op"]) for o in self.timed())


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _lineage(root: str, snapshot_id: str) -> dict:
    with open(os.path.join(root, "lineage", f"{snapshot_id}.json")) as f:
        return json.load(f)


def _median(values: list[float]) -> float:
    """Median, or NaN when every operation of the kind failed."""
    return median(values) if values else float("nan")


def _report_walls(report: dict) -> float:
    return sum(m["wall_sec"] for m in report["metrics"].values())


# --- tier_maintain ---------------------------------------------------------


def _day(d: int) -> dt.date:
    return dt.date(2025, 1, 1) + dt.timedelta(days=d)


def tier_maintain(run: Run) -> None:
    from pyspark.sql import functions as F

    from transcriptts.pipeline import RollupPipeline
    from transcriptts.retention import apply_retention, restore_archive
    from transcriptts.rollup import rollup_tiers
    from transcriptts.store import read_raw_turns, write_raw_turns

    sz, spark = run.sizes, run.spark
    n_days, n_ticks = MAINTAIN_DAYS, MAINTAIN_TICKS
    day_turns = []

    def generate():
        batches = inputs.day_batches(inputs.sub_seed(run.seed, 0), n_days + n_ticks, sz.maintain_convs_per_day,
                                     sz.maintain_turns_per_day, CARRY_SHARE, sz.maintain_metronome)
        for d, b in enumerate(batches):
            inputs.write_files(b, run.fresh("days", f"day={d:02d}"), 1)
        day_turns[:] = [b.num_rows for b in batches]

    def warmup():
        """Commit the starting state every unit copies."""
        base = run.fresh("base")
        first = spark.read.parquet(run.path("days")).where(F.col("day") < n_days).drop("day")
        run.warm("store.write_raw_turns", lambda: write_raw_turns(first, os.path.join(base, "raw")))
        p = RollupPipeline(spark, os.path.join(base, "tiers"))
        run.warm("pipeline.run", lambda: p.run(read_raw_turns(spark, os.path.join(base, "raw"))))
        run.warm("retention.apply_retention", lambda: apply_retention(
            p, RETENTION, now=_day(n_days), archive_root=os.path.join(base, "archive")))

    run.setup(generate, warmup)

    def tick(rec: dict, live: str, d: int) -> None:
        """Append day d, refresh, expire as of day d+1, read one expired
        conversation-day back from the archive."""
        raw, p = os.path.join(live, "raw"), RollupPipeline(spark, os.path.join(live, "tiers"))
        traced = run.tracer.enabled  # extra counts only in traced runs
        files0 = _parquet_files(raw) if traced else 0
        day_df = spark.read.parquet(run.path("days", f"day={d:02d}"))
        _, s = run.call(rec, "store.write_raw_turns", lambda: write_raw_turns(day_df, raw, mode="append"))
        if traced:
            s["files_written"] = _parquet_files(raw) - files0
        report, s = run.call(rec, "pipeline.run_incremental",
                             lambda: p.run(read_raw_turns(spark, raw), incremental=True))
        if traced:
            s["overhead_s"] = rec["calls"]["pipeline.run_incremental"] - _report_walls(report)
            s["scan_ratio"] = s["input_records"] / day_turns[d]
        rec["refresh_s"] = rec["calls"]["store.write_raw_turns"] + rec["calls"]["pipeline.run_incremental"]

        # the 1m day about to expire, read without Spark for the check
        gone = _day(d - RETENTION["1m"]).isoformat()
        expired = checks.read_parquet_rows(os.path.join(p.root, "tier=1m", f"p_date={gone}"))
        conv = expired["conv_id"].min()
        expired = expired[expired["conv_id"] == conv]

        archive = os.path.join(live, "archive")
        report, s = run.call(rec, "retention.apply_retention",
                             lambda: apply_retention(p, RETENTION, now=_day(d + 1), archive_root=archive))
        if traced:
            s["partitions_dropped"] = sum(len(v) for v in report["expired"].values())
            s["bytes_freed"] = sum(_lineage(p.root, sid)["bytes_freed"] for sid in report["snapshot_ids"].values())
            for k, out in (("archive_points", "points"), ("raw_bytes", "raw_bytes"), ("enc_bytes", "enc_bytes")):
                s[k] = sum(a[out] for a in report["archived"].values())

        restored, s = run.call(rec, "retention.restore_archive", lambda: (
            restore_archive(p, archive, "1m")
            .where((F.col("conv_id") == conv) & (F.to_date("bucket_start") == F.lit(gone).cast("date")))
            .toPandas()))
        if traced:
            s["points_decoded"] = pc.sum(ds.dataset(os.path.join(archive, "tier=1m"), partitioning="hive")
                                         .to_table(columns=["n"])["n"]).as_py()
            s["points_returned"] = int(restored[list(checks.STATS) + ["cnt"]].notna().sum().sum())
        bad = checks.frames_bit_equal(restored[expired.columns], expired, ["metric", "bucket_start"])
        run.finish(rec, [f"restore {conv} {gone}: {b}" for b in bad])

    def probe_rebuild(unit: int, raw: str, root: str) -> None:
        """Traced runs only: the full three-tier run over the whole raw
        store into a fresh root, checked like an op, then each tier's
        rollup alone to a noop sink."""
        rec = run.op("rebuild", unit)
        df = read_raw_turns(spark, raw)
        try:
            report, s = run.call(rec, "pipeline.run", lambda: RollupPipeline(spark, root).run(df))
            s.update(overhead_s=rec["calls"]["pipeline.run"] - _report_walls(report),
                     rows_written=sum(m["rows"] for m in report["metrics"].values()),
                     bytes_written=sum(m["bytes"] for m in report["metrics"].values()))
            run.finish(rec, checks.tiers_match(run.con, root, checks.oracle_refs()))
        except Exception as exc:
            run.fail(rec, exc)
        for tier, tdf in rollup_tiers(df).items():
            with run.tracer.span(f"rollup.tier_{tier}", rec["op"]):
                tdf.write.format("noop").mode("overwrite").save()

    last = n_days + n_ticks  # retention ends as of this day
    kept = {t: _day(last - k).isoformat() for t, k in RETENTION.items() if k is not None}
    for unit in run.loop():
        live = run.fresh("live")
        shutil.copytree(run.path("base"), live)
        ticks = []
        for d in range(n_days, last):
            ticks.append(run.op("tick", unit))
            try:
                tick(ticks[-1], live, d)
            except Exception as exc:  # counted as failed; the episode stops
                run.fail(ticks[-1], exc)
                break
        # after the ticks, the hot tiers equal a full rebuild of the same raw
        # store, made independently by DuckDB
        raw = os.path.join(live, "raw")
        try:
            checks.build_rollup_oracle(run.con, os.path.join(raw, "*", "*.parquet"))
            bad = checks.tiers_match(run.con, os.path.join(live, "tiers"), checks.oracle_refs(), kept)
        except Exception as exc:  # a check that cannot run fails the ticks
            bad = [f"{type(exc).__name__}: {exc}"[:300]]
        for t in ticks:
            if bad and t["ok"]:
                t["ok"], t["error"] = False, "maintained tiers differ from a rebuild: " + "; ".join(bad)
        if unit > 0:
            continue
        if run.tracer.enabled:
            probe_rebuild(unit, raw, run.fresh("rebuild"))
        ingested = sum(day_turns)
        run.report["tier_bytes_per_turn"] = (
            (_tree_bytes(os.path.join(live, "tiers")) + _tree_bytes(os.path.join(live, "archive"))) / ingested,
            "B/turn", 1)
        blobs = ds.dataset(os.path.join(live, "archive"), partitioning="hive").to_table(
            columns=["raw_bytes", "enc_bytes"])
        run.report["cold_ratio"] = (pc.sum(blobs["raw_bytes"]).as_py() / pc.sum(blobs["enc_bytes"]).as_py(),
                                    "ratio", 1)

    ticks = run.walls("tick")
    refresh = [o["refresh_s"] for o in run.timed() if o["kind"] == "tick" and o["ok"]]
    new_turns = median(day_turns[n_days:])
    run.e2e["unit_s"] = (_median(ticks), "s")
    run.e2e["work_per_s"] = (new_turns * 3 / _median(refresh), "1/s")
    run.report["tick_p50_s"] = (_median(ticks), "s", len(ticks))
    run.report["refresh_p50_s"] = (_median(refresh), "s", len(refresh))
    run.report["turns_per_day"] = (new_turns, "turns", n_ticks)
    if run.walls("rebuild"):
        run.report["rollup_turns_per_s"] = (sum(day_turns) * 3 / _median(run.walls("rebuild")), "turns/s",
                                            len(run.walls("rebuild")))
    run.trace_overhead()


# --- series_kernels --------------------------------------------------------


def _series(tbl, key: list[str], order: str) -> dict:
    """{key tuple: rows ordered by `order`} from an arrow table."""
    pdf = tbl.to_pandas().sort_values(key + [order], kind="stable")
    return {k if isinstance(k, tuple) else (k,): g for k, g in pdf.groupby(key, sort=False)}


def _kernels():
    from transcriptts.detect import detect_changepoints
    from transcriptts.forecast import forecast
    from transcriptts.kernels import forecast as KF
    from transcriptts.kernels import pelt as KP
    from transcriptts.kernels import smoothing as KS
    from transcriptts.smooth import smooth

    def guarded(fn):
        def ref(x):
            try:
                return np.asarray(fn(x), dtype=float)
            except ValueError:  # the wrappers emit no rows for such a series
                return np.empty(0)
        return ref

    # span, engine call, reference over one series, output (order, value) columns
    return (
        ("smooth.ema", lambda sig: smooth(sig, kind="ema", alpha=EMA_ALPHA),
         guarded(lambda x: KS.ema(x, EMA_ALPHA)), ("pos", "value")),
        ("detect.pelt_l2", lambda sig: detect_changepoints(sig, penalty=PELT_PENALTY, cost="l2"),
         guarded(lambda x: KP.pelt(x, penalty=PELT_PENALTY, cost="l2")), ("breakpoint_idx", "breakpoint_idx")),
        ("forecast.holt", lambda sig: forecast(sig, horizon=HOLT_HORIZON, method="holt"),
         guarded(lambda x: KF.holt(x, HOLT_HORIZON)), ("h", "yhat")),
    )


def _gapfill_reference(g, step_s: int):
    """pandas reindex + ffill / index interpolation of one 1m series."""
    import pandas as pd

    s = g.set_index("bucket_start")["mean"]
    idx = pd.date_range(s.index[0], s.index[-1], freq=f"{step_s}s")
    s = s.reindex(idx)
    return idx, s.isna().to_numpy(), s.ffill().to_numpy(), s.interpolate(method="index", limit_area="inside").to_numpy()


def series_kernels(run: Run) -> None:
    from pyspark.sql import functions as F

    from transcriptts.gapfill import gapfill

    sz, spark, con = run.sizes, run.spark, run.con
    kernels = _kernels()

    def generate():
        """The transcripts, then the kernels' inputs derived from them by
        DuckDB: the per-turn token_count signal and its 1m tier."""
        tbl = inputs.transcripts(inputs.sub_seed(run.seed, 0), sz.kernel_convs)
        inputs.write_files(tbl, run.fresh("input"), INPUT_FILES)
        checks.build_rollup_oracle(con, run.path("input", "*.parquet"))
        for name, query in (
            ("signal", f"SELECT conv_id, turn_idx, {checks.TOKEN_COUNT} AS value "
                       f"FROM read_parquet('{run.path('input', '*.parquet')}')"),
            ("tier1m", "SELECT * REPLACE (bucket_start::TIMESTAMPTZ AS bucket_start) FROM oracle_1m"),
        ):
            os.makedirs(run.fresh(name))
            con.execute(f"COPY ({query}) TO '{run.path(name, 'part-0.parquet')}' (FORMAT parquet)")

    inp = {}  # the kernels' input DataFrames, read once set-up wrote them
    battery = [(name, lambda f=f: f(inp["signal"])) for name, f, *_ in kernels]
    battery.append(("gapfill.gapfill", lambda: gapfill(inp["tier1m"], "1m")))

    def warmup():
        """One unchecked battery over a few conversations: the cold first
        call of every kernel, at a fraction of a battery's cost."""
        few = F.col("conv_id") < "conv-00000040"
        inp.update(signal=spark.read.parquet(run.path("signal")).where(few),
                   tier1m=spark.read.parquet(run.path("tier1m")).where(few))
        for name, make in battery:
            run.warm(name, lambda: make().write.mode("overwrite").parquet(run.fresh("kout", name)))
        inp.update(signal=spark.read.parquet(run.path("signal")), tier1m=spark.read.parquet(run.path("tier1m")))

    run.setup(generate, warmup)
    series = _series(ds.dataset(run.path("signal")).to_table(), ["conv_id"], "turn_idx")
    grid_in = _series(ds.dataset(run.path("tier1m")).to_table(), ["conv_id", "metric"], "bucket_start")
    rng = np.random.default_rng(inputs.sub_seed(run.seed, 9))
    convs = sorted(series)
    sample = [convs[i] for i in rng.choice(len(convs), min(sz.check_sample, len(convs)), replace=False)]
    grid_sample = [k for k in grid_in if (k[0],) in sample]

    def check_kernel(out_path: str, ref, cols) -> list[str]:
        order, value = cols
        out = checks.read_parquet_rows(out_path, pc.field("conv_id").isin([k[0] for k in sample]))
        bad = []
        for k in sample:
            got = out[out["conv_id"] == k[0]].sort_values(order)[value].to_numpy(dtype=float)
            want = ref(series[k]["value"].to_numpy(dtype=float))
            if not np.array_equal(got, want):
                bad.append(f"{k[0]}: {len(got)} values vs {len(want)} expected, or values differ")
        return bad

    def check_gapfill(out_path: str) -> list[str]:
        out = checks.read_parquet_rows(out_path, pc.field("conv_id").isin([k[0] for k in grid_sample]))
        bad = []
        for k in grid_sample:
            got = out[(out["conv_id"] == k[0]) & (out["metric"] == k[1])].sort_values("bucket_start")
            idx, gap, locf, interp = _gapfill_reference(grid_in[k], 60)
            ok = (len(got) == len(idx)
                  and np.array_equal(got["is_gap"].to_numpy(), gap)
                  and np.array_equal(got["mean_locf"].to_numpy(dtype=float), locf, equal_nan=True)
                  and np.allclose(got["mean_interp"].to_numpy(dtype=float), interp, rtol=1e-9, atol=0,
                                  equal_nan=True))
            if not ok:
                bad.append(f"{k}: {len(got)} rows vs {len(idx)} expected, or values differ")
        return bad

    check = {name: (lambda p, r=ref, c=cols: check_kernel(p, r, c)) for name, _, ref, cols in kernels}
    check["gapfill.gapfill"] = check_gapfill
    n_series = {name: len(series) for name, *_ in kernels}
    n_series["gapfill.gapfill"] = len(grid_in)

    for unit in run.loop():
        for name, make in battery:
            rec = run.op(name, unit)
            out = run.fresh("kout", name)
            try:
                _, s = run.call(rec, name, lambda: make().write.mode("overwrite").parquet(out))
                s["groups"] = n_series[name]
                if name == "gapfill.gapfill" and run.tracer.enabled:
                    s["grid_rows"] = ds.dataset(out).count_rows()
                    s["input_rows"] = ds.dataset(run.path("tier1m")).count_rows()
                run.finish(rec, check[name](out))
            except Exception as exc:
                run.fail(rec, exc)

    timed = run.timed()
    battery_s = sum(o["wall_s"] for o in timed) if all(o["ok"] for o in timed) else float("nan")
    run.e2e["unit_s"] = (battery_s, "s")
    run.e2e["work_per_s"] = (sum(n_series.values()) / battery_s, "1/s")
    run.report["series_per_s"] = (sum(n_series.values()) / battery_s, "series/s", 1)
    if run.tracer.enabled:
        run.trace_overhead()
        # the same numpy kernel over every series, in this process, one core
        for name, _, ref, _ in kernels:
            t0 = time.perf_counter()
            for v in series.values():
                ref(v["value"].to_numpy(dtype=float))
            run.layer[f"{name}.numpy_s"] = time.perf_counter() - t0
            ex = [s["executor_run_s"] for s in run.timed_spans() if s["name"] == name]
            if ex:
                run.layer[f"{name}.overhead_ratio"] = median(ex) / run.layer[f"{name}.numpy_s"]


WORKLOADS = {"tier_maintain": tier_maintain, "series_kernels": series_kernels}

