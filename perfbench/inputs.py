"""Seeded input generation. Every input of a run derives from `--seed`;
the engine sees only the parquet files written here."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from transcriptts.synth import BASE_TS_US, synth_transcripts_arrow

DAY_US = 86_400_000_000  # one day in microseconds


def sub_seed(seed: int, *parts: int) -> int:
    """A 31-bit seed for one input of a run, stable across processes."""
    return int(np.random.SeedSequence([seed, *parts]).generate_state(1)[0] & 0x7FFFFFFF)


def _utc(tbl: pa.Table) -> pa.Table:
    """Timestamps as UTC-adjusted micros: Spark reads them as TIMESTAMP,
    the engine's input type."""
    i = tbl.schema.get_field_index("ts")
    return tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("us", tz="UTC")))


def write_files(tbl: pa.Table, path: str, files: int) -> None:
    """Write `tbl` as `files` parquet files so Spark scans it in parallel."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def transcripts(seed: int, n_convs: int) -> pa.Table:
    """Conversations of geometric length (mean 12 turns), none hot: a few
    hot ones in a small corpus would make the work swing from seed to seed."""
    return _utc(synth_transcripts_arrow(n_convs=n_convs, seed=seed, hot_fraction=0.0, metronome_turns=0))


def day_batches(seed: int, days: int, convs_per_day: int, turns_per_day: int, carry_share: float,
                metronome_turns: int) -> list[pa.Table]:
    """One transcripts table per day, every turn inside its own day, so a
    day appended later never lands before the pipeline's watermark.

    Day d's turns are shifted by d whole days and its conversations are
    named `d<dd>-...`; the first `carry_share` of them continue a
    conversation of day d-1 instead (same conv_id, turn_idx carried on),
    which sends the incremental run through its cross-cutoff seed path.
    Each day also holds one metronome conversation at 1 turn/s from noon:
    a hot bucket in every tier.

    Of the `convs_per_day` conversations generated, a day keeps the first
    `turns_per_day` turns (cutting the last conversation kept short), so
    every seed gives days of the same size.
    """
    n_carry = int(convs_per_day * carry_share)
    turns_so_far: dict[str, int] = {}
    prev_ids: list[str] = []
    out = []
    for d in range(days):
        tbl = synth_transcripts_arrow(
            n_convs=convs_per_day, seed=sub_seed(seed, 1, d), metronome_turns=metronome_turns,
            hot_fraction=0.02, hot_factor=10,
        )
        ts = tbl.column("ts").cast(pa.int64()).to_numpy() + d * DAY_US
        # the metronome starts at noon, so every day holds all its turns
        is_metro = pc.ends_with(tbl.column("conv_id"), "metronome").to_numpy(zero_copy_only=False)
        ts[is_metro] = int(BASE_TS_US) + d * DAY_US + DAY_US // 2 + np.arange(is_metro.sum()) * 1_000_000
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", pa.array(ts, type=pa.timestamp("us")))
        in_day = ts < int(BASE_TS_US) + (d + 1) * DAY_US
        other = np.flatnonzero(in_day & ~is_metro)
        if len(other) < turns_per_day:
            raise ValueError(f"day {d}: {len(other)} turns generated, fewer than turns_per_day={turns_per_day}")
        keep = is_metro & in_day
        keep[other[:turns_per_day]] = True
        tbl = tbl.filter(pa.array(keep))
        src_ids = tbl.column("conv_id").to_numpy(zero_copy_only=False)
        turn = tbl.column("turn_idx").to_numpy().astype(np.int64)
        # synth emits each conversation's turns contiguously, in order
        starts = np.flatnonzero(np.r_[True, src_ids[1:] != src_ids[:-1]])
        ends = np.r_[starts[1:], len(src_ids)]
        conv = np.empty(len(src_ids), dtype=object)
        for k, (s, e) in enumerate(zip(starts, ends)):
            cid = prev_ids[k] if k < min(n_carry, len(prev_ids)) else f"d{d:02d}-{src_ids[s]}"
            turn[s:e] += turns_so_far.get(cid, 0)
            conv[s:e] = cid
            turns_so_far[cid] = int(turn[e - 1]) + 1
        prev_ids = [c for c in conv[starts] if not c.endswith("metronome")]
        tbl = tbl.set_column(0, "conv_id", pa.array(conv, type=pa.string())).set_column(
            1, "turn_idx", pa.array(turn, type=pa.int32()))
        out.append(_utc(tbl))
    return out
