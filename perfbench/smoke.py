"""Smoke test of the benchmark itself at tiny sizes (a few minutes):

    python3 -m pytest perfbench/smoke.py -q -p no:cacheprovider

Checks that every metric BENCHMARK.json names is emitted with its unit,
untraced and traced, and that a deliberately corrupted engine output is
counted as a failed operation. The file name keeps it out of a plain
`pytest` run of the repo: it is named on the command line. Its session is
torn down completely and the environment restored, so Spark tests can run
after it in the same process.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest

from perfbench import run as bench_run
from perfbench.workloads import WORKLOADS, Sizes

TINY = Sizes(maintain_convs_per_day=40, maintain_turns_per_day=200, maintain_metronome=120, kernel_convs=40, check_sample=4)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(bench_run.ROOT, ".bench_work", "smoke")
    shutil.rmtree(work, ignore_errors=True)
    saved = dict(os.environ)
    bench_run.prepare_env(work)
    session = bench_run.start_session(work)
    yield session
    bench_run.stop_session(session)
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = None
    shutil.rmtree(work, ignore_errors=True)


def _bench(spark, workload: str, trace: int) -> tuple[list[str], dict]:
    work = os.path.join(bench_run.ROOT, ".bench_work", "smoke", f"{workload}-{trace}")
    return bench_run.bench(spark, workload, seed=3, seconds=0, trace=trace, work=work,
                           started=time.perf_counter(), sizes=TINY)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_emitted_with_its_unit(spark, workload, trace):
    spec = bench_run.load_spec()
    lines, result = _bench(spark, workload, trace)
    assert "metric failed_op_share = 0 share" in "\n".join(lines)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_output_counts_as_failed(spark, monkeypatch):
    import transcriptts.smooth
    from pyspark.sql import functions as F

    real = transcriptts.smooth.smooth
    monkeypatch.setattr(transcriptts.smooth, "smooth",
                        lambda *a, **k: real(*a, **k).withColumn("value", F.col("value") + 1.0))
    lines, result = _bench(spark, "series_kernels", trace=0)
    # one battery of four kernels; only the smoothing output is wrong
    assert not result["correct"]
    assert result["failed"] == 1 and result["attempted"] == 4
    assert "metric failed_op_share = 0.25 share (n=4)" in lines
