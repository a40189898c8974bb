#!/usr/bin/env python3
"""Seeded benchmark of the transcriptts tier engine.

    python3 perfbench/run.py --workload tier_maintain --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) against the engine's public functions
at local[4], one Spark action at a time, checking every timed operation's
output. The metrics come from one unit of work, the first after set-up;
until --seconds have passed, extra units run, checked and recorded, that
move no metric. Prints a human-readable report, then as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics, taken from spans around each engine call
(their status-store reads are timed as the tracing overhead).

Everything the run writes stays under .bench_work/ in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def heap_size() -> str:
    """An eighth of MemTotal, between 1 and 8 GiB. With a quarter (4 GB of
    16 GB), G1 let the JVM grow to anywhere between 1.8 and 2.8 GB from
    one tier_maintain run to the next, and the peak RSS followed."""
    mem_kb = _meminfo_kb()
    return f"{max(1024, min(8192, mem_kb // 8192))}m"


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def prepare_env(work: str) -> None:
    """Keep every file the run, Spark, the JVM and the Python workers write
    inside `work`, and let the workers import the engine from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_TMPFS"] = "0"  # no shuffle dir on /dev/shm
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no /tmp/hsperfdata files, JVM temp files under `work`
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from transcriptts.session import get_spark

    return get_spark(
        app_name="transcriptts-perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": heap_size(),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended.
    Afterwards a new session can start in the same process: pyspark would
    otherwise reuse the closed gateway."""
    from pyspark import SparkContext

    from .trace import alive, descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers were the JVM's children; nobody here can reap them, so
    # wait until they are gone, then kill what is left
    deadline = time.monotonic() + 30
    while alive(workers) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive(workers):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while alive(workers):
        time.sleep(0.1)


def _git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "mem_total_mb": _meminfo_kb() // 1024,
        "heap": heap_size(),
        "load1": os.getloadavg()[0],
        "git_sha": _git_sha(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def load_spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def _finite(v: float) -> float:
    """A metric as a JSON number: NaN (no operation of its kind passed its
    check; the result is then not `correct`) becomes 0."""
    return float(v) if math.isfinite(v) else 0.0


def per_layer_values(run, spec: dict) -> dict:
    """Every per-layer metric of the spec, from the run's spans. A span
    name has the form <module>.<call>; a metric is <span>.<measure>, or a
    run-level value such as trace_overhead_s."""
    from .trace import span_summary

    names = sorted({m["name"].rsplit(".", 1)[0] for m in spec["per_layer"] if m["name"].count(".") >= 2})
    summary = span_summary(run.timed_spans(), tuple(names))
    out = {}
    for m in spec["per_layer"]:
        if m["name"] in run.layer:
            v = run.layer[m["name"]]
        else:
            span, measure = m["name"].rsplit(".", 1)
            v = summary.get(span, {}).get(measure, 0)
        out[m["name"]] = {"value": _finite(v), "unit": m["unit"]}
    return out


def bench(spark, workload: str, seed: int, seconds: float, trace: int, work: str,
          started: float, sizes=None) -> tuple[list[str], dict]:
    """Run one workload on a live session. `started` is the perf_counter()
    of process start, where `setup_s` begins. Returns the report lines and
    the result object; writes the run record under .bench_work/records."""
    from .trace import StageMetrics, Tracer, peak_rss_mb, span_summary
    from .workloads import WORKLOADS, Run, Sizes

    spec = load_spec()
    session_s = time.perf_counter() - started
    steal0 = steal_s()
    env = environment(spark)
    tracer = Tracer(StageMetrics(spark, CORES) if trace else None)
    run = Run(spark, work, seed, seconds, tracer, sizes or Sizes())
    try:
        WORKLOADS[workload](run)
    finally:
        run.con.close()
    rss, env["peak_rss_parts_mb"] = peak_rss_mb(os.getpid())
    env["load1_end"] = os.getloadavg()[0]
    env["steal_s"] = steal_s() - steal0

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    # from process start to the first timed op: session, inputs, warm-up
    run.e2e["setup_s"] = (run.first_op_at - started if run.first_op_at else float("nan"), "s")
    run.e2e["peak_rss_mb"] = (rss, "MB")
    run.report.update(
        setup_s=(run.e2e["setup_s"][0], "s", 1),
        peak_rss_mb=(rss, "MB", 1),
        failed_op_share=(failed / attempted if attempted else 1.0, "share", attempted),
    )

    record = {"workload": workload, "seed": seed, "trace": trace, "env": env,
              "session_s": session_s, "generate_s": run.generate_s, "warmup_s": run.warmup_s,
              "warmup_calls": run.warmup_calls, "ops": run.ops,
              "report": run.report, "layer": run.layer, "spans": tracer.spans}
    record_dir = os.path.join(ROOT, ".bench_work", "records")
    os.makedirs(record_dir, exist_ok=True)
    record_path = os.path.join(record_dir, f"{workload}-seed{seed}-trace{trace}.json")
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    lines = [f"# perfbench {workload} seed={seed} trace={trace} record={record_path}",
             "env " + json.dumps(env, sort_keys=True)]
    lines += [f"metric {name} = {value:.6g} {unit} (n={n})" for name, (value, unit, n) in sorted(run.report.items())]
    lines += [f"failed op {o['op']} {o['kind']}: {o['error']}" for o in run.ops if not o["ok"]]
    if trace:
        names = tuple(sorted({s["name"] for s in tracer.spans}))
        for name, meas in span_summary(tracer.spans, names).items():
            lines.append(f"span {name} " + " ".join(f"{k}={v:.6g}" for k, v in meas.items()))
        lines += [f"layer {name} = {value:.6g}" for name, value in sorted(run.layer.items())]
        metrics = per_layer_values(run, spec)
    else:
        metrics = {m["name"]: {"value": _finite(run.e2e[m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]}
    return lines, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None, started: float = PROCESS_START) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "transcriptts")):
        print(f"perfbench: the engine package transcriptts/ is missing under {ROOT}", file=sys.stderr)
        return 2
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    spark = start_session(work)
    try:
        lines, result = bench(spark, args.workload, args.seed, args.seconds, args.trace, work, started)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script: make `perfbench` importable as a package
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main(started=PROCESS_START))
