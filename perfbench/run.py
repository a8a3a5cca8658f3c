"""Seeded end-to-end benchmark of ocr_intern_spark.

Run from the root of a source tree:

    python3 perfbench/run.py --workload extract_media --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[nproc]``: it starts a Spark
session, generates the workload's inputs from the seed, warms up, then
repeats timed passes for ``--seconds`` and checks the outputs of the
last pass against an oracle. With ``--trace 1`` it also runs one
traced pass and the per-layer measurements. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics
traced). Each run also writes a record, with the host record and, when
traced, the spans and their stage rows, to ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "3g"


def session(work_dir: str, nproc: int):
    """``local[nproc]`` with a heap well below host RAM (fixed from the
    start, so heap sizing does not drift between passes), console
    progress off, scratch space inside the tree, and the Python
    workers importing the package from the tree under test."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:+UseParallelGC -XX:ReservedCodeCacheSize=256m "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.pyspark.python", sys.executable)
        .config("spark.pyspark.driver.python", sys.executable)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executorEnv.TMPDIR", tmp)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM (and with it the
    Python workers) and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(spark, sampler, workload: str, seed: int, seconds: float,
            trace: bool, work_dir: str, session_s: float = 0.0,
            **workload_args) -> tuple[dict, dict]:
    """Run one workload; return the result line and the run record."""
    from perfbench.tracing import Tracer, old_gen_peak_mb, stage_totals
    from perfbench.workloads import LAYER_UNITS, WORKLOADS, Checks, timed

    wl = WORKLOADS[workload](spark, work_dir, seed, **workload_args)
    load_s = wl.prepare()
    warm_s = timed(wl.warm)
    setup_s = session_s + load_s + warm_s

    checks = Checks()
    passes: list[dict] = []
    deadline = time.monotonic() + seconds
    while True:
        try:
            with sampler.window():
                passes.append(wl.run_pass())
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            checks.expect(False, "pass raised")
        if time.monotonic() >= deadline:
            break
    if not passes:
        raise RuntimeError(f"{workload}: no timed pass completed")
    memory = {
        "jvm_rss_mb": (sampler.peak_jvm_rss / 2**20, "MB"),
        "python_rss_mb": (sampler.peak_python_rss / 2**20, "MB"),
        "old_gen_peak_mb": (old_gen_peak_mb(spark.sparkContext), "MB"),
    }
    checks.attempted += len(passes)
    t0 = time.perf_counter()
    try:
        wl.check(checks)
    except Exception:  # noqa: BLE001 - a failed check is counted, not fatal
        traceback.print_exc()
        checks.expect(False, "check raised")
    check_s = time.perf_counter() - t0
    pass_s = statistics.median(sum(p.values()) for p in passes)

    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "setup": {"session_s": session_s, "inputs_s": load_s, "warm_s": warm_s,
                  "corpus_s": wl.corpus_s},
        "passes": passes, "check_s": check_s, "notes": checks.notes[:50],
    }
    detail = {
        "pass_s": (pass_s, "s"),
        **wl.detail(passes),
        **memory,
        "span_match_pct": (checks.match_pct(), "%"),
        "failed_frac": (checks.failed / max(1, checks.attempted), "ratio"),
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "peak_rss_mb": (sampler.peak_rss / 2**20, "MB"),
    }
    if trace:
        tracer = Tracer(spark.sparkContext, workload)
        with tracer.span("pass"):
            traced_s = wl.traced_pass(tracer)
        wl.layers(tracer)
        tracer.attach_stages()
        layer = {k: 0.0 for k in LAYER_UNITS}
        layer.update(wl.layer_metrics(tracer))
        layer["corpus.s"] = wl.corpus_s
        layer["engine.gc_s"] = stage_totals(tracer.stages())["gc_s"]
        layer.update({f"engine.{k}": v for k, (v, _u) in memory.items()})
        layer["trace.overhead_s"] = traced_s - pass_s
        metrics = {k: (float(layer[k]), LAYER_UNITS[k]) for k in LAYER_UNITS}
        record["spans"] = tracer.spans
        record.update(wl.trace_record())
    record["detail"] = {k: v for k, (v, _u) in detail.items()}
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["human"] = {**detail, **metrics}
    return result, record


def report_lines(workload: str, result: dict, record: dict) -> list[str]:
    """Every metric by name with its unit, the host record, then the
    result object as the last line."""
    host = record["host"]
    lines = [f"{workload} {name} = {value:.6g} {unit}"
             for name, (value, unit) in record["human"].items()]
    lines.append(
        f"{workload} host nproc={host['nproc']} "
        f"load1={host['load1_start']:.2f}->{host['load1_end']:.2f} "
        f"other_busy_cores={host['other_busy_cores']:.2f}")
    lines.append(json.dumps(result))
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ocr_intern_spark")):
        print(f"no ocr_intern_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench.tracing import HostSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    sampler = HostSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session(work_dir, sampler.record["nproc"])
        session_s = time.perf_counter() - t0
        result, record = measure(spark, sampler, args.workload, args.seed,
                                 args.seconds, bool(args.trace), work_dir,
                                 session_s=session_s)
    finally:
        if spark is not None:
            shutdown(spark)
        record_host = sampler.close()
        shutil.rmtree(work_dir, ignore_errors=True)
    record["host"] = record_host
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for line in report_lines(args.workload, result, record):
        print(line)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
