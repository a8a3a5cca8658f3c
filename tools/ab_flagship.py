"""Pinned-commit flagship A/B (VERDICT r3 'Next round' #6).

Round-2 quiet-window flagship: 4.6-5.7 s; round-3 quiet samples drifted
to 7.5-8.0 s on a byte-identical extract path. Suspects: session-start
import-graph/registry growth, JIT pressure, or plain host decay across
boots. This harness resolves it: alternate the r2-end commit and HEAD
x N in ONE quiet window, same corpus, fresh python+JVM per attempt
(mirroring bench.py's headline protocol: warm at sf0.001, then
best-of-2 timed runs of extract_full_pipeline at sf0.1).

Usage:
    python tools/ab_flagship.py --setup          # create the r2 worktree
    python tools/ab_flagship.py                  # run the A/B (quiet box!)
    python tools/ab_flagship.py --worker <dir>   # internal: one attempt
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HEAD_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
R2_COMMIT = "c7401f5"  # "round 2: end-of-round snapshot"
R2_DIR = "/tmp/ab_r2_worktree"
SF_DIR = "/root/testdata/sf0.1"
ROUNDS = int(os.environ.get("AB_ROUNDS", "3"))


def worker(repo_dir: str) -> None:
    sys.path.insert(0, repo_dir)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName(f"ab-{os.path.basename(repo_dir)}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    fn = entry.queries()["extract_full_pipeline"]

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    mat(fn(spark, "/root/testdata/sf0.001"))  # warm: JIT+codegen+Arrow
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        mat(fn(spark, SF_DIR))
        best = min(best, time.perf_counter() - t0)
    print(f"ABRESULT {best:.3f}")


def setup() -> None:
    if os.path.isdir(R2_DIR):
        print(f"worktree already at {R2_DIR}")
        return
    subprocess.run(
        ["git", "-C", HEAD_DIR, "worktree", "add", R2_DIR, R2_COMMIT],
        check=True,
    )
    print(f"r2 worktree at {R2_DIR}")


def one_attempt(repo_dir: str) -> float:
    # PYTHONPATH (not sys.path.insert) so Spark's PYTHON WORKERS — a
    # separate process tree that unpickles `ocr_intern_spark.*`
    # closures — resolve the same side's package as the driver
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", repo_dir],
        capture_output=True, text=True, cwd="/tmp",
        env={**os.environ, "PYTHONPATH": repo_dir},
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError(f"worker for {repo_dir} failed")
    line = [l for l in out.stdout.splitlines() if l.startswith("ABRESULT ")][-1]
    return float(line.split()[1])


def main() -> None:
    if "--worker" in sys.argv:
        worker(sys.argv[sys.argv.index("--worker") + 1])
        return
    if "--setup" in sys.argv:
        setup()
        return
    setup()
    results = {"r2": [], "head": []}
    loads = {"r2": [], "head": []}

    def wait_quiet(limit=1.0, timeout=420.0):
        # each attempt burns all 32 cores for minutes, so the 1-min
        # load average needs real decay time between attempts — the
        # first A/B run launched attempts at loads 9-14 (its OWN tail)
        # and measured the queue, not the code
        t0 = time.monotonic()
        while time.monotonic() - t0 < timeout:
            load = os.getloadavg()[0]
            if load < limit:
                return load
            time.sleep(10)
        return os.getloadavg()[0]

    for i in range(ROUNDS):
        for tag, d in (("r2", R2_DIR), ("head", HEAD_DIR)):
            loads[tag].append(round(wait_quiet(), 2))
            results[tag].append(round(one_attempt(d), 3))
    print(json.dumps({
        "flagship_sf0.1_best_of_2_sec": results,
        "min": {k: min(v) for k, v in results.items()},
        "attempt_launch_loads": loads,
        "r2_commit": R2_COMMIT,
    }))


if __name__ == "__main__":
    main()
