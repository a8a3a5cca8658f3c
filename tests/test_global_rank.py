"""skew.global_rank — exact distributed global row numbering — plus
the package-wide unbounded-window audit (VERDICT r3 "what's wrong" #3:
the zipf full-vocab single-partition rank was the last unpartitioned
window over an unbounded frame; this suite keeps it the last)."""

import glob
import os
import re

from pyspark.sql import functions as F

from ocr_intern_spark.operators.skew import global_rank


def test_global_rank_matches_single_window(spark):
    rows = [(f"tok{i:03d}", (i * 37) % 11 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "tok string, cnt int").repartition(7)
    got = {
        r["tok"]: r["rank"]
        for r in global_rank(df, F.desc("cnt"), F.asc("tok")).collect()
    }
    expected = {
        tok: i + 1
        for i, (tok, _c) in enumerate(
            sorted(rows, key=lambda t: (-t[1], t[0]))
        )
    }
    assert got == expected


def test_global_rank_is_dense_and_total(spark):
    df = spark.range(1000).select(
        F.concat(F.lit("t"), F.col("id")).alias("tok"),
        (F.col("id") % 5).alias("cnt"),
    )
    ranks = [
        r["rank"]
        for r in global_rank(df, F.desc("cnt"), F.asc("tok")).collect()
    ]
    assert sorted(ranks) == list(range(1, 1001))


def test_global_rank_row_number_window_is_partitioned(spark):
    """The data-sized window must carry a partition key (_pid); only
    the `partitions`-row offsets frame may run unpartitioned."""
    df = spark.range(500).select(
        F.concat(F.lit("t"), F.col("id")).alias("tok"),
        (F.col("id") % 5).alias("cnt"),
    )
    plan = (
        global_rank(df, F.desc("cnt"), F.asc("tok"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every Window node either partitions by _pid (the row_number over
    # the data) or consumes the _pid-grouped counts frame (the prefix
    # offsets — `partitions` rows)
    for m in re.finditer(r"Window \[(.*?)\]", plan):
        spec = m.group(0)
        assert "_pid" in spec, f"window without _pid in spec: {spec}"


def test_zipf_plan_has_no_unpartitioned_data_window(spark):
    """q_zipf_fit's only unpartitioned window is the offsets prefix
    sum over spark_partition_id counts (bounded by config)."""
    from ocr_intern_spark.functions.text import q_zipf_fit

    plan = (
        q_zipf_fit(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for m in re.finditer(r"Window \[(.*?)\]", plan):
        assert "_pid" in m.group(0), (
            f"zipf window not keyed by _pid: {m.group(0)}"
        )


def test_every_unpartitioned_window_is_marked_bounded():
    """Source audit: every `Window.orderBy(` (no partitionBy) in the
    package must carry a `bounded-window:` marker comment within the
    six preceding lines stating why its frame is bounded by a
    constant/config, not by data. New unbounded windows fail here."""
    offenders = []
    pkg = os.path.join(os.path.dirname(__file__), "..", "ocr_intern_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines):
            if "Window.orderBy(" not in line:
                continue
            if line.lstrip().startswith("#") or "single-reducer" in line:
                continue  # prose/docstring mention, not a call
            ctx = "\n".join(lines[max(0, i - 6): i + 1])
            if "bounded-window:" not in ctx:
                offenders.append(f"{path}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "unpartitioned windows without a bounded-window justification:\n"
        + "\n".join(offenders)
    )


def test_two_branch_union_ranks_stay_dense(spark):
    """Regression for the AQE double-execution hazard: global_rank's
    first pass (repartitionByRange + spark_partition_id) feeds two
    subtrees; if the range exchange is planned independently for each
    (exchange reuse is an optimization, not a guarantee) the _pid
    labeling can disagree and ranks duplicate. Observed as 200-row
    'files' in table_zonemap_prune_stats at sf0.01 before the
    materialize-between-passes fix. Shape under test: a UNION of two
    global_rank branches over the same frame — the shape that
    triggered it."""
    from pyspark.sql import functions as F

    from ocr_intern_spark.operators.skew import global_rank

    df = spark.range(20000).select(
        F.col("id"),
        (F.xxhash64(F.col("id")) % 10007).alias("k"),
    )
    a = global_rank(df, F.asc("k"), F.asc("id"), rank_name="rk")
    b = global_rank(df, F.desc("id"), rank_name="rk")
    u = a.select(F.lit("a").alias("l"), "rk").unionByName(
        b.select(F.lit("b").alias("l"), "rk")
    )
    got = {
        r["l"]: (r["n"], r["d"], r["mx"])
        for r in u.groupBy("l")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("rk").alias("d"),
            F.max("rk").alias("mx"),
        )
        .collect()
    }
    assert got == {"a": (20000, 20000, 20000), "b": (20000, 20000, 20000)}


def _brute_skyline(pts):
    out = []
    for p in pts:
        dom = any(
            q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1])
            for q in pts
        )
        if not dom:
            out.append(p)
    return sorted(out)


def test_pareto_front_matches_brute_force_with_ties(spark):
    from ocr_intern_spark.operators.skew import pareto_front

    # adversarial frame: duplicate points (both must survive), x-ties
    # with different y (only group max survives), staircase fronts
    pts = [
        (10, 1), (10, 5), (9, 5), (9, 6), (8, 6), (8, 6), (7, 7),
        (7, 2), (6, 7), (5, 8), (5, 8), (4, 3), (3, 9), (3, 9),
        (2, 1), (1, 10), (1, 4), (0, 0), (10, 5),
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    # partitions=5 forces the prefix-max path across range partitions
    got = sorted(
        (r["x"], r["y"])
        for r in pareto_front(df, "x", "y", partitions=5).collect()
    )
    assert got == _brute_skyline(pts)


def test_pareto_front_single_point_and_all_dominated(spark):
    from ocr_intern_spark.operators.skew import pareto_front

    df = spark.createDataFrame([(1, 1)], "x long, y long")
    assert [(r["x"], r["y"]) for r in pareto_front(df, "x", "y").collect()] == [(1, 1)]
    chain = spark.createDataFrame(
        [(i, i) for i in range(6)], "x long, y long"
    )
    # a monotone chain's skyline is its max point only
    assert [(r["x"], r["y"]) for r in pareto_front(chain, "x", "y", partitions=3).collect()] == [(5, 5)]


def test_pareto_and_prefix_sum_properties(spark):
    """Randomized (seeded) frames vs serial references: pareto_front
    equals brute-force dominance and global_prefix_sum equals the
    serial exclusive scan, across duplicate-heavy and skewed draws
    and partition counts that force multi-partition paths."""
    import random

    from ocr_intern_spark.operators.skew import (
        global_prefix_sum,
        pareto_front,
    )
    from pyspark.sql import functions as F

    rng = random.Random(1307)
    for trial in range(4):
        n = rng.choice([1, 7, 40, 200])
        pts = [
            (rng.randrange(10), rng.randrange(10)) for _ in range(n)
        ]  # small domain => heavy ties/duplicates
        df = spark.createDataFrame(pts, "x long, y long")
        p = rng.choice([2, 3, 5])
        got = sorted(
            (r["x"], r["y"])
            for r in pareto_front(df, "x", "y", partitions=p).collect()
        )
        assert got == _brute_skyline(pts), (trial, n, p)

        vals = [(i, rng.randrange(100)) for i in range(n)]
        rng.shuffle(vals)
        vdf = spark.createDataFrame(vals, "k long, v long")
        out = {
            r["k"]: r["ps"]
            for r in global_prefix_sum(
                vdf, "v", F.asc("k"), sum_name="ps", partitions=p
            ).collect()
        }
        acc = 0
        for k, v in sorted(vals):
            assert out[k] == acc, (trial, k)
            acc += v
