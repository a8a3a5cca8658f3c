"""Round-5 regression pins.

1. text_ccnet_buckets derives its bucket denominator `n` from the
   PERSISTED global_rank frame (max(rk)), not from a re-derivation of
   the bigram-LM scoring DAG — VERDICT r4 "What's wrong" #1.
2. bench.py emits a compact, tail-capture-safe result line and writes
   the verbose record to BENCH/last_run.json — VERDICT r4 #4.
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def test_ccnet_n_comes_from_persisted_rank_frame(spark):
    """The broadcast scalar `n` must be max(rk) off global_rank's
    materialized intermediate (the cached lineage reprints under
    InMemoryTableScan with the SAME plan_ids). The old shape — a
    count(1) aggregate over a second, independently-planned copy of
    the bigram scoring subtree — was a potential 2× of the dominant
    LM pass at scale."""
    from ocr_intern_spark.functions.text import q_ccnet_buckets

    df = q_ccnet_buckets(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "max(rk" in plan, "n is no longer derived from the rank frame"
    # the persisted two-pass rank intermediate is present
    assert "InMemoryTableScan" in plan


def test_ccnet_values_unchanged_by_n_source(spark):
    """max(rk) == count(base) by construction (dense 1..N rank);
    spot-check bucket boundaries stay exact."""
    from ocr_intern_spark.functions.text import q_ccnet_buckets

    rows = q_ccnet_buckets(spark, SF).collect()
    n = len(rows)
    assert n == 500
    buckets = [r["bucket"] for r in rows]
    assert set(buckets) == {"head", "middle", "tail"}
    # tertile sizes: ((rk-1)*3) div n over 1..500 → 167/167/166
    from collections import Counter

    c = Counter(buckets)
    assert c["head"] == 167 and c["middle"] == 167 and c["tail"] == 166


def test_pareto_front_matches_quadratic_reference(spark):
    """Property pin for skew.pareto_front (its second consumer,
    text_curation_skyline, landed this round): on randomized integer
    point sets — duplicates and axis ties included — the distributed
    two-pass skyline equals the quadratic dominance reference, across
    several partition counts (partition boundaries are the failure
    surface of the range-partitioned running max)."""
    import random

    from ocr_intern_spark.operators.skew import pareto_front

    rng = random.Random(1517)
    for trial in range(6):
        # small value domain ⇒ dense ties; equal points must ALL
        # survive (equal points do not dominate each other)
        pts = [
            (i, rng.randint(0, 8), rng.randint(0, 8))
            for i in range(rng.randint(1, 60))
        ]
        expect = sorted(
            (i, x, y)
            for (i, x, y) in pts
            if not any(
                qx >= x and qy >= y and (qx > x or qy > y)
                for (_j, qx, qy) in pts
            )
        )
        df = spark.createDataFrame(pts, "id long, x long, y long")
        for parts in (1, 3, 16):
            got = sorted(
                (r["id"], r["x"], r["y"])
                for r in pareto_front(
                    df, "x", "y", partitions=parts
                ).collect()
            )
            assert got == expect, (
                f"trial {trial} partitions {parts}: {got} != {expect}"
            )


def test_curation_skyline_is_undominated_and_nonvacuous(spark):
    """The registered skyline query: every returned doc is
    undominated against the FULL corpus, and the front is non-empty
    (the corpus always has a max-quality doc)."""
    from ocr_intern_spark.operators.curation import q_curation_skyline
    from pyspark.sql import functions as F  # noqa: F811

    front = q_curation_skyline(spark, SF).collect()
    assert front
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.expr(
            "CASE WHEN length(text) = 0 THEN 0 ELSE "
            "length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000 "
            "DIV length(text) END"
        ).alias("q"),
        F.expr(
            "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "size(split(trim(text), '\\\\s+')) END"
        ).alias("t"),
    )
    all_pts = [(r["q"], r["t"]) for r in d.collect()]
    for r in front:
        q, t = r["quality_ppm"], r["n_tokens"]
        dominated = any(
            oq >= q and ot <= t and (oq > q or ot < t)
            for (oq, ot) in all_pts
        )
        assert not dominated, f"{r['doc_id']} is dominated"


def test_shingle_index_checkpoint_table_swap(spark, tmp_path):
    """VERDICT r4 stretch #8: the 'cache → checkpoint table at
    100 TB' story for the ngram-Jaccard shingle index is a tested
    code path, not a docstring. Running the query with the index
    materialized through the storage adapter's durable table must
    produce IDENTICAL pairs to the default checkpoint path, and a
    re-run must RESUME from the existing table without rewriting it."""
    import os

    from ocr_intern_spark.operators.dedup import q_ngram_jaccard_pairs
    from ocr_intern_spark.sources.storage import checkpoint_table

    root = str(tmp_path)
    default = sorted(
        tuple(r) for r in q_ngram_jaccard_pairs(spark, SF).collect()
    )
    via_table = sorted(
        tuple(r)
        for r in q_ngram_jaccard_pairs(
            spark, SF, materialize=checkpoint_table(root, "shingle_index")
        ).collect()
    )
    assert via_table == default and default  # identical, non-vacuous

    table_dir = os.path.join(root, "shingle_index")
    files_before = {
        f: os.path.getmtime(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
    }
    rerun = sorted(
        tuple(r)
        for r in q_ngram_jaccard_pairs(
            spark, SF, materialize=checkpoint_table(root, "shingle_index")
        ).collect()
    )
    files_after = {
        f: os.path.getmtime(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
    }
    assert rerun == default
    assert files_after == files_before, "resume path rewrote the table"


def test_checkpoint_table_rewrites_uncommitted_partial(spark, tmp_path):
    """ADVICE r5 (medium): a crash mid-write leaves part files but no
    _SUCCESS marker — the resume check must REWRITE such a table, not
    trust it (a partial shingle index silently yields wrong pairs).
    Reuse is gated on the job-commit marker."""
    import os

    from ocr_intern_spark.sources.storage import checkpoint_table

    root = str(tmp_path)
    table_dir = os.path.join(root, "t")
    os.makedirs(table_dir)
    # simulate the crash artifact: one orphan part file, NO _SUCCESS
    with open(os.path.join(table_dir, "part-00000-dead.parquet"), "wb") as f:
        f.write(b"\x00")
    df = spark.range(5).withColumnRenamed("id", "v")
    out = checkpoint_table(root, "t")(df)
    assert sorted(r["v"] for r in out.collect()) == [0, 1, 2, 3, 4]
    assert os.path.isfile(os.path.join(table_dir, "_SUCCESS"))
    # and a committed table IS reused: drop a sentinel mtime check
    before = {
        f: os.path.getmtime(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
    }
    again = checkpoint_table(root, "t")(df)
    assert sorted(r["v"] for r in again.collect()) == [0, 1, 2, 3, 4]
    after = {
        f: os.path.getmtime(os.path.join(table_dir, f))
        for f in os.listdir(table_dir)
    }
    assert after == before, "committed table was rewritten"


def test_bench_fast_emits_compact_parseable_tail_line():
    """Driver contract: BENCH_r{N}.json records the LAST line of
    bench.py output; r4 recorded "parsed": null because the single
    result line outgrew the tail capture. The compact line must stay
    small and parse on its own, with the verbose record in
    BENCH/last_run.json."""
    import os
    import tempfile

    # detail goes to a TEMP path: the default would overwrite the
    # COMMITTED full-protocol artifact BENCH/last_run.json with this
    # test's sf0.001 record (it did, once)
    detail_path = os.path.join(
        tempfile.mkdtemp(prefix="bench_detail_"), "last_run.json"
    )
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "bench.py"),
         "--fast"],
        capture_output=True,
        text=True,
        timeout=1800,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": SF,
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_DETAIL": detail_path,
        },
    )
    assert out.returncode == 0, out.stderr[-2000:]
    last = out.stdout.strip().splitlines()[-1]
    parsed = json.loads(last)  # must parse as-is
    assert parsed["metric"] == "headline_queries_total_wall"
    assert "queries" in parsed and parsed["queries"]
    assert "query_attempts" not in parsed  # verbose keys stay off the line
    assert parsed["detail"] == detail_path
    assert len(last) < 4000, f"compact line too long: {len(last)} bytes"
    detail = json.load(open(detail_path))
    assert detail["queries"] == parsed["queries"]
    assert "query_attempts" in detail
    # north-rule span gate recorded in the bench artifact (VERDICT r4 #6)
    assert parsed["span_match"]["pct"] == 100.0
