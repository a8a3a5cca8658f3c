"""Checkpoint/resume idempotency (SURVEY.md §4 item 3, B3 semantics)."""

import pytest

from ocr_intern_spark.operators.extract import extract
from ocr_intern_spark.sources.corpus import corpus_to_spark, stub_ocr_tokens
from ocr_intern_spark.sources.storage import ExtractionStore


@pytest.fixture()
def store(tmp_path):
    return ExtractionStore(str(tmp_path / "warehouse"))


def _extract_fn(docs):
    return extract(docs, stub_ocr_tokens)


def test_resume_is_idempotent(spark, store):
    docs = corpus_to_spark(spark, 30, seed=42)

    first = store.run_resumable(docs.limit(10), _extract_fn, run_id="r1")
    assert first["docs_written"] == 10

    # re-run over the FULL input: only the 20 new docs are processed
    second = store.run_resumable(docs, _extract_fn, run_id="r2")
    assert second["docs_written"] == 20

    # lineage is PER RUN: r2's metrics cover its 20 docs, not the
    # cumulative table
    m2 = store.metrics(spark).where("run_id = 'r2'").collect()
    assert sum(r["docs"] for r in m2) == 20

    # third run: nothing left
    third = store.run_resumable(docs, _extract_fn)
    assert third["docs_written"] == 0

    # no duplicates, full coverage
    back = spark.read.parquet(store.extracted_path)
    assert back.count() == 30
    assert back.select("doc_id").distinct().count() == 30


def test_metrics_rows_written(spark, store):
    docs = corpus_to_spark(spark, 12, seed=42)
    res = store.run_resumable(docs, _extract_fn, run_id="run-a")
    m = store.metrics(spark).where("run_id = 'run-a'").collect()
    assert len(m) >= 1
    assert sum(r["docs"] for r in m) == 12
    assert all(r["wall_ms"] > 0 for r in m)
    total_spans = sum(r["spans_out"] for r in m)
    assert total_spans > 0
    assert res["docs_written"] == 12
    # stage-write observation (zero-extra-action totals) agrees with
    # the per-partition lineage aggregation over the staged files
    assert res["observed"]["docs"] == 12
    assert res["observed"]["spans_out"] == total_spans
    assert res["observed"]["errors"] == sum(r["errors"] for r in m)


def test_staging_dir_cleaned_up(spark, tmp_path):
    """Stage-then-commit leaves no _staging_* directories behind."""
    import os

    from ocr_intern_spark.operators.extract import extract
    from ocr_intern_spark.sources.corpus import corpus_to_spark, stub_ocr_tokens
    from ocr_intern_spark.sources.storage import ExtractionStore

    store = ExtractionStore(str(tmp_path / "wh"))
    docs = corpus_to_spark(spark, 6, seed=5)
    res = store.run_resumable(docs, lambda d: extract(d, stub_ocr_tokens))
    assert res["docs_written"] == 6
    leftovers = [p for p in os.listdir(store.root) if p.startswith("_staging_")]
    assert leftovers == []


def test_upsert_replaces_matched_and_inserts_new(spark, store):
    """MERGE semantics: WHEN MATCHED replace, WHEN NOT MATCHED insert
    — the re-extraction path after an operator upgrade."""
    from pyspark.sql import functions as F

    docs = corpus_to_spark(spark, 6, seed=42)
    store.run_resumable(docs, _extract_fn, run_id="r1")
    before = {
        r["doc_id"]: len(r["spans"])
        for r in spark.read.parquet(store.extracted_path).collect()
    }
    assert len(before) == 6

    # "re-extraction" of 2 docs with CHANGED output (spans truncated
    # to 1) + 1 brand-new doc
    target_ids = sorted(before)[:2]
    redone = (
        spark.read.parquet(store.extracted_path)
        .where(F.col("doc_id").isin(target_ids))
        .select("doc_id", F.slice("spans", 1, 1).alias("spans"))
    )
    new_doc = _extract_fn(corpus_to_spark(spark, 8, seed=42)).where(
        ~F.col("doc_id").isin(list(before))
    )
    res = store.upsert(redone.unionByName(new_doc))
    assert res["docs_total"] == 6 + new_doc.count()

    after = {
        r["doc_id"]: len(r["spans"])
        for r in spark.read.parquet(store.extracted_path).collect()
    }
    for d in target_ids:
        assert after[d] == 1            # replaced, not duplicated
    for d in set(before) - set(target_ids):
        assert after[d] == before[d]    # untouched rows survive
    assert set(after) > set(before)     # new docs inserted

    # idempotent: same upsert again → identical table. The update
    # frame is REBUILT from a fresh read — a DataFrame planned against
    # the pre-swap table holds a stale file listing (the documented
    # snapshot-handle contract).
    redone2 = (
        spark.read.parquet(store.extracted_path)
        .where(F.col("doc_id").isin(target_ids))
        .select("doc_id", F.slice("spans", 1, 1).alias("spans"))
    )
    new_doc2 = _extract_fn(corpus_to_spark(spark, 8, seed=42)).where(
        ~F.col("doc_id").isin(list(before))
    )
    res2 = store.upsert(redone2.unionByName(new_doc2))
    assert res2["docs_total"] == res["docs_total"]
    again = {
        r["doc_id"]: len(r["spans"])
        for r in spark.read.parquet(store.extracted_path).collect()
    }
    assert again == after

    # resume sees upserted docs as processed
    assert store.pending(corpus_to_spark(spark, 8, seed=42)).count() == 0


def test_crash_after_stage_before_commit_is_exactly_once(spark, store):
    """Kill the run between the stage write and the table append: the
    extracted table gains nothing, and the re-run's anti-join
    reprocesses every pending doc — exactly-once output."""
    docs = corpus_to_spark(spark, 20, seed=42)

    real_commit = ExtractionStore.commit

    def crashing_commit(self, extracted, n_docs=None):
        raise RuntimeError("simulated crash between stage and commit")

    ExtractionStore.commit = crashing_commit
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.run_resumable(docs, _extract_fn, run_id="crash1")
    finally:
        ExtractionStore.commit = real_commit

    # nothing committed, no metrics row for the dead run
    import os

    assert not os.path.isdir(store.extracted_path) or (
        spark.read.parquet(store.extracted_path).count() == 0
    )

    # clean re-run: all 20 docs, exactly once
    res = store.run_resumable(docs, _extract_fn, run_id="retry1")
    assert res["docs_written"] == 20
    back = spark.read.parquet(store.extracted_path)
    assert back.count() == 20
    assert back.select("doc_id").distinct().count() == 20


def test_crash_between_commit_and_metrics_is_exactly_once(spark, store):
    """Kill the run between the data append and the metrics append
    (the partial-commit window the divergence-raise does NOT cover):
    the data IS committed, so the re-run's anti-join must process
    ZERO docs — no duplicate rows ever — and the retry still records
    its own (empty) metrics."""
    docs = corpus_to_spark(spark, 15, seed=42)

    real_append = ExtractionStore._append_metrics

    def crashing_append(self, *a, **kw):
        raise RuntimeError("simulated crash before metrics append")

    ExtractionStore._append_metrics = crashing_append
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.run_resumable(docs, _extract_fn, run_id="crash2")
    finally:
        ExtractionStore._append_metrics = real_append

    # the data commit happened before the crash
    assert spark.read.parquet(store.extracted_path).count() == 15

    # re-run: anti-join sees all 15 committed → writes nothing new
    res = store.run_resumable(docs, _extract_fn, run_id="retry2")
    assert res["docs_written"] == 0
    back = spark.read.parquet(store.extracted_path)
    assert back.count() == 15
    assert back.select("doc_id").distinct().count() == 15
    # and the retry's lineage is consistent (0 docs this run)
    m = store.metrics(spark).where("run_id = 'retry2'").collect()
    assert sum(r["docs"] for r in m) == 0


def test_ledger_schema_is_metrics_ddl(spark, store):
    """The ledger is typed from the one metrics schema, ``ts`` included."""
    from pyspark.sql.types import StructType, TimestampType

    from ocr_intern_spark.schema import METRICS_DDL

    store.run_resumable(corpus_to_spark(spark, 6, seed=42), _extract_fn)
    got = store.metrics(spark).schema
    assert got == StructType.fromDDL(METRICS_DDL)
    assert got["ts"].dataType == TimestampType()


def test_crash_mid_move_reextracts_only_unmoved_docs(spark, store, monkeypatch):
    """Kill the commit after its first part file is moved: that file's
    docs are committed, the re-run's anti-join re-extracts only the
    docs of the unmoved files, and the table ends with every doc once."""
    import os

    from ocr_intern_spark.sources import storage

    docs = corpus_to_spark(spark, 20, seed=42)
    all_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())

    def two_files(d):
        return _extract_fn(d).repartition(2, "doc_id")

    real_replace = os.replace
    moved = []

    def replace_once(src, dst):
        if "_staging_" not in src:
            return real_replace(src, dst)
        if moved:
            raise OSError("simulated crash after the first moved file")
        real_replace(src, dst)
        moved.append(dst)

    monkeypatch.setattr(storage.os, "replace", replace_once)
    with pytest.raises(OSError, match="simulated crash"):
        store.run_resumable(docs, two_files, run_id="crash3")
    monkeypatch.undo()

    assert len(moved) == 1
    committed = {
        r.doc_id for r in spark.read.parquet(store.extracted_path).collect()
    }
    assert 0 < len(committed) < len(all_ids)
    # the crashed run wrote no ledger row
    assert not os.path.isdir(store.metrics_path)

    res = store.run_resumable(docs, two_files, run_id="retry3")
    assert res["docs_written"] == len(all_ids) - len(committed)
    assert res["observed"]["docs"] == len(all_ids) - len(committed)
    back = [r.doc_id for r in spark.read.parquet(store.extracted_path).collect()]
    assert sorted(back) == all_ids
    leftovers = [
        p for p in os.listdir(store.root)
        if p.startswith(("_staging_", "_upsert_"))
    ]
    assert leftovers == []


def test_commit_launches_no_spark_job(spark, store, monkeypatch):
    """The commit moves the staged files; it writes no rows itself."""
    sc = spark.sparkContext
    real_commit = ExtractionStore.commit

    def grouped_commit(self, stage_path, n_docs=None):
        sc.setJobGroup("store-commit", "ExtractionStore.commit")
        try:
            return real_commit(self, stage_path, n_docs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(ExtractionStore, "commit", grouped_commit)
    res = store.run_resumable(corpus_to_spark(spark, 10, seed=42), _extract_fn)
    assert res["docs_written"] == 10
    assert spark.read.parquet(store.extracted_path).count() == 10
    assert list(sc.statusTracker().getJobIdsForGroup("store-commit")) == []


def test_upsert_extracts_its_input_once(spark, store):
    """One ``upsert(extract(upd))`` runs the recognizer once per media
    ref of ``upd``: the upsert input is staged once, then read back."""
    import os

    from pyspark.sql import functions as F

    from ocr_intern_spark.sources.corpus import make_corpus

    docs = corpus_to_spark(spark, 12, seed=42)
    store.run_resumable(docs, _extract_fn, run_id="u1")

    upd = sorted(make_corpus(12, seed=42), key=lambda d: d["doc_id"])[:5]
    upd_ids = [d["doc_id"] for d in upd]
    n_refs = sum(
        1 for d in upd for s in d["spans"]
        if s["kind"] == "media" and s["media_ref"]
    )
    assert n_refs > 0

    calls = spark.sparkContext.accumulator(0)

    def counting(ref):
        calls.add(1)
        return stub_ocr_tokens(ref)

    res = store.upsert(extract(docs.where(F.col("doc_id").isin(upd_ids)), counting))
    assert calls.value == n_refs
    assert res["docs_total"] == 12
    back = spark.read.parquet(store.extracted_path)
    assert back.count() == back.select("doc_id").distinct().count() == 12
    assert [p for p in os.listdir(store.root) if p.startswith("_upsert_")] == []
