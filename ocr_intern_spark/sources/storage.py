"""Storage adapter: checkpointed, idempotent, metric-emitting writes.

Mirrors the reference's result cache + metrics sink semantics at
partition granularity (SURVEY.md §2.9 B3/B4, §4 items 2-3):

* reference: JSON file cache keyed per document, probed before OCR
  (/root/reference/src/gui/components/hybrid_ocr_gui.py:56-61,
  src/utils/document_management.py:38-47) → here: an
  ``extracted`` table + ANTI-JOIN resume — only unprocessed docs
  re-enter the pipeline; the MERGE is append-only because the
  anti-join guarantees key disjointness (idempotent under re-runs).
* reference: SQLite ``performance_metrics`` INSERT per document
  (src/utils/performance_analytics.py:20-56) → here: one metrics row
  per task partition per run, written to a parquet metrics table
  with the one ledger schema, ``schema.METRICS_DDL``.

Every run writes its extraction output exactly once. The run stages
it to a run-keyed directory, and the commit MOVES the staged part
files into the table (``os.replace`` on one filesystem; Spark puts a
per-job UUID in every part name, so names never collide). That is
Iceberg's append-existing-data-files commit. An upsert stages its
input once and reads it back from files for both the anti-join and
the new table. The ledger rows go in as an Arrow table, so their
write plans a ``LocalTableScan`` and starts no Python worker.

The adapter is plain parquet + directory layout so it runs anywhere;
on a real deployment the same call sites map 1:1 onto Iceberg
``MERGE INTO`` / snapshot reads — the logic is behind this interface
precisely so that swap is a config change, not a rewrite
(SURVEY.md §7 design stance).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from datetime import datetime, timezone
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ocr_intern_spark.schema import METRICS_DDL


class ExtractionStore:
    """Checkpoint/resume + lineage metrics for the extraction job."""

    def __init__(self, root: str):
        self.root = root
        self.extracted_path = os.path.join(root, "extracted")
        self.metrics_path = os.path.join(root, "metrics")

    # -- resume ------------------------------------------------------------

    def processed_docs(self, spark: SparkSession) -> DataFrame | None:
        if not self._has_data(self.extracted_path):
            return None
        return spark.read.parquet(self.extracted_path).select("doc_id")

    def pending(self, docs: DataFrame) -> DataFrame:
        """Anti-join the input against already-extracted docs (B3
        cache-probe semantics, set-at-a-time instead of per doc)."""
        done = self.processed_docs(docs.sparkSession)
        if done is None:
            return docs
        return docs.join(done, "doc_id", "left_anti")

    # -- write -------------------------------------------------------------

    def commit(self, stage_path: str, n_docs: int) -> int:
        """Append a staged run of ``n_docs`` docs by moving its part
        files into the table — no Spark job, the rows are not
        rewritten. The stage must hold :meth:`pending` output: key
        disjointness makes append == MERGE WHEN NOT MATCHED INSERT.

        Each move is atomic and every doc lives in exactly one part
        file, so a crash part-way through leaves some whole files
        committed and the rest in the stage. The re-run's anti-join
        then re-extracts only the docs of the unmoved files. An empty
        run moves nothing (its stage holds a schema-only file)."""
        if n_docs:
            self._move_parts(stage_path, self.extracted_path)
        return n_docs

    def run_resumable(
        self,
        docs: DataFrame,
        extract_fn: Callable[[DataFrame], DataFrame],
        run_id: str | None = None,
    ) -> dict:
        """One idempotent batch: probe → extract pending → stage →
        commit → ledger. Re-running after any failure (or success)
        never duplicates a document.

        The extraction plan is evaluated exactly once, into the
        run-keyed directory ``_staging_<run_id>``. The lineage stats
        and the commit both derive from the staged FILES, never from
        the live plan, so no recompute can diverge the committed rows
        from the recorded stats. The commit moves those files into
        the table, and the ledger rows follow. The staging directory
        is removed on success and on any raised error; a killed
        process leaves it behind, and no later run reads it."""
        spark = docs.sparkSession
        run_id = run_id or uuid.uuid4().hex[:12]
        t0 = time.perf_counter()
        todo = self.pending(docs)
        stage_path = os.path.join(self.root, f"_staging_{run_id}")
        # run-level totals ride the stage write itself (observe() =
        # zero extra action/scan); per-PARTITION lineage still needs
        # the relational agg over the staged files — observation
        # metrics are global only
        obs = Observation(f"extract_run_{run_id}")
        try:
            extract_fn(todo).observe(
                obs,
                F.count(F.lit(1)).alias("docs"),
                F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("spans_out"),
                F.coalesce(
                    F.sum(
                        F.size(
                            F.filter(
                                "spans", lambda s: s["kind"] == F.lit("error")
                            )
                        )
                    ),
                    F.lit(0),
                ).alias("errors"),
            ).write.mode("overwrite").parquet(stage_path)
            totals = obs.get
            stats_rows = self._partition_stats(spark.read.parquet(stage_path))
            # free cross-check: the observed totals and the staged-file
            # aggregation must agree — divergence means the extraction
            # plan is nondeterministic between evaluations, which would
            # silently corrupt resume accounting
            summed = {
                "docs": sum(int(r["docs"]) for r in stats_rows),
                "spans_out": sum(int(r["spans_out"]) for r in stats_rows),
                "errors": sum(int(r["errors"]) for r in stats_rows),
            }
            if summed != {k: int(totals[k]) for k in summed}:
                raise RuntimeError(
                    f"staged-file stats {summed} disagree with stage-write "
                    f"observation {totals}: nondeterministic extraction plan"
                )
            n_new = self.commit(stage_path, n_docs=int(totals["docs"]))
            wall_ms = (time.perf_counter() - t0) * 1000.0
            self._append_metrics(spark, run_id, stats_rows, wall_ms)
        finally:
            shutil.rmtree(stage_path, ignore_errors=True)
        return {
            "run_id": run_id,
            "docs_written": n_new,
            "wall_ms": wall_ms,
            "observed": {k: int(totals[k]) for k in ("docs", "spans_out", "errors")},
        }

    def upsert(self, updated: DataFrame) -> dict:
        """Full MERGE semantics: WHEN MATCHED (same doc_id) replace
        the stored row, WHEN NOT MATCHED insert — the re-extraction
        path after an operator upgrade reprocesses a subset and must
        REPLACE those docs, which append-only resume cannot.

        Parquet emulation of the Iceberg MERGE INTO this maps onto,
        all under one run-keyed ``_upsert_<id>`` directory:

        1. write ``updated`` once to ``updates/`` — the only time its
           plan runs;
        2. write the survivors (target ANTI-JOIN the staged doc_ids)
           to ``table/``;
        3. move the staged update files into ``table/``;
        4. swap ``table/`` in for the live table — the commit point.

        The read and the writes never touch the same live path.
        Iceberg would rewrite only the touched files instead of the
        full table; the call-site contract is identical. A raised
        error before the swap leaves the table untouched and removes
        the ``_upsert_`` directory. Idempotent: re-running the same
        upsert yields the same table.

        Snapshot-handle contract: ``updated`` may derive from the
        CURRENT table (this call stages it to files before touching
        the target), but a DataFrame planned against a pre-swap table
        holds a stale file listing — derive each upsert's input from
        a fresh read. (Iceberg's snapshot isolation removes this
        caveat; it is the one semantic difference of the parquet
        emulation.)"""
        spark = updated.sparkSession
        work = os.path.join(self.root, f"_upsert_{uuid.uuid4().hex[:12]}")
        updates_path = os.path.join(work, "updates")
        table_path = os.path.join(work, "table")
        try:
            n = self._write_counted(updated, updates_path)
            if self._has_data(self.extracted_path):
                staged_ids = spark.read.parquet(updates_path).select("doc_id")
                survivors = spark.read.parquet(self.extracted_path).join(
                    staged_ids, "doc_id", "left_anti"
                )
                n += self._write_counted(survivors, table_path)
            self._move_parts(updates_path, table_path)
            old_path = self.extracted_path + "_old"
            if os.path.isdir(self.extracted_path):
                os.rename(self.extracted_path, old_path)
            os.rename(table_path, self.extracted_path)
            shutil.rmtree(old_path, ignore_errors=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return {"docs_total": n}

    @staticmethod
    def _write_counted(df: DataFrame, path: str) -> int:
        """Write ``df`` to ``path``; its row count rides the write."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(path)
        return int(obs.get["n"])

    @staticmethod
    def _move_parts(src: str, dst: str) -> None:
        """Move every parquet part file of ``src`` into ``dst``."""
        os.makedirs(dst, exist_ok=True)
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                os.replace(os.path.join(src, f), os.path.join(dst, f))

    # -- metrics -----------------------------------------------------------

    def _partition_stats(self, out: DataFrame) -> list:
        """Partition-level lineage over THIS run's (persisted) output:
        (partition_id, docs, spans, errors). Relational aggregation —
        no Python accumulators — collected to the driver (one row per
        task partition, thousands at most at any scale)."""
        return (
            out.select(
                F.spark_partition_id().alias("partition_id"),
                F.size("spans").alias("n_spans"),
                F.size(
                    F.filter("spans", lambda s: s["kind"] == F.lit("error"))
                ).alias("n_errors"),
            )
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("docs"),
                F.sum("n_spans").alias("spans_out"),
                F.sum("n_errors").alias("errors"),
            )
            .collect()
        )

    def _append_metrics(
        self, spark: SparkSession, run_id: str, stats_rows: list,
        wall_ms: float,
    ) -> None:
        """Append one ledger row per partition. The rows go in as an
        Arrow table typed from ``METRICS_DDL``, which Spark plans as a
        ``LocalTableScan``: no Python worker, no serialized RDD."""
        ts = datetime.now(timezone.utc)
        rows = [
            {"run_id": run_id, "partition_id": int(r["partition_id"]),
             "docs": int(r["docs"]), "spans_in": 0,
             "spans_out": int(r["spans_out"]), "errors": int(r["errors"]),
             "wall_ms": float(wall_ms), "ts": ts}
            for r in stats_rows
        ]
        schema = to_arrow_schema(StructType.fromDDL(METRICS_DDL))
        spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema)).write.mode(
            "append"
        ).parquet(self.metrics_path)

    def metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.metrics_path)

    @staticmethod
    def _has_data(path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )


def checkpoint_table(
    root: str, name: str
) -> Callable[[DataFrame], DataFrame]:
    """Materializer that lands an expensive intermediate as a DURABLE
    TABLE instead of an executor-memory checkpoint — the 100 TB form
    of the dedup pipeline's shingle-index materialization (the index
    is the biggest intermediate in that pipeline and does not fit
    executor storage; a table write is also resumable, where
    localCheckpoint dies with the session).

    Contract: first call writes ``{root}/{name}`` once and returns a
    frame READING FROM THE TABLE (lineage truncated at the scan, like
    checkpoint, plus durability). A later call that finds data
    already present reuses it WITHOUT recompute — the crash-resume
    semantics of the extraction store's result cache, applied to
    intermediates. On a real deployment the write maps onto an
    Iceberg table the same way ExtractionStore's commit does."""

    def materialize(df: DataFrame) -> DataFrame:
        path = os.path.join(root, name)
        # Reuse is gated on the _SUCCESS marker, not on "any part file
        # present": Spark writes _SUCCESS only at JOB COMMIT, so a
        # crash mid-write leaves part files but no marker and the
        # table is rewritten instead of trusted (ADVICE r5 — a partial
        # set would silently yield wrong dedup pairs).
        committed = os.path.isfile(
            os.path.join(path, "_SUCCESS")
        ) and ExtractionStore._has_data(path)
        if not committed:
            df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    return materialize
