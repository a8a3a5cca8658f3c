"""Driver-checkable Structured Streaming queries.

The streaming operators in ``extract_stream.py`` are pinned by unit
tests with cross-micro-batch assertions, but none of them ever appears
in a driver correctness window — the hash gate only sees batch
DataFrames. This module closes that gap: each query here runs a REAL
Structured Streaming job to completion with ``Trigger.AvailableNow``
and returns its final result as a batch DataFrame the driver can hash
against a DuckDB oracle.

Determinism contract (what makes a streaming query hash-checkable):

* input is staged into N parquet files and consumed with
  ``maxFilesPerTrigger=1``, so the job genuinely executes as N
  incremental micro-batches with state carried between them;
* the observable output is either a **complete-mode aggregation**
  (final state over all input is order-independent — the same answer
  whatever the micro-batch interleaving), a **stateless per-row
  transform through an exactly-once file sink** (set-equality with the
  batch answer regardless of batching), or an **append-mode watermarked
  result over time-sliced input** (no row is ever late, so the emitted
  set is a pure function of the data);
* every aggregate lands in a canonical type (counts stay BIGINT; sums
  that could exceed 9 significant digits are emitted as digit STRINGS
  on both engines — the dsir/table-grid lesson from round 3).

The harness, once each, shared by all ten queries:

* **Two staging policies.** ``_stage`` round-robins a table into
  _N_FILES files: for the order-independent queries (complete-mode
  aggregates, the sketches, the stateless resume proof), where which
  row lands in which batch cannot change the answer. ``_time_slices``
  + ``_stage_slices`` write file k as the k-th contiguous ceil-sized
  slice of the (ts, event_id) order with strictly increasing mtimes:
  for the append-mode watermarked queries, whose output depends on
  arrival order. Both stage on the executors; the corpus never passes
  through the driver.
* **One runner.** ``_run`` starts a stream with Trigger.AvailableNow
  and a checkpoint, awaits it, and returns the progress of its
  non-empty micro-batches — raising if fewer than ``min_batches``
  (default 2) ran, since a run collapsed into one micro-batch leaves
  the incremental-state path untested.
* ``_file_stream`` (the one file-stream reader), ``_scratch`` (the
  scratch directory) and ``_utc`` (the session time-zone pin).

Scale notes (100 TB): complete mode is used here only as the
*verification harness* — its state is one row per group (event types /
content fingerprints), not per input row, so even at 10^12 docs the
state store holds |groups| rows. The production path for unbounded
keyspaces is the watermarked append-mode pipeline in
``extract_stream.py`` (``stream_dedup_exact``, ``windowed_event_stats``)
whose state is bounded by the watermark. The resume query is the
scale path verbatim: file-source + file-sink with a checkpoint is how
a 1000-executor ingest restarts after a mid-run crash, and the
exactly-once guarantee it asserts comes from the sink's commit log,
not from re-reading history.

Reference parity: the reference's batch loop re-scans its input dir
and skips already-processed files via the result cache
(reference: src/core/batch_processor.py — resume-on-restart); these
queries express the same contract as Spark's file-source offset log +
file-sink commit log.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructField, StructType, TimestampType

from ocr_intern_spark.functions.text import (
    FINGERPRINT_SQL,
    fingerprint,
    token_count,
)
from ocr_intern_spark.operators.skew import global_rank
from ocr_intern_spark.sources.tables import cents, cents_sql, table

_N_FILES = 8


@contextmanager
def _scratch(prefix: str) -> Iterator[str]:
    """A fresh scratch directory, removed on exit."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def _utc(spark: SparkSession) -> Iterator[None]:
    """Pin the session time zone to UTC, restoring the old value on
    exit. The time-sliced queries read the zoneless ``ts`` as TIMESTAMP
    under this pin so the wall values and day buckets match the
    oracle's date_trunc exactly, and materialize their result inside
    it so the returned frame is zone-independent at collect time."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "UTC")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _stage(spark: SparkSession, sf_dir: str, name: str, dest: str) -> StructType:
    """Order-independent staging: round-robin a test table into
    _N_FILES parquet part-files under dest; returns its schema."""
    df = table(spark, sf_dir, name)
    df.repartition(_N_FILES).write.mode("overwrite").parquet(dest)
    return df.schema


def _time_slices(df: DataFrame) -> DataFrame:
    """Time-sliced staging, step 1: label each row with ``slice`` =
    the k-th of _N_FILES contiguous ceil-sized slices of the
    (ts, event_id) order — the two-pass global rank, so no single
    task or driver sorts the input. A caller may adjust ``slice``
    before step 2 (the late-drop audit ships some rows late)."""
    ranked = global_rank(df, F.col("ts"), F.col("event_id"), rank_name="_r")
    n = ranked.agg(F.max("_r").alias("_n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        *df.columns,
        F.least(
            F.expr(f"(_r - 1) DIV ((_n + {_N_FILES - 1}) DIV {_N_FILES})"),
            F.lit(_N_FILES - 1),
        )
        .cast("int")
        .alias("slice"),
    )


def _stage_slices(sliced: DataFrame, dest: str) -> StructType:
    """Time-sliced staging, step 2: write each ``slice`` as exactly one
    parquet file under dest, file k's mtime 60 s after file k−1's;
    returns the stream schema, with ``ts`` as TIMESTAMP (Spark 4
    watermarks reject TIMESTAMP_NTZ; read it under ``_utc``)."""
    parted = dest + "_slices"
    (
        sliced.repartition(_N_FILES, "slice")
        .write.partitionBy("slice")
        .parquet(parted)
    )
    os.makedirs(dest)
    # Micro-batch ORDER: Spark's file-stream source sorts pending
    # files by modification TIMESTAMP ONLY (path is not a
    # tie-break — verified empirically: equal mtimes scramble the
    # batch sequence), so an explicit mtime ladder is the one
    # reliable ordering channel. 60-second spacing makes it
    # immune to coarse mtime granularity (second- or even
    # 2-second-resolution filesystems preserve the order).
    for k in range(_N_FILES):
        d = os.path.join(parted, f"slice={k}")
        if not os.path.isdir(d):
            continue
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, (
            f"slice {k}: expected exactly one staged file, got {parts}"
        )
        dst = os.path.join(dest, f"part-{k:05d}.parquet")
        os.rename(os.path.join(d, parts[0]), dst)
        os.utime(dst, (1700000000 + k * 60, 1700000000 + k * 60))
    return StructType(
        [
            StructField(f.name, TimestampType()) if f.name == "ts" else f
            for f in sliced.schema
            if f.name != "slice"
        ]
    )


def _file_stream(spark: SparkSession, in_dir: str, schema: StructType) -> DataFrame:
    """The staged files of in_dir as a stream, one file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def _run(writer: DataStreamWriter, ckpt: str, min_batches: int = 2) -> list[dict]:
    """Run a stream to completion: start ``writer`` with
    Trigger.AvailableNow and checkpoint ``ckpt``, await it, and return
    the progress entries of the micro-batches that read input. Raises
    if fewer than ``min_batches`` did (the incremental-state path
    would then be untested)."""
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    if len(batches) < min_batches:
        raise RuntimeError(
            f"streaming query ran as {len(batches)} micro-batch(es); "
            f"expected >= {min_batches} (maxFilesPerTrigger not honored?)"
        )
    return batches


def _to_memory(df: DataFrame, mode: str, ckpt: str) -> DataFrame:
    """``_run`` df into a fresh memory-sink table in output mode
    ``mode``; returns that table."""
    name = f"sq_{uuid.uuid4().hex}"
    _run(df.writeStream.format("memory").queryName(name).outputMode(mode), ckpt)
    return df.sparkSession.table(name)


def q_stream_events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals computed INCREMENTALLY by a streaming
    aggregation over 8 file-source micro-batches, final complete-mode
    state hashed against the batch answer. value is integerized to
    cents per row (floor(value*100) — identical IEEE double math in
    both engines) so the running sum is exact; the sum itself is
    emitted as a digit string (Spark BIGINT vs DuckDB HUGEINT render
    differently past 9 significant digits)."""
    with _scratch("sq_events_") as tmp:
        in_dir = os.path.join(tmp, "in")
        stream = _file_stream(spark, in_dir, _stage(spark, sf_dir, "events", in_dir))
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value")))
            .cast("string")
            .alias("value_cents"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        out = _to_memory(agg, "complete", os.path.join(tmp, "ckpt"))
        return out.select(
            "event_type", "n_events", "value_cents", "first_event", "last_event"
        )


_STREAM_EVENTS_SUMMARY_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum({cents_sql("value")}) AS VARCHAR) AS value_cents,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events
GROUP BY event_type
"""


def q_stream_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest as a streaming aggregation: running per-content-
    fingerprint state (count + canonical keeper = min doc_id) built
    across 8 micro-batches. Same fingerprint convention as
    text_token_stats (md5 of whitespace-collapsed lowercase text), so
    the batch oracle is one GROUP BY. The production variant with
    bounded state is extract_stream.stream_dedup_exact (watermarked,
    append); this complete-mode run is its hash-checkable proof at
    test scale."""
    with _scratch("sq_dedupfp_") as tmp:
        in_dir = os.path.join(tmp, "in")
        stream = _file_stream(
            spark, in_dir, _stage(spark, sf_dir, "documents", in_dir)
        )
        agg = stream.groupBy(fingerprint(F.col("text")).alias("fp")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        out = _to_memory(agg, "complete", os.path.join(tmp, "ckpt"))
        return out.select("fp", "n_docs", "keep_doc")


_STREAM_DEDUP_FP_SQL = f"""
SELECT {FINGERPRINT_SQL} AS fp,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc
FROM documents
GROUP BY 1
"""


def q_stream_resume_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash/resume exactly-once proof, driver-hashed: a stateless
    per-doc stats stream runs through a parquet file sink in TWO
    separate runs sharing one checkpoint — run 1 sees only half the
    staged input files (a 'crash' after 4 of 8 micro-batches), run 2
    starts fresh from the same checkpoint after the rest of the input
    lands. The file-source offset log makes run 2 process ONLY the new
    files and the file-sink commit log keeps run 1's output exactly
    once, so the final sink equals the batch answer iff resume is
    exactly-once (a duplicated or dropped micro-batch changes the
    hash). Mirrors sources/storage.py's batch resume contract
    (manifest anti-join), here via Spark's own streaming logs."""
    with _scratch("sq_resume_") as tmp:
        all_dir, in_dir, out_dir, ckpt = (
            os.path.join(tmp, d) for d in ("all", "in", "out", "ckpt")
        )
        schema = _stage(spark, sf_dir, "documents", all_dir)
        parts = sorted(glob.glob(os.path.join(all_dir, "part-*.parquet")))
        os.makedirs(in_dir)
        # run 1 sees half the input, then 'crashes'; run 2 resumes from
        # the same checkpoint and must process only the new files
        for landed in (parts[: len(parts) // 2], parts[len(parts) // 2 :]):
            for p in landed:
                shutil.copy(p, in_dir)
            stats = _file_stream(spark, in_dir, schema).select(
                "doc_id",
                token_count(F.col("text")).alias("n_tokens"),
                F.length("text").alias("n_chars"),
            )
            _run(
                stats.writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append"),
                ckpt,
            )
        rows = spark.read.parquet(out_dir).collect()
        # materialize driver-side before the tmp sink is deleted; the
        # result is one small row per doc (bounded by the test corpus)
        return spark.createDataFrame(rows, "doc_id long, n_tokens int, n_chars int")


_STREAM_RESUME_SQL = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       length(text) AS n_chars
FROM documents
"""


# --- append-mode watermarked window aggregation -------------------------------

_WM_DELAY = "1 hour"
_WM_WINDOW = "1 day"


def q_stream_windowed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming shape, driver-hashed: a watermarked
    tumbling-window aggregation in APPEND mode — state is bounded (the
    watermark evicts finalized windows) and only finalized windows are
    ever emitted, so the final output is exactly the windows whose end
    ≤ max(event time) − delay. The corpus's last day is always beyond
    the horizon, so the append-mode cut is visibly exercised at every
    sf (29 of 30 days emitted).

    Determinism contract: complete-mode queries are order-independent;
    append mode is NOT (a row arriving after its window finalizes is
    dropped, and Spark's drop boundary is a lower-bound guarantee, not
    an exact cutoff — see tests/test_streaming.py). So the staging
    makes lateness IMPOSSIBLE instead of relying on drop timing: files
    are TIME-SLICED (file k holds the k-th contiguous slice of the
    (ts, event_id) order) with strictly increasing mtimes, so every
    row in batch k+1 is ≥ the watermark's anchor in batch k and no row
    is ever late. The emitted set is then a pure function of the data:
    window_end ≤ max(ts) − delay, which is what the DuckDB oracle
    computes. The final flush rides the no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches, default on).

    Scale notes (100 TB): this is the extract_stream.py
    windowed_event_stats contract made hash-checkable. State held is
    one row per (open window, type) — bounded by the horizon, not the
    stream; at 10¹² events the same plan runs with the same state
    bound. The time-sliced staging mirrors reality: event streams
    arrive roughly time-ordered, which is exactly why the watermark
    trade works."""
    with _scratch("sq_wma_") as tmp:
        in_dir = os.path.join(tmp, "in")
        ev = table(spark, sf_dir, "events").select(
            "ts", "event_type", "value", "event_id"
        )
        schema = _stage_slices(_time_slices(ev), in_dir)
        with _utc(spark):
            agg = (
                _file_stream(spark, in_dir, schema)
                .withWatermark("ts", _WM_DELAY)
                .groupBy(F.window("ts", _WM_WINDOW).alias("w"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(cents(F.col("value")))
                    .cast("string")
                    .alias("value_cents"),
                )
            )
            final = (
                _to_memory(agg, "append", os.path.join(tmp, "ckpt"))
                .select(
                    F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                        "day_start"
                    ),
                    "event_type",
                    "n_events",
                    "value_cents",
                )
                .collect()
            )
        return spark.createDataFrame(
            final,
            "day_start string, event_type string, n_events bigint, "
            "value_cents string",
        ).orderBy("day_start", "event_type")


_STREAM_WINDOWED_APPEND_SQL = f"""
WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
e AS (SELECT date_trunc('day', ts) AS day_start, event_type,
             {cents_sql("value")} AS cents
      FROM events)
SELECT strftime(day_start, '%Y-%m-%d %H:%M:%S') AS day_start, event_type,
       count(*) AS n_events,
       CAST(sum(cents) AS VARCHAR) AS value_cents
FROM e, m
WHERE day_start + INTERVAL 1 DAY <= wm
GROUP BY 1, 2
ORDER BY day_start, event_type
"""


_SESSION_GAP = "6 hours"
_SESSION_GAP_SQL = "INTERVAL 6 HOUR"


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap SESSION windows in APPEND-mode Structured
    Streaming — the stateful shape tumbling windows can't express:
    a per-user session extends while events keep arriving within
    _SESSION_GAP of its end, merges across micro-batches in the
    state store, and is emitted exactly once when the watermark
    passes its end. The batch q_sessionize pins the gap semantics;
    this pins the INCREMENTAL path: sessions that span micro-batch
    boundaries must come out identical to the batch computation over
    the finalized horizon.

    Determinism contract (same as q_stream_windowed_append): append
    emission is order-sensitive, so staging makes lateness impossible
    — files are time-sliced in (ts, event_id) order with increasing
    mtimes, every session merge happens before the watermark can
    finalize it, and the emitted set is the pure data function
    {sessions with end ≤ max(ts) − delay} that the DuckDB oracle
    computes with a lag/cumsum rebuild of the gap rule (new session
    iff ts − prev_ts ≥ gap — Spark's [start, end) window means an
    event at exactly prev + gap does NOT merge).

    Scale notes (100 TB): state is one row per OPEN session per user
    — bounded by the active-user set within the watermark horizon,
    not the stream; at 10¹² events the same plan holds the same
    state bound, and session merging is the state store's job, never
    a shuffle of history."""
    with _scratch("sq_sess_") as tmp:
        in_dir = os.path.join(tmp, "in")
        ev = table(spark, sf_dir, "events").select(
            "ts", "user_id", "value", "event_id"
        )
        schema = _stage_slices(_time_slices(ev), in_dir)
        with _utc(spark):
            agg = (
                _file_stream(spark, in_dir, schema)
                .withWatermark("ts", _WM_DELAY)
                .groupBy(
                    F.session_window("ts", _SESSION_GAP).alias("w"),
                    "user_id",
                )
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(cents(F.col("value")))
                    .cast("string")
                    .alias("value_cents"),
                )
            )
            final = (
                _to_memory(agg, "append", os.path.join(tmp, "ckpt"))
                .select(
                    "user_id",
                    F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                        "s_start"
                    ),
                    F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                        "s_end"
                    ),
                    "n_events",
                    "value_cents",
                )
                .collect()
            )
        return spark.createDataFrame(
            final,
            "user_id bigint, s_start string, s_end string, "
            "n_events bigint, value_cents string",
        ).orderBy("user_id", "s_start")


_STREAM_SESSION_SQL = f"""
WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
s AS (
  SELECT user_id, ts, event_id,
         {cents_sql("value")} AS cents,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= {_SESSION_GAP_SQL}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM s
),
sess AS (
  SELECT user_id, sid, min(ts) AS s_start,
         max(ts) + {_SESSION_GAP_SQL} AS s_end,
         count(*) AS n_events, CAST(sum(cents) AS VARCHAR) AS value_cents
  FROM g GROUP BY 1, 2
)
SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(s_end, '%Y-%m-%d %H:%M:%S') AS s_end,
       n_events, value_cents
FROM sess, m
WHERE s_end <= wm
ORDER BY user_id, s_start
"""


_SSJ_INTERVAL_MIN = 120  # purchase within 2h after the click
_SSJ_DELAY = "1 hour"    # both sides' watermark delay


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join, driver-hashed — the remaining
    Structured Streaming state class (aggregation, dedup, session
    windows, and checkpoint-resume are already driver-checked; joins
    keep BOTH sides in the state store): click events join purchase
    events of the same user arriving within {interval} minutes AFTER
    the click, inner append-mode with watermarks on both sides.

    Determinism contract: inner stream-stream joins emit a pair
    exactly once, when its later element arrives; the emitted SET
    equals the batch interval join PROVIDED no needed state was
    evicted and no row was late. Both are guaranteed structurally:
    the staging is TIME-SLICED (file k = k-th contiguous (ts,
    event_id) slice, increasing mtimes) so no row is ever late, and
    eviction only removes clicks with ts < watermark − interval while
    any future purchase needs clicks ≥ its ts − interval >
    watermark − interval (watermark lags max seen by the delay;
    multipleWatermarkPolicy=min can only lag further). So the final
    output is the pure data function the DuckDB oracle computes with
    a plain interval join.

    Scale notes (100 TB): this is THE funnel-attribution shape at
    ingest — both sides' state is bounded by watermark + interval
    (hours of data, not history), keyed and co-partitioned on
    user_id, exactly how a 1000-executor cluster holds it. The
    batch-side equivalent (events_asof_plan / events_funnel) re-scans
    history; this pays state proportional to the join window."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("ts", "event_type", "user_id", "event_id")
    )
    return spark.createDataFrame(
        _ssj_run(spark, ev),
        "user_id bigint, click_id bigint, purchase_id bigint, "
        "gap_us bigint",
    ).orderBy("user_id", "click_id", "purchase_id")


def _ssj_run(spark: SparkSession, events: DataFrame) -> list:
    """Stage (ts, event_type, user_id, event_id) events time-sliced and
    run the watermarked stream-stream interval join over them; returns
    the emitted (user_id, click_id, purchase_id, gap_us) rows. Split
    out so tests can inject a synthetic staging where a pair provably
    straddles micro-batches."""
    with _scratch("sq_ssj_") as tmp:
        in_dir = os.path.join(tmp, "in")
        schema = _stage_slices(_time_slices(events), in_dir)
        with _utc(spark):

            def side(ev: str, pre: str) -> DataFrame:
                return (
                    _file_stream(spark, in_dir, schema)
                    .where(F.col("event_type") == ev)
                    .select(
                        F.col("user_id").alias(f"{pre}_user"),
                        F.col("event_id").alias(f"{pre}_id"),
                        F.col("ts").alias(f"{pre}_ts"),
                    )
                    .withWatermark(f"{pre}_ts", _SSJ_DELAY)
                )

            joined = side("click", "c").join(
                side("purchase", "p"),
                F.expr(
                    "c_user = p_user AND p_ts >= c_ts AND "
                    f"p_ts <= c_ts + INTERVAL {_SSJ_INTERVAL_MIN} MINUTES"
                ),
            )
            out = joined.select(
                F.col("c_user").alias("user_id"),
                F.col("c_id").alias("click_id"),
                F.col("p_id").alias("purchase_id"),
                (
                    F.unix_micros("p_ts") - F.unix_micros("c_ts")
                ).alias("gap_us"),
            )
            return _to_memory(out, "append", os.path.join(tmp, "ckpt")).collect()


_STREAM_SSJ_SQL = f"""
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS cts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, click_id, purchase_id,
       CAST(epoch_us(pts) - epoch_us(cts) AS BIGINT) AS gap_us
FROM c JOIN p USING (user_id)
WHERE pts >= cts AND pts <= cts + INTERVAL {_SSJ_INTERVAL_MIN} MINUTE
ORDER BY user_id, click_id, purchase_id
"""


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join, driver-hashed — the last join
    class in the Structured Streaming surface (stream-stream is
    q_stream_stream_join): the event stream joins a STATIC user-
    profile dimension (spend tier from lifetime purchase cents,
    derived once from the batch table) and aggregates per (tier,
    event_type) in complete mode across 8 real micro-batches.

    The static side is read ONCE at planning and broadcast to every
    micro-batch — the canonical ingest-enrichment shape (stream ⋈
    slowly-changing dim snapshot); state is the |tiers × types|
    aggregate frame, bounded by construction. Left join keeps
    profile-less users as tier 'none' so the enrichment can't drop
    events silently (the footgun this query exists to pin).

    Determinism: complete-mode aggregation is micro-batch-order
    independent; the dim is a pure function of the batch table; sums
    emit as digit strings (the dsir lesson)."""
    with _scratch("sq_enrich_") as tmp:
        in_dir = os.path.join(tmp, "in")
        stream = _file_stream(spark, in_dir, _stage(spark, sf_dir, "events", in_dir))
        ev_static = table(spark, sf_dir, "events")
        profiles = (
            ev_static.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.sum(cents(F.col("value"))).alias("cents"))
            .select(
                "user_id",
                F.when(F.col("cents") >= 100_000, F.lit("gold"))
                .when(F.col("cents") >= 10_000, F.lit("silver"))
                .otherwise(F.lit("bronze"))
                .alias("tier"),
            )
        )
        joined = stream.join(F.broadcast(profiles), "user_id", "left")
        agg = joined.groupBy(
            F.coalesce("tier", F.lit("none")).alias("tier"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value")))
            .cast("string")
            .alias("value_cents"),
        )
        out = _to_memory(agg, "complete", os.path.join(tmp, "ckpt"))
        return spark.createDataFrame(
            out.collect(),
            "tier string, event_type string, n_events bigint, "
            "value_cents string",
        ).orderBy("tier", "event_type")


_STREAM_ENRICH_SQL = f"""
WITH profiles AS (
  SELECT user_id,
         CASE WHEN sum({cents_sql("value")}) >= 100000
              THEN 'gold'
              WHEN sum({cents_sql("value")}) >= 10000
              THEN 'silver'
              ELSE 'bronze' END AS tier
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT coalesce(p.tier, 'none') AS tier, e.event_type,
       count(*) AS n_events,
       CAST(sum({cents_sql("e.value")}) AS VARCHAR)
         AS value_cents
FROM events e LEFT JOIN profiles p USING (user_id)
GROUP BY 1, 2
ORDER BY tier, event_type
"""


_LATE_DELAY_MOD = 37  # event_id % MOD == 0 rows arrive two files late


def q_stream_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data ACCOUNTING, driver-hashed: inject deterministic
    lateness (every ``event_id % 37 == 0`` row is shipped two files
    after its time-slice), run the watermarked day-window aggregation
    in append mode, and emit per micro-batch what Spark's own engine
    metrics report — ``numInputRows`` and
    ``numRowsDroppedByWatermark`` — certified against an independent
    relational model of the watermark protocol.

    The calibrated drop rule (measured, not assumed — calibrated at
    two sfs where the two levels separate): (1) a ROW in batch k is
    filtered iff its window end ≤ max(event time over batches ≤ k−2)
    − delay — the data filter lags the progress-reported watermark
    (itself lag-1) by one more batch; (2) the METRIC
    ``numRowsDroppedByWatermark`` counts dropped POST-SHUFFLE partial
    rows, i.e. distinct (window, event_type) groups among the
    filtered rows (the map-side partial aggregation has already
    collapsed them; one file per trigger ⇒ one map partition ⇒ one
    partial per group). The oracle unrolls exactly that recurrence —
    running max over per-batch maxima, lag 2, distinct-group count;
    hash equality certifies the staging, the watermark protocol, and
    the metric's real meaning. (≤ vs < is unobservable here:
    watermarks carry sub-second offsets while window ends are
    midnights, so equality never occurs. Filter and eviction share
    the same lagged watermark, so a row surviving the filter always
    lands in a not-yet-emitted window — append stays exactly-once per
    key, confirmed by the absence of surplus keys in the sink.)

    Why this matters at 100 TB: the drop counter is the SLO metric of
    every production watermark trade (completeness vs state size) —
    this query pins that the metric means what the runbook says it
    means, batch by batch, not approximately."""
    with _scratch("sq_late_") as tmp:
        in_dir = os.path.join(tmp, "in")
        ev = table(spark, sf_dir, "events").select(
            "ts", "event_type", "value", "event_id"
        )
        # late rows ship two slices after their own (capped at the last)
        shifted = _time_slices(ev).withColumn(
            "slice",
            F.when(
                F.col("event_id") % _LATE_DELAY_MOD == 0,
                F.least(F.col("slice") + 2, F.lit(_N_FILES - 1)),
            ).otherwise(F.col("slice")),
        )
        schema = _stage_slices(shifted, in_dir)
        with _utc(spark):
            agg = (
                _file_stream(spark, in_dir, schema)
                .withWatermark("ts", _WM_DELAY)
                .groupBy(F.window("ts", _WM_WINDOW).alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
            )
            batches = _run(
                agg.writeStream.format("noop").outputMode("append"),
                os.path.join(tmp, "ckpt"),
                min_batches=_N_FILES,
            )
        audit = [
            (
                k,
                int(p["numInputRows"]),
                int(p["stateOperators"][0]["numRowsDroppedByWatermark"]),
            )
            for k, p in enumerate(batches)
        ]
        return spark.createDataFrame(
            audit, "batch int, n_input bigint, n_dropped_late bigint"
        ).orderBy("batch")


_STREAM_LATE_DROP_SQL = f"""
WITH ordered AS (
  SELECT ts, event_type, event_id,
         row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER () AS n
  FROM events
),
assigned AS (
  SELECT ts, event_type,
         CASE WHEN event_id % {_LATE_DELAY_MOD} = 0
              THEN LEAST(LEAST(rn // ((n + {_N_FILES - 1}) // {_N_FILES}),
                               {_N_FILES - 1}) + 2, {_N_FILES - 1})
              ELSE LEAST(rn // ((n + {_N_FILES - 1}) // {_N_FILES}),
                         {_N_FILES - 1}) END AS k
  FROM ordered
),
batch_max AS (SELECT k, max(ts) AS mx FROM assigned GROUP BY k),
wm AS (
  SELECT k,
         max(mx) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL 1 HOUR AS wm
  FROM batch_max
)
SELECT CAST(a.k AS INT) AS batch,
       count(*) AS n_input,
       count(DISTINCT (date_trunc('day', a.ts), a.event_type))
         FILTER (date_trunc('day', a.ts) + INTERVAL 1 DAY <= w.wm)
         AS n_dropped_late
FROM assigned a JOIN wm w USING (k)
GROUP BY a.k ORDER BY batch
"""


def q_stream_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable HLL sketch maintained INCREMENTALLY by a
    streaming aggregation — the mergeable-summary contract executed
    for real: each of the 8 file micro-batches folds its rows into
    the per-bucket max-rank state (max is idempotent, commutative,
    associative — the whole reason HLL registers stream), and the
    final complete-mode registers are finalized into the exact same
    one-row readout as the batch query. The oracle IS the batch HLL
    SQL, so the driver hash PROVES streaming-max-merge ≡ batch
    sketch (the LSH-swap proof pattern applied to streaming state).
    The exact-distinct audit column is computed batch-side from the
    staged files (distinct aggregations are unsupported in streaming
    — and it is the harness column, not the sketch).

    At 100 TB-ingest scale this is the shape that matters: the
    sketch state is 64 BIGINTs per key regardless of stream volume,
    and checkpoint recovery replays into the same registers."""
    from ocr_intern_spark.operators.analytics import (
        hll_decompose,
        hll_finalize,
    )

    with _scratch("sq_hll_") as tmp:
        in_dir = os.path.join(tmp, "in")
        stream = _file_stream(spark, in_dir, _stage(spark, sf_dir, "events", in_dir))
        agg = (
            hll_decompose(stream.select("user_id"))
            .groupBy("j")
            .agg(F.max("r").alias("m"))
        )
        regs = _to_memory(agg, "complete", os.path.join(tmp, "ckpt"))
        ev = spark.read.parquet(in_dir).select("user_id")
        # materialize before the tmp dir vanishes (hll_finalize's
        # exact-distinct audit re-reads ev lazily)
        out = hll_finalize(regs, ev)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


def _stream_hll_sql() -> str:
    from ocr_intern_spark.operators.analytics import _HLL_SQL

    return _HLL_SQL


def q_stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable count-min sketch maintained INCREMENTALLY by a
    streaming aggregation — the second half of the mergeable-sketch
    pair (HLL merges by MAX, CMS by SUM): each micro-batch folds its
    md5-derived (row, bucket) cells into the running counter matrix,
    and the final complete-mode counters feed the same heavy-hitter
    estimation as the batch query. The oracle IS the batch CMS SQL,
    so the driver hash proves streaming-sum-merge ≡ batch sketch —
    every one of the 1,024 counters identical, not merely the
    top-k. The exact side (true counts) is the audit harness,
    computed batch-side from the staged files as with the HLL."""
    from ocr_intern_spark.operators.analytics import (
        CMS_D,
        CMS_TOPK,
        _cms_bucket,
    )

    with _scratch("sq_cms_") as tmp:
        in_dir = os.path.join(tmp, "in")
        stream = _file_stream(spark, in_dir, _stage(spark, sf_dir, "events", in_dir))
        rows_i = F.explode(
            F.sequence(F.lit(0), F.lit(CMS_D - 1))
        ).alias("i")
        cells = stream.select("user_id", rows_i).select(
            "i", _cms_bucket(F.col("i"), F.col("user_id")).alias("b")
        )
        agg = cells.groupBy("i", "b").agg(F.count(F.lit(1)).alias("cnt"))
        sketch = _to_memory(agg, "complete", os.path.join(tmp, "ckpt"))
        ev = spark.read.parquet(in_dir).select("user_id")
        exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
        probes = exact.select("user_id", rows_i).select(
            "user_id",
            "i",
            _cms_bucket(F.col("i"), F.col("user_id")).alias("b"),
        )
        est = (
            probes.join(F.broadcast(sketch), ["i", "b"])
            .groupBy("user_id")
            .agg(F.min("cnt").alias("n_cms"))
        )
        out = (
            exact.join(est, "user_id")
            .select(
                "user_id",
                "n_exact",
                "n_cms",
                (F.col("n_cms") - F.col("n_exact")).alias("overestimate"),
            )
            .orderBy(F.desc("n_exact"), F.asc("user_id"))
            .limit(CMS_TOPK)
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


def _stream_cms_sql() -> str:
    from ocr_intern_spark.operators.analytics import _CMS_SQL

    return _CMS_SQL


QUERIES = {
    # oracle = the BATCH HLL SQL on purpose: hash equality proves the
    # streaming max-merge produced the identical sketch
    "stream_hll_sketch": (q_stream_hll_sketch, _stream_hll_sql()),
    # oracle = the BATCH CMS SQL: hash equality proves sum-merge ≡ batch
    "stream_cms_sketch": (q_stream_cms_sketch, _stream_cms_sql()),
    "stream_events_summary": (q_stream_events_summary, _STREAM_EVENTS_SUMMARY_SQL),
    "stream_static_enrich": (q_stream_static_enrich, _STREAM_ENRICH_SQL),
    "stream_stream_join": (q_stream_stream_join, _STREAM_SSJ_SQL),
    "stream_session_window": (
        q_stream_session_window,
        _STREAM_SESSION_SQL,
    ),
    "stream_windowed_append": (
        q_stream_windowed_append,
        _STREAM_WINDOWED_APPEND_SQL,
    ),
    "stream_dedup_fingerprint": (q_stream_dedup_fingerprint, _STREAM_DEDUP_FP_SQL),
    "stream_late_drop_audit": (q_stream_late_drop_audit, _STREAM_LATE_DROP_SQL),
    "stream_resume_checkpoint": (q_stream_resume_checkpoint, _STREAM_RESUME_SQL),
}
