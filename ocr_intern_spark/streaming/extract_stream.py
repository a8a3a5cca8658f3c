"""Streaming extraction + event-stream analytics.

* ``stream_extract_flat``: the extraction pipeline over a file-source
  stream of documents. The non-media transform is pure projection and
  the OCR stage is a stateless ``mapInPandas`` — both are
  streaming-safe with no watermark. Output is the FLAT span stream;
  per-doc array assembly (a grouped aggregation) belongs in
  ``foreachBatch`` (see ``stream_extract_to_store``) because exact
  per-doc re-assembly needs batch boundaries, mirroring the batch
  MERGE semantics.
* ``windowed_event_stats``: watermarked tumbling-window aggregation
  over the `events` shape — the streaming analogue of the reference's
  time-windowed perf summary (performance_analytics.py:58-89).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_intern_spark.functions.text import word_ngrams, words
from ocr_intern_spark.operators.extract import (
    Recognizer,
    explode_spans,
    extract,
    ocr_media_spans,
    transform_plain_spans,
)
from ocr_intern_spark.schema import DOCUMENTS_DDL, EXTRACTED_DDL, FLAT_DDL


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOCUMENTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_extract_flat(docs_stream: DataFrame, recognize: Recognizer) -> DataFrame:
    """documents stream → FLAT extracted span stream (append mode)."""
    flat = explode_spans(docs_stream)
    plain = transform_plain_spans(flat)
    ocr = ocr_media_spans(flat, recognize)  # no repartition: stream-safe
    return plain.unionByName(ocr)


def stream_extract_to_store(
    docs_stream: DataFrame,
    recognize: Recognizer,
    store,
    checkpoint_dir: str,
):
    """foreachBatch bridge: each micro-batch runs the full batch
    pipeline (assembly included) through the idempotent store —
    exactly-once per doc via the anti-join, even across restarts."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store.run_resumable(
            batch_df, lambda d: extract(d, recognize), run_id=f"stream-{batch_id}"
        )

    return (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


FLAT_TOTAL_DDL = f"{FLAT_DDL}, total int"
ASSEMBLED_DDL = f"{EXTRACTED_DDL}, complete boolean"
_STATE_DDL = (
    "offsets array<int>, poss array<int>, seqs array<int>, "
    "kinds array<string>, texts array<string>, refs array<string>, "
    "total int"
)


def stateful_assemble(
    flat_with_total: DataFrame, timeout_ms: int = 600_000
) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): assemble
    per-document span arrays from a stream where one document's spans
    ARRIVE ACROSS MICRO-BATCHES (pages/blocks emitted independently by
    upstream producers — the streaming analogue of the batch
    ``assemble`` shuffle, which cannot see across triggers).

    Each span row carries ``total`` (the producer-known span count of
    its document). State per doc_id accumulates spans; when the count
    is reached the document is emitted with ``complete=true`` and the
    state cleared, reproducing the batch pipeline's
    ``(offset, pos, seq) → 0-based order`` semantics exactly. Docs
    that never complete are flushed by a processing-time timeout with
    ``complete=false`` (B2 semantics: never lose or wedge a document).

    Scale: state per key is bounded by document size; keys are
    hash-distributed by doc_id exactly like the batch re-assembly
    shuffle; timeouts bound total state under producer failure."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        doc_id = key[0]
        if state.hasTimedOut:
            offs, poss, seqs, kinds, texts, refs, _total = state.get
            yield _emit(pd, doc_id, offs, poss, seqs, kinds, texts, refs,
                        complete=False)
            state.remove()
            return
        offs, poss, seqs, kinds, texts, refs, total = (
            state.get if state.exists else ([], [], [], [], [], [], None)
        )
        offs, poss, seqs = list(offs), list(poss), list(seqs)
        kinds, texts, refs = list(kinds), list(texts), list(refs)
        for pdf in pdfs:
            offs.extend(int(v) for v in pdf["offset"])
            poss.extend(int(v) for v in pdf["pos"])
            seqs.extend(int(v) for v in pdf["seq"])
            kinds.extend(pdf["kind"])
            texts.extend(pdf["text"])
            refs.extend(pdf["media_ref"])
            if len(pdf):
                total = int(pdf["total"].iloc[-1])
        if total is not None and len(offs) >= total:
            yield _emit(pd, doc_id, offs, poss, seqs, kinds, texts, refs,
                        complete=True)
            state.remove()
        else:
            state.update((offs, poss, seqs, kinds, texts, refs, total))
            state.setTimeoutDuration(timeout_ms)

    def _emit(pd, doc_id, offs, poss, seqs, kinds, texts, refs, complete):
        df = pd.DataFrame(
            {"offset": offs, "pos": poss, "seq": seqs,
             "kind": kinds, "text": texts, "media_ref": refs}
        ).sort_values(["offset", "pos", "seq"], kind="stable")
        spans = [
            {"kind": k, "text": t, "media_ref": r, "order": i}
            for i, (k, t, r) in enumerate(
                zip(df["kind"], df["text"], df["media_ref"])
            )
        ]
        return pd.DataFrame(
            {"doc_id": [doc_id], "spans": [spans], "complete": [complete]}
        )

    return flat_with_total.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=ASSEMBLED_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_event_stats(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window per-type stats with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_dedup_exact(
    docs_stream: DataFrame,
    event_time_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup at ingest: drop any document whose
    normalized-text fingerprint was already seen within the watermark
    horizon — the streaming counterpart of the batch hash-groupBy
    dedup, for continuously arriving crawl/ingest feeds.

    Uses ``dropDuplicatesWithinWatermark`` so the dedup state store is
    BOUNDED: fingerprints older than the watermark are evicted, which
    is what makes the operator runnable forever at ingest scale
    (a plain dropDuplicates would grow state monotonically to corpus
    size). Exactly-once keyed state lives in the checkpointed state
    store, sharded by the fingerprint hash — uniform by construction,
    no skew. Input must carry an event-time column."""
    from ocr_intern_spark.functions.text import fingerprint

    keyed = docs_stream.withColumn("fp", fingerprint(F.col("text")))
    return (
        keyed.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


HH_TOKENS_DDL = "tok string"
HH_OUT_DDL = "tok string, count long"
_HH_STATE_DDL = "count long, promoted boolean"


def stream_heavy_hitters(
    toks: DataFrame, min_count: int, idle_timeout_ms: int = 600_000
) -> DataFrame:
    """Streaming heavy-hitter PROMOTION tracking
    (`applyInPandasWithState`): per-key running counts across
    micro-batches; a key is emitted exactly once, the moment its
    cumulative count crosses ``min_count`` — the ingest-side trigger
    for hot-key mitigation (salt it, block it, or alert) long before
    any batch aggregation would notice. The batch-side counterpart is
    the count-min sketch (test_count_min.py); this is the exact,
    keyed, incremental variant.

    Scale/state bounds: state per key is TWO scalars (count, promoted
    flag); idle keys decay via processing-time timeout, so total state
    tracks the ACTIVE key set, not the stream's full history — the
    same bounded-state discipline as dropDuplicatesWithinWatermark.
    Keys are hash-distributed by tok; at 100 TB/day the state store
    runs under RocksDB (see test_sessionize's provider pin)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        tok = key[0]
        if state.hasTimedOut:
            state.remove()  # decay: idle key leaves the store
            return
        cnt, promoted = state.get if state.exists else (0, False)
        for pdf in pdfs:
            cnt += len(pdf)
        emit = not promoted and cnt >= min_count
        state.update((cnt, bool(promoted or emit)))
        state.setTimeoutDuration(idle_timeout_ms)
        if emit:
            yield pd.DataFrame({"tok": [tok], "count": [cnt]})

    return toks.groupBy("tok").applyInPandasWithState(
        fn,
        outputStructType=HH_OUT_DDL,
        stateStructType=_HH_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    streaming: bool = True,
) -> DataFrame:
    """Per-user session rollups via Spark's native
    ``session_window`` — the streaming counterpart of the batch
    window-function sessionizer (`analytics.q_sessionize`): sessions
    close after `gap` of inactivity, and with a watermark the state
    store evicts closed sessions, so the operator runs forever on an
    ingest feed with bounded state (state is keyed by (user_id,
    session) — sharded uniformly, no skew key).

    Semantics note vs the batch variant: ``session_window`` treats a
    gap of EXACTLY `gap` as a new session (window is [start,
    last+gap)), while the batch lag-rule splits only on gap > 30 min —
    identical on any input without a microsecond-exact 30:00 gap.

    Set ``streaming=False`` to apply the same operator to a bounded
    DataFrame (session_window works in batch groupBy too — one code
    path for backfill and live)."""
    src = events.withWatermark("ts", watermark) if streaming else events
    return (
        src.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    horizon: str = "7 days",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each left event matches right events
    of the same key whose timestamp is within [left_ts - horizon,
    left_ts] — e.g. attribute purchases to the signup that preceded
    them within the horizon, with BOTH sides arriving continuously.

    Both sides carry watermarks and the join condition carries the
    time range, which is what lets Spark BOUND the join state: a
    buffered right row is evicted once the left watermark passes
    right_ts + horizon (without the range the state grows forever).
    State is sharded by the join key — uniform, no skew key. Column
    names must be pre-disambiguated (right_ts renamed by caller)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (l[left_ts] >= r[right_ts])
        & (l[left_ts] <= r[right_ts] + F.expr(f"INTERVAL {horizon}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stream_decontaminate(
    docs_stream: DataFrame, bench_grams: DataFrame, ngram: int = 8
) -> DataFrame:
    """Stream-STATIC join at ingest: flag each arriving document that
    shares any `ngram`-word gram with a STATIC benchmark gram set
    (column `g`) — decontamination running continuously on the intake
    path instead of as a backfill (batch sibling:
    operators/curation.py::q_decontaminate_flags).

    A stream-static inner/semi join is stateless on the stream side —
    no watermark, no state store: each micro-batch joins against the
    (broadcast-sized) static table and flows on. Output: one row per
    incoming doc with `contaminated` + the distinct leaked-gram count
    (per-doc aggregation is within one doc row's own array — a
    projection, not a streaming aggregation, so append mode works)."""
    toks = words(F.lower(F.col("text")))
    grams = F.when(
        F.size(toks) >= ngram, F.array_distinct(word_ngrams(toks, ngram))
    ).otherwise(F.array().cast("array<string>"))
    bench_set = F.broadcast(
        bench_grams.select(F.col("g")).distinct().agg(
            F.collect_set("g").alias("bench")
        )
    )
    with_bench = docs_stream.select(
        "doc_id", grams.alias("grams")
    ).crossJoin(bench_set)
    leaked = F.array_intersect("grams", "bench")
    return with_bench.select(
        "doc_id",
        F.size(leaked).alias("n_leaked_grams"),
        (F.size(leaked) > 0).alias("contaminated"),
    )
