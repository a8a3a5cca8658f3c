"""The flagship extraction pipeline — Spark-first implementation.

Semantics: ``ocr_intern_spark.oracle.semantics`` (module docstring is
the spec; reference citations there). Architecture per SURVEY.md §3:

    scan → posexplode(spans)                       [narrow]
      ├── non-media spans → native Catalyst exprs  [narrow]
      └── media spans → repartition(media_ref)     [shuffle #1, balances
            → mapInPandas(recognize+fuse)            OCR work & splits
                                                     oversized docs]
      → union → groupBy(doc_id).collect_list       [shuffle #2]
      → array_sort + transform(order)              [narrow]

Scale design notes (100 TB / 1000 executors):

* Exploding to span rows BEFORE the expensive stage is the skew
  strategy: a 5,000-span document becomes 5,000 independent rows, so
  one giant doc can't pin a task (SURVEY.md §4 item 1 — AQE cannot
  split a single row). The OCR stage is repartitioned by
  ``hash(media_ref)`` which is near-uniform by construction.
* All non-media span logic is pure Catalyst: link density, anchor
  strip, squash, field-key dispatch normalization. Python touches ONLY
  media spans, Arrow-batched. It is not WholeStageCodegen: the
  ``aggregate`` in ``_linked_chars``, the ``transform`` in
  ``title_case`` and the ``filter`` in ``normalize_commune`` are
  CodegenFallback HOFs, so the transform's Filter and Project run as
  generated projections outside any ``*(n)`` codegen stage.
* The transform's Column tree costs the driver ~4,900 py4j round trips
  to build (each ``F.*`` call is 2–3), about a second per ``extract()``
  call, so it is built once per SparkContext and reused
  (``_plain_span_columns``). ``extract()`` runs once per micro-batch
  in the streaming path and once per store commit, resume and upsert.
* Re-assembly is ONE hash shuffle on doc_id; collect_list +
  array_sort keeps per-doc state bounded by document size (documents
  are bounded; 10^12-doc scale comes from doc count, not doc size).
* No driver-side loops, no collect(), no per-row Python UDFs.
"""

from __future__ import annotations

import functools
from typing import Any, Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_intern_spark.functions.normalizers import (
    normalize_field_lowered,
    squash_spaces,
)
from ocr_intern_spark.schema import FLAT_DDL
from ocr_intern_spark.sources.tables import spread

LINK_DENSITY_CUTOFF = 1.0 / 3.0

_ANCHOR_INNER = r"(?s)<a\b[^>]*>(.*?)</a>"
_ANCHOR_TAGS = r"(?s)</?a\b[^>]*>"


def _linked_chars(text: Column) -> Column:
    """Total characters inside <a>…</a> anchors — native HOF.

    Guarded by a cheap instr() probe: spans with no '<a' at all (the
    common case in a web corpus after upstream block splitting) skip
    the two regex passes entirely — when() branches evaluate lazily
    per row, so this is a real skip, not a hint."""
    inners = F.regexp_extract_all(text, F.lit(_ANCHOR_INNER), 1)
    total = F.aggregate(inners, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.instr(text, "<a") > 0, total).otherwise(F.lit(0))


def _clean_text(text: Column) -> Column:
    # probe both open and close forms: a lone '</a>' (no '<a') must
    # still be stripped to match the oracle's _TAG_RE semantics
    has_tag = (F.instr(text, "<a") > 0) | (F.instr(text, "</a") > 0)
    stripped = F.when(
        has_tag, F.regexp_replace(text, _ANCHOR_TAGS, "")
    ).otherwise(text)
    return squash_spaces(stripped)


def explode_spans(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


@functools.lru_cache(maxsize=1)
def _plain_span_columns(
    sc: SparkContext,
) -> tuple[list[Column], Column, list[Column | str]]:
    """The span transform's Columns — ``(staged, keep, out)`` — built
    once per SparkContext (module docstring); a new context rebuilds.

    ``staged`` adds the field key, its raw value and the lower-cased
    key as columns of a narrow projection, so the normalizer cascade
    reads three attributes instead of inlining the ``instr``/
    ``substring_index``/``trim`` subtrees into each of its branches
    (Catalyst's CollapseProject keeps a non-trivial expression staged
    when the projection above references it more than once)."""
    text = F.col("text")
    # try_divide: '' text has density NULL, not DIVIDE_BY_ZERO (ANSI);
    # its cleaned text is empty too, so the span is dropped either way
    density_drop = F.try_divide(
        _linked_chars(text).cast("double"), F.length(text)
    ) > F.lit(LINK_DENSITY_CUTOFF)
    cleaned = _clean_text(text)

    # no ':' → whole text is the value, key is ''
    has_colon = F.instr(text, ":") > 0
    fkey = F.when(has_colon, F.trim(F.substring_index(text, ":", 1))).otherwise(
        F.lit("")
    )
    fraw = F.when(
        has_colon, F.trim(F.expr("substring(text, instr(text, ':') + 1)"))
    ).otherwise(F.trim(text))
    staged = [
        fkey.alias("_fkey"),
        fraw.alias("_fraw"),
        F.lower(fkey).alias("_fkey_lower"),
    ]
    fvalue = normalize_field_lowered(F.col("_fkey_lower"), F.col("_fraw"))[
        "value"
    ]

    out_text = (
        F.when(F.col("kind") == "text", cleaned)
        .when(F.col("kind") == "heading", squash_spaces(text))
        .when(F.col("kind") == "field", F.concat(F.col("_fkey"), F.lit("="), fvalue))
        .when(F.col("kind") == "media", F.lit("missing media_ref"))
    )
    out_kind = F.when(F.col("kind") == "media", F.lit("error")).otherwise(
        F.col("kind")
    )

    keep = (
        ((F.col("kind") == "text") & ~density_drop & (F.length(cleaned) > 0))
        | ((F.col("kind") == "heading") & (F.length(squash_spaces(text)) > 0))
        | (F.col("kind") == "field")
        | (
            (F.col("kind") == "media")
            & ((F.col("media_ref").isNull()) | (F.col("media_ref") == ""))
        )
    )
    out = [
        "doc_id",
        "offset",
        "pos",
        F.lit(0).alias("seq"),
        out_kind.alias("kind"),
        out_text.alias("text"),
        F.lit("").alias("media_ref"),
    ]
    return staged, keep, out


def transform_plain_spans(flat: DataFrame) -> DataFrame:
    """Everything except media OCR — pure Catalyst expressions.

    text: boilerplate/link-density strip (spec step 2-3);
    heading: squash (step 4); field: key-dispatch normalize (step 5);
    media with missing ref: error capture (step 6a).
    """
    staged, keep, out = _plain_span_columns(flat.sparkSession.sparkContext)
    return (
        flat.where(keep)
        .select("doc_id", "offset", "pos", "kind", "text", *staged)
        .select(*out)
    )


# ---------------------------------------------------------------------------
# Media OCR stage — the one mapInPandas stage (Arrow-batched).
# ---------------------------------------------------------------------------

_AR_RANGE = "[\u0600-\u06ff]"
_LATIN = "[a-zA-Z]"

Recognizer = Callable[[str], Iterable[Any]]


def _fused_tokens(
    rows: pd.DataFrame, recognize: Recognizer
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Run the recognizer over one Arrow batch of media rows and apply
    parse filter → F1 script filter → F4 overlap dedupe. Returns
    ``(m, det)``: the surviving ocr-token frame (columns rid/j/text/
    conf/x/y/w/h/lang/blk — blk 0=arabic 1=french, NOT yet
    reading-ordered) and the raw detector-candidate frame (F7/F8).
    Shared by the span-emitting fusion (`_fuse_batch`) and the A6
    confidence aggregate (`make_conf_stage`)."""
    empty = pd.DataFrame(
        {c: [] for c in
         ["rid", "j", "text", "conf", "x", "y", "w", "h", "lang", "kind", "blk"]}
    )
    tok_rows: list[tuple] = []
    for rid, ref in enumerate(rows["media_ref"]):
        for j, t in enumerate(recognize(ref)):
            tok_rows.append((rid, j, t.text or "", float(t.conf),
                             int(t.x), int(t.y), int(t.w), int(t.h), t.lang,
                             getattr(t, "kind", "ocr") or "ocr"))
    if not tok_rows:
        return empty, empty
    af = pd.DataFrame(
        tok_rows,
        columns=["rid", "j", "text", "conf", "x", "y", "w", "h", "lang", "kind"],
    )
    # detector candidates (F7 handwriting / F8 stamp — see
    # oracle.semantics.Token): bypass the fusion, appended after the
    # ocr spans of their media ref in emission order
    det = af[af["kind"] != "ocr"]
    tf = af[af["kind"] == "ocr"]

    # parse filter (base.py:189-211) + F1 script filter (hybrid.py:27-44)
    stripped = tf["text"].str.strip()
    parse_ok = (stripped != "") & (tf["conf"] >= 0)
    is_ar = parse_ok & (tf["lang"] == "ara") & tf["text"].str.contains(_AR_RANGE, regex=True)
    is_fr = parse_ok & (tf["lang"] == "fra") & tf["text"].str.contains(_LATIN, regex=True)

    ar = tf[is_ar].reset_index(drop=True)
    fr = tf[is_fr].reset_index(drop=True)

    # F4 dedupe: pairs within the same rid (hybrid.py:88-128)
    if len(ar) and len(fr):
        pairs = ar.reset_index().merge(
            fr.reset_index(), on="rid", suffixes=("_a", "_f")
        )
        ov = (
            (pairs["x_a"] < pairs["x_f"] + pairs["w_f"])
            & (pairs["x_a"] + pairs["w_a"] > pairs["x_f"])
            & (pairs["y_a"] < pairs["y_f"] + pairs["h_f"])
            & (pairs["y_a"] + pairs["h_a"] > pairs["y_f"])
        )
        ar_lost = pairs.loc[ov & (pairs["conf_a"] <= pairs["conf_f"]), "index_a"].unique()
        ar_keep_mask = ~ar.index.isin(ar_lost)
        # french compares against the SURVIVING arabic set only
        surv = pairs[ov & pairs["index_a"].isin(ar.index[ar_keep_mask])]
        fr_lost = surv.loc[surv["conf_f"] < surv["conf_a"], "index_f"].unique()
        ar = ar[ar_keep_mask]
        fr = fr[~fr.index.isin(fr_lost)]

    # merged order: arabic block then french block per ref
    # (flatten_results over {"arabic": …, "french": …})
    ar = ar.assign(blk=0)
    fr = fr.assign(blk=1)
    m = pd.concat([ar, fr], ignore_index=True)
    return m, det


def _fuse_batch(rows: pd.DataFrame, recognize: Recognizer) -> pd.DataFrame:
    """Hybrid fusion for one Arrow batch of media rows — vectorized
    across ALL refs at once (no per-ref Python work beyond the
    recognizer call itself).

    Independent reimplementation of parse-filter → F1 script filter →
    F4 overlap dedupe → R2 reading order (hybrid.py:27-128,
    reading_order.py:44-59); the pure-Python oracle implements the
    same spec with reference-shaped loops. Returns FLAT_DDL rows.

    Vectorization scheme:
    * one flat token frame for the whole batch, keyed by the media
      row index `rid`;
    * F4 via an intra-ref pandas merge (arabic × french pairs exist
      only within a rid — group sizes are word counts, so the pair
      frame stays linear-ish);
    * R2 via groupby-transform votes + one stable lexsort keyed
      (rid, line, signed_x, merged-order).
    """
    cols = ["doc_id", "offset", "pos", "seq", "kind", "text", "media_ref"]
    m, det = _fused_tokens(rows, recognize)
    if not len(m) and not len(det):
        return pd.DataFrame({c: [] for c in cols})

    parts: list[pd.DataFrame] = []
    if len(m):
        m = m.sort_values(["rid", "blk", "j"], kind="stable").reset_index(
            drop=True
        )
        # R2: line binning + per-line RTL strict-majority vote
        line = m["y"] // np.maximum(1, m["h"])
        m = m.assign(line=line, arab=(m["blk"] == 0))
        grp = m.groupby(["rid", "line"])["arab"]
        rtl = grp.transform("sum") > grp.transform("size") / 2
        signed_x = np.where(rtl, -m["x"], m["x"])
        perm = np.lexsort((signed_x, m["line"].to_numpy(), m["rid"].to_numpy()))
        m = m.iloc[perm].reset_index(drop=True)
        m["seq"] = m.groupby("rid").cumcount()
        parts.append(
            m[["rid", "seq"]].assign(text=m["text"].str.strip(), kind="ocr")
        )

    if len(det):
        det = det.sort_values(["rid", "j"], kind="stable").reset_index(drop=True)
        ocr_counts = m.groupby("rid").size() if len(m) else pd.Series(dtype=int)
        base = det["rid"].map(ocr_counts).fillna(0).astype(int)
        bbox_text = (
            det["x"].astype(str) + "," + det["y"].astype(str)
            + "," + det["w"].astype(str) + "," + det["h"].astype(str)
        )
        parts.append(
            det[["rid", "kind"]].assign(
                seq=det.groupby("rid").cumcount() + base, text=bbox_text
            )
        )

    meta = rows.reset_index(drop=True)
    out = pd.concat(parts, ignore_index=True)
    out = out.join(meta[["doc_id", "offset", "pos", "media_ref"]], on="rid")
    return out[cols]


class ListAccumulator:
    """pyspark AccumulatorParam appending task-local lists — carries
    per-partition timing rows back to the driver (B4 semantics,
    hybrid_ocr_gui.py:66-69/155-164, at partition granularity)."""

    # implements pyspark.accumulators.AccumulatorParam duck-typed
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def make_ocr_stage(
    recognize: Recognizer,
    timing_acc=None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas function: (doc_id, offset, pos, media_ref) batches →
    FLAT_DDL rows, one per surviving OCR token, seq = reading order.

    ``timing_acc`` (optional, from ``ListAccumulator``): each task
    appends ``(partition_id, media_rows, wall_ms)`` on completion."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        t0 = _time.perf_counter()
        rows = 0
        try:
            for pdf in batches:
                rows += len(pdf)
                yield _fuse_batch(pdf, recognize)
        finally:
            if timing_acc is not None:
                from pyspark import TaskContext

                ctx = TaskContext.get()
                timing_acc.add(
                    [(
                        ctx.partitionId() if ctx else -1,
                        rows,
                        (_time.perf_counter() - t0) * 1000.0,
                    )]
                )

    return stage


def ocr_media_spans(
    flat: DataFrame,
    recognize: Recognizer,
    ocr_partitions: int | None = None,
    timing_acc=None,
) -> DataFrame:
    media = flat.where(
        (F.col("kind") == "media")
        & F.col("media_ref").isNotNull()
        & (F.col("media_ref") != "")
    ).select("doc_id", "offset", "pos", "media_ref")
    if ocr_partitions:
        # balance recognizer work independent of document skew
        media = media.repartition(ocr_partitions, F.hash("media_ref"))
    return media.mapInPandas(
        make_ocr_stage(recognize, timing_acc=timing_acc), schema=FLAT_DDL
    )


def make_conf_stage(
    recognize: Recognizer,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas function for A6: per media row, the count and sum
    of surviving ocr-token confidences — a MAP-SIDE PARTIAL aggregate,
    so the per-doc combine downstream shuffles two numbers per media
    row instead of one row per token."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m, _det = _fused_tokens(pdf, recognize)
            meta = pdf.reset_index(drop=True)
            idx = pd.RangeIndex(len(meta))
            if len(m):
                g = m.groupby("rid")["conf"].agg(["count", "sum"]).reindex(
                    idx, fill_value=0.0
                )
                counts, sums = g["count"].astype("int64"), g["sum"]
            else:
                counts = pd.Series(0, index=idx, dtype="int64")
                sums = pd.Series(0.0, index=idx)
            yield pd.DataFrame(
                {"doc_id": meta["doc_id"], "n_tokens": counts, "sum_conf": sums}
            )

    return stage


def doc_confidence(
    docs: DataFrame,
    recognize: Recognizer,
    ocr_partitions: int | None = None,
) -> DataFrame:
    """A6 overall document confidence (hybrid_ocr_gui.py:96-102): mean
    confidence over all tokens surviving the hybrid fusion across the
    document's media spans; 0.0 when none (including docs with no
    media at all, matching the reference's empty-list branch).

    Shape: media rows → partial (count,sum) in Python → ONE hash
    aggregate on doc_id → left join back to the doc list (broadcast
    at small scale; at 10^12 docs this side-output would instead be
    merged into the extraction pass — kept separate here because the
    reference exposes it as its own accessor)."""
    sc = docs.sparkSession.sparkContext
    p = ocr_partitions or sc.defaultParallelism
    media = (
        explode_spans(docs)
        .where(
            (F.col("kind") == "media")
            & F.col("media_ref").isNotNull()
            & (F.col("media_ref") != "")
        )
        .select("doc_id", "media_ref")
        .repartition(p, F.hash("media_ref"))
    )
    parts = media.mapInPandas(
        make_conf_stage(recognize),
        schema="doc_id string, n_tokens long, sum_conf double",
    )
    agg = parts.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("n_tokens"), F.sum("sum_conf").alias("s")
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.when(F.col("n_tokens") > 0, F.col("s") / F.col("n_tokens"))
            .otherwise(F.lit(0.0))
            .alias("mean_conf"),
        )
    )


_SENTINEL_KIND = "\x7f__doc__"


def assemble(flat_out: DataFrame) -> DataFrame:
    """Re-assemble per-document span arrays with the final 0-based
    ``order`` (spec step 7). One hash shuffle; sort key
    (offset, pos, seq) reproduces the oracle's stable emission order.

    Rows with the sentinel kind (one per input doc, injected by
    ``extract``) guarantee every doc_id survives with an empty array
    — WITHOUT a join against the input (a join would need either a
    broadcast of all doc_ids — impossible at 10^12 docs — or a second
    shuffle of the full input). The sentinel rides the existing
    shuffle as one extra row per doc and is dropped here."""
    return (
        flat_out.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("offset", "pos", "seq", "kind", "text", "media_ref")
                )
            ).alias("arr")
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(filter(arr, e -> e.kind != '{_SENTINEL_KIND}'),"
                " (e, i) -> struct("
                "e.kind as kind, e.text as text, "
                "e.media_ref as media_ref, cast(i as int) as `order`))"
            ).alias("spans"),
        )
    )


def extract(
    docs: DataFrame,
    recognize: Recognizer,
    ocr_partitions: int | None = None,
    partitions: int | None = None,
    ocr_timing_acc=None,
) -> DataFrame:
    """documents(doc_id, spans[kind,text,media_ref,offset]) →
    extracted(doc_id, spans[kind,text,media_ref,order]).

    Every input doc_id appears in the output exactly once — docs whose
    spans are all dropped (or null/empty input arrays) get an empty
    span array. Required for idempotent checkpoint/resume: the
    anti-join against the extracted table must see every processed
    doc (SURVEY.md §4 item 3).
    """
    p = partitions or docs.sparkSession.sparkContext.defaultParallelism
    # a pre-spread input (derive_spans' span frame) skips the exchange
    # of the full span payload — guide §2.4, remove shuffles outright
    repartitioned = spread(docs, p)
    flat = explode_spans(repartitioned)
    plain = transform_plain_spans(flat)
    # Python stages want exactly one partition per worker slot:
    # exceeding it (e.g. 2×cores) thrashes worker startup/memory and
    # measured 4× slower — see BENCH/BASELINE.md.
    ocr = ocr_media_spans(
        flat,
        recognize,
        ocr_partitions=ocr_partitions or p,
        timing_acc=ocr_timing_acc,
    )
    # one sentinel row per doc → every doc_id survives assembly with
    # an empty array, no join (see assemble docstring)
    sentinels = repartitioned.select(
        "doc_id",
        F.lit(2147483647).alias("offset"),
        F.lit(2147483647).alias("pos"),
        F.lit(0).alias("seq"),
        F.lit(_SENTINEL_KIND).alias("kind"),
        F.lit("").alias("text"),
        F.lit("").alias("media_ref"),
    )
    return assemble(plain.unionByName(ocr).unionByName(sentinels))


def classify_documents(extracted: DataFrame) -> DataFrame:
    """A1: join span texts per doc (already in reading order) and run
    the keyword cascade — fully native."""
    from ocr_intern_spark.functions.normalizers import classify_doc_type

    joined = F.array_join(F.expr("transform(spans, s -> s.text)"), " ")
    return extracted.select(
        "doc_id", classify_doc_type(joined).alias("doc_type")
    )
