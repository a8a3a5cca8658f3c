"""Template-field extraction operator (T3 + A2-A5, SURVEY.md §2.8).

Spark-side counterpart of ``ocr_intern_spark.oracle.template`` (the
spec, with reference citations). One Arrow-batched ``mapInPandas``
stage over media rows; per batch the recognizer runs once per
(media, template-field) region and the A2/A3 aggregates are computed
with vectorized pandas groupbys across the WHOLE batch. The A4/A5
candidate-selection step is per-field scalar decision logic (3
candidates max) evaluated from the precomputed aggregates.

Scale: same profile as the OCR stage — repartition media rows by
``hash(media_ref)``, one partition per Python worker slot; the
template (a handful of fields) rides inside the closure like the
reference's broadcast template config (SURVEY.md §1.1).
"""

from __future__ import annotations

import re
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_intern_spark.oracle.template import DEFAULT_TEMPLATE, field_lang
from ocr_intern_spark.oracle.validators import normalize_field

FIELDS_DDL = (
    "doc_id string, media_ref string, field_key string, value string, "
    "norm string, valid boolean, type string, conf double, lang string"
)

_RECEIPT_FMT = re.compile(r"\d{4}/\d{3,5}")


def abs_region(
    height: int, width: int, rel: dict[str, float]
) -> tuple[int, int, int, int]:
    """T1: relative template region (0-1 floats) → absolute pixel box,
    clamped inside the image with a 1px minimum size — exact
    reproduction of TemplateExtractor._abs_box
    (template_extractor.py:108-119). Lives at the recognizer boundary:
    a real image engine crops ``image[y:y+h, x:x+w]`` from this before
    OCR; the deterministic stub addresses regions by name instead."""
    x = int(rel["x"] * width)
    y = int(rel["y"] * height)
    w = int(rel["w"] * width)
    h = int(rel["h"] * height)
    x = max(0, min(x, width - 1))
    y = max(0, min(y, height - 1))
    w = max(1, min(w, width - x))
    h = max(1, min(h, height - y))
    return x, y, w, h


_LATIN_LETTERS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def build_engine_config(rel: dict) -> str:
    """T2: assemble the per-region recognizer config string — exact
    reproduction of _build_tess_config (template_extractor.py:41-66),
    including the Arabic special case that APPENDS a second --oem and
    the Latin blacklist (the duplicate flag is reference behavior;
    tesseract takes the last occurrence). Recognizer-boundary utility:
    the pipeline itself never parses this string."""
    cfg: list[str] = []
    if (psm := rel.get("psm")) is not None:
        cfg += ["--psm", str(psm)]
    if (oem := rel.get("oem")) is not None:
        cfg += ["--oem", str(oem)]
    if (dpi := rel.get("dpi")) is not None:
        cfg += ["-c", f"user_defined_dpi={int(dpi)}"]
    if rel.get("preserve_spaces"):
        cfg += ["-c", "preserve_interword_spaces=1"]
    if wl := rel.get("whitelist"):
        cfg += ["-c", f"tessedit_char_whitelist={wl}"]
    if bl := rel.get("blacklist"):
        cfg += ["-c", f"tessedit_char_blacklist={bl}"]
    if rel.get("lang") == "arabic":
        cfg += [
            "--oem", "1",
            "-c", "preserve_interword_spaces=1",
            "-c", f"tessedit_char_blacklist={_LATIN_LETTERS}",
        ]
    return " ".join(cfg)


def _select_fields(agg: pd.DataFrame) -> pd.DataFrame:
    """Vectorized A4 candidate scoring + A5 receipt boost over the
    WHOLE aggregate frame (template_extractor.py:197-250) — no per-gid
    pandas indexing. The only remaining Python-per-value work is
    normalize_field (the reference's per-string regex dispatch, V11),
    applied through a memo cache so repeated OCR outputs in a batch
    normalize once. ``_choose`` below remains as the oracle-shaped
    per-field spec (used by tests to pin equivalence).

    Columns in: best_text, base_conf, digit_conf (NaN if absent),
    joined, field_key. Columns out: value, norm, valid, type, conf."""
    n = len(agg)
    best_text = agg["best_text"].to_numpy(dtype=object)
    base_conf = agg["base_conf"].to_numpy(dtype=float)
    digit_conf = agg["digit_conf"].to_numpy(dtype=float)
    joined = agg["joined"].to_numpy(dtype=object)
    fkey = agg["field_key"].to_numpy(dtype=object)
    digits_only = (
        agg["joined"].str.replace(r"[^\d/-]+", "", regex=True)
        .to_numpy(dtype=object)
    )

    # running winner, initialized exactly like the reference loop:
    # (best_text, base_conf, invalid empty norm)
    cur_text = best_text.copy()
    cur_score = base_conf.copy()
    cur_valid = np.zeros(n, dtype=bool)
    cur_norm = np.full(n, "", dtype=object)
    cur_type = np.full(n, "text", dtype=object)

    has_digit = ~np.isnan(digit_conf)
    digit_score = np.where(has_digit, digit_conf, base_conf) + 0.1

    memo: dict[tuple[str, str], tuple[bool, str, str]] = {}

    def _norm(key: str, txt: str) -> tuple[bool, str, str]:
        hit = memo.get((key, txt))
        if hit is None:
            nr = normalize_field(key, txt)
            hit = (nr.valid, nr.value, nr.type)
            memo[(key, txt)] = hit
        return hit

    # candidates IN REFERENCE ORDER; each pass does one vectorized
    # lexicographic (valid, score, len) strict-greater update
    for texts, scores in (
        (joined, base_conf),
        (digits_only, digit_score),
        (best_text, base_conf),
    ):
        mask = np.fromiter((bool(t) for t in texts), dtype=bool, count=n)
        if not mask.any():
            continue
        nvalid = np.zeros(n, dtype=bool)
        nvalue = np.full(n, "", dtype=object)
        ntype = np.full(n, "text", dtype=object)
        for i in np.nonzero(mask)[0]:
            nvalid[i], nvalue[i], ntype[i] = _norm(fkey[i], texts[i])
        clen = np.fromiter((len(t) for t in texts), dtype=int, count=n)
        curlen = np.fromiter((len(t) for t in cur_text), dtype=int, count=n)
        cv = nvalid.astype(int)
        uv = cur_valid.astype(int)
        better = mask & (
            (cv > uv)
            | ((cv == uv)
               & ((scores > cur_score)
                  | ((scores == cur_score) & (clen > curlen))))
        )
        cur_text = np.where(better, texts, cur_text)
        cur_score = np.where(better, scores, cur_score)
        cur_valid = np.where(better, nvalid, cur_valid)
        cur_norm = np.where(better, nvalue, cur_norm)
        cur_type = np.where(better, ntype, cur_type)

    # A5 receipt boost
    is_receipt = np.fromiter(
        (k.split(".")[-1] == "receipt_no" for k in fkey), dtype=bool, count=n
    )
    fullm = np.fromiter(
        (bool(_RECEIPT_FMT.fullmatch(t)) for t in cur_text),
        dtype=bool, count=n,
    )
    conf = base_conf.copy()
    rhd = is_receipt & has_digit
    conf[rhd] = digit_conf[rhd]
    boost = rhd & fullm
    conf[boost] = np.maximum(digit_conf[boost] * 2.0, 40.0)

    return pd.DataFrame(
        {
            "value": cur_text,
            "norm": cur_norm,
            "valid": cur_valid,
            "type": cur_type,
            "conf": conf,
        },
        index=agg.index,
    )


def _choose(group: pd.DataFrame, field_key: str) -> tuple[str, str, bool, str, float]:
    """A4 candidate scoring + A5 receipt boost from per-field
    aggregates (template_extractor.py:197-250). Oracle-shaped
    per-field spec — the production stage uses the vectorized
    _select_fields; tests pin their equivalence."""
    best_text = group["best_text"].iloc[0]
    base_conf = group["base_conf"].iloc[0]
    digit_conf = group["digit_conf"].iloc[0]
    joined = group["joined"].iloc[0]
    digits_only = re.sub(r"[^\d/-]+", "", joined)

    candidates: list[tuple[str, float]] = []
    if joined:
        candidates.append((joined, base_conf))
    if digits_only:
        candidates.append(
            (digits_only,
             (digit_conf if not np.isnan(digit_conf) else base_conf) + 0.1)
        )
    if best_text:
        candidates.append((best_text, base_conf))

    chosen_text, chosen_score = best_text, base_conf
    ctype, cvalue, cvalid = "text", "", False
    for txt, sc in candidates:
        nrm = normalize_field(field_key, txt)
        if (int(nrm.valid), sc, len(txt)) > (int(cvalid), chosen_score, len(chosen_text)):
            chosen_text, chosen_score = txt, sc
            ctype, cvalue, cvalid = nrm.type, nrm.value, nrm.valid

    if field_key.split(".")[-1] == "receipt_no":
        if not np.isnan(digit_conf) and _RECEIPT_FMT.fullmatch(chosen_text):
            conf = max(float(digit_conf) * 2.0, 40.0)
        elif not np.isnan(digit_conf):
            conf = float(digit_conf)
        else:
            conf = float(base_conf)
    else:
        conf = float(base_conf)
    return chosen_text, cvalue, bool(cvalid), ctype, conf


def make_fields_stage(
    recognize: Callable[[str], Iterable],
    template: tuple[tuple[str, str, str | None], ...] = DEFAULT_TEMPLATE,
    templates_by_id: dict[str, tuple[tuple[str, str, str | None], ...]] | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Arrow stage. With ``templates_by_id`` set, each input row picks
    its template via its ``template_id`` column (A7-driven selection);
    unknown ids contribute no field rows (the reference records
    template_type='unknown' and runs no template extraction). Without
    it, the fixed ``template`` applies to every row."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            agg = _batch_aggregates(pdf, recognize, template, templates_by_id)
            out_cols = ["doc_id", "media_ref", "field_key", "value", "norm",
                        "valid", "type", "conf", "lang"]
            if not len(agg):
                yield pd.DataFrame({c: [] for c in out_cols})
                continue
            sel = _select_fields(agg)
            res = agg[["doc_id", "media_ref", "field_key", "lang"]].join(sel)
            yield res[out_cols]

    return stage


def _batch_aggregates(
    pdf: pd.DataFrame,
    recognize: Callable[[str], Iterable],
    template: tuple[tuple[str, str, str | None], ...],
    templates_by_id: dict | None,
) -> pd.DataFrame:
    """Recognizer calls + A2/A3 aggregates for one Arrow batch: one
    row per (media, template-field) gid with columns doc_id,
    media_ref, field_key, lang, best_text, base_conf, digit_conf,
    joined — the candidate inputs the A4/A5 selection
    (_select_fields) consumes."""
    tok_rows = []
    meta = []
    tids = (
        pdf["template_id"]
        if templates_by_id is not None and "template_id" in pdf
        else [None] * len(pdf)
    )
    for doc_id, ref, tid in zip(pdf["doc_id"], pdf["media_ref"], tids):
        tpl = (
            templates_by_id.get(tid, ())
            if templates_by_id is not None
            else template
        )
        for section, name, explicit in tpl:
            key = f"{section}.{name}"
            gid = len(meta)
            meta.append((doc_id, ref, key, field_lang(section, name, explicit)))
            for j, t in enumerate(recognize(f"{ref}#{key}")):
                tok_rows.append(
                    (gid, j, t.text or "", float(t.conf),
                     max(1, int(t.w) * int(t.h)))
                )
    if not meta:
        return pd.DataFrame(
            {c: [] for c in ["doc_id", "media_ref", "field_key", "lang",
                             "best_text", "base_conf", "digit_conf", "joined"]}
        )

    tf = pd.DataFrame(tok_rows, columns=["gid", "j", "text", "conf", "area"])
    # A2: first strict argmax of conf*area, only if > 0
    if len(tf):
        tf["ca"] = tf["conf"] * tf["area"]
        grp = tf.groupby("gid", sort=False)
        best_idx = grp["ca"].idxmax()
        best = tf.loc[best_idx].set_index("gid")
        best_text = best["text"].where(best["ca"] > 0, "")
        # A3: interpolated medians (pandas median == statistics.median)
        conf_ok = tf[tf["conf"] >= 0]
        base_conf = conf_ok.groupby("gid")["conf"].median()
        digitish = conf_ok[
            conf_ok["text"].str.contains(r"[\d/-]", regex=True)
        ]
        digit_conf = digitish.groupby("gid")["conf"].median()
        nonempty = tf[tf["text"] != ""]
        joined = nonempty.groupby("gid")["text"].agg(" ".join).str.strip()
    else:
        best_text = pd.Series(dtype=object)
        base_conf = pd.Series(dtype=float)
        digit_conf = pd.Series(dtype=float)
        joined = pd.Series(dtype=object)

    gids = pd.RangeIndex(len(meta))
    return pd.DataFrame(
        {
            "doc_id": [m[0] for m in meta],
            "media_ref": [m[1] for m in meta],
            "field_key": [m[2] for m in meta],
            "lang": [m[3] for m in meta],
            "best_text": best_text.reindex(gids, fill_value=""),
            "base_conf": base_conf.reindex(gids).fillna(0.0),
            "digit_conf": digit_conf.reindex(gids),
            "joined": joined.reindex(gids, fill_value=""),
        },
        index=gids,
    )


def template_fields(
    docs: DataFrame,
    recognize: Callable[[str], Iterable],
    template: tuple[tuple[str, str, str | None], ...] = DEFAULT_TEMPLATE,
    partitions: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → one row per (media span, template
    field) with the normalized field record."""
    p = partitions or docs.sparkSession.sparkContext.defaultParallelism
    media = (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where((F.col("s.kind") == "media") & (F.col("s.media_ref") != ""))
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .repartition(p, F.hash("media_ref"))
    )
    return media.mapInPandas(make_fields_stage(recognize, template), schema=FIELDS_DDL)


FIELDS_AUTO_DDL = FIELDS_DDL + ", template_id string"


def template_fields_auto(
    docs: DataFrame,
    recognize: Callable[[str], Iterable],
    partitions: int | None = None,
) -> DataFrame:
    """S3+A7+T3 wired end to end: detect each document's template type
    from its text spans (A7 keyword cascade over the full 5-template
    set), then run the per-region extraction with THAT template's
    regions. Docs detected 'unknown' contribute no field rows — the
    reference records template_type='unknown' and has no regions to
    crop (hybrid_ocr_gui.py:104-120).

    Plan shape: the A7 detection is a constant codegen'd when-cascade
    evaluated during the same scan that explodes media spans — no
    extra pass over the input, no join (the template id travels as a
    column into the Arrow stage, where the broadcast-sized template
    dict resolves it). One shuffle: the media-row repartition that
    balances recognizer work, identical to template_fields."""
    from ocr_intern_spark.sources.templates import TEMPLATES, detect_template_type

    p = partitions or docs.sparkSession.sparkContext.defaultParallelism
    doc_text = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
        " ",
    )
    media = (
        docs.select(
            "doc_id",
            detect_template_type(doc_text).alias("template_id"),
            F.explode("spans").alias("s"),
        )
        .where((F.col("s.kind") == "media") & (F.col("s.media_ref") != ""))
        .where(F.col("template_id") != "unknown")
        .select("doc_id", "template_id", F.col("s.media_ref").alias("media_ref"))
        .repartition(p, F.hash("media_ref"))
    )
    by_id = {tid: t.field_tuples() for tid, t in TEMPLATES.items()}
    stage = make_fields_stage(recognize, templates_by_id=by_id)

    def stage_with_tid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # re-attach template_id to the output rows (field_key alone is
        # ambiguous across templates sharing section/field names);
        # keyed by doc_id — template_id is a per-DOC decision, and a
        # media_ref shared by two docs with different detected
        # templates would mislabel one of them under a ref-keyed map
        for pdf in batches:
            tid_by_doc = dict(zip(pdf["doc_id"], pdf["template_id"]))
            for out in stage(iter([pdf])):
                out["template_id"] = out["doc_id"].map(tid_by_doc)
                yield out

    return media.mapInPandas(stage_with_tid, schema=FIELDS_AUTO_DDL)
