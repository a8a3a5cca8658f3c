"""XY-cut column segmentation + baseline-clustered reading order —
the north star's PDF-layout reading-order reconstruction, generalizing
the reference's flat line-binning sort
(/root/reference/src/postprocessing/reading_order.py:44-59, R2).

Algorithm (recursive XY-cut, Nagy & Seth 1984): project the token
boxes onto each axis, find whitespace gaps wider than the axis
threshold, cut on the axis with the WIDEST gap (header bands split
before columns because a full-width block suppresses all vertical
gaps), and recurse — horizontal bands top→bottom, columns
left→right. A region with no qualifying gap is a LEAF: tokens are
clustered into lines by BASELINE (y + h) with a consecutive-gap rule
(tolerance defaults to 0.75 × median box height — robust to mixed
font sizes where the reference's ``y // h`` binning shears), lines
read top→bottom, and within a line the reference's RTL rule applies:
right→left iff Arabic tokens are a strict majority (R2's vote),
else left→right.

Scale shape: the recursion is PER DOCUMENT/MEDIA over at most a few
hundred boxes — pure numpy inside one ``applyInPandas`` group, the
exact pattern SURVEY §2.5 prescribes. The only shuffle is the groupBy
exchange on (doc_id, media_ref); everything else is narrow.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_intern_spark.functions.text import words
from ocr_intern_spark.sources.tables import documents

MIN_GAP_X = 40.0  # vertical cut: column gutters (word gaps are ~10px)
MIN_GAP_Y = 18.0  # horizontal cut: band gaps (line leading is ~10px)


def _widest_gap(
    starts: np.ndarray, ends: np.ndarray, min_gap: float
) -> tuple[float, float] | None:
    """Widest whitespace gap strictly inside the union of [start, end)
    intervals, if any gap is >= min_gap. Returns (gap_lo, gap_hi)."""
    order = np.argsort(starts, kind="stable")
    s, e = starts[order], ends[order]
    best: tuple[float, float] | None = None
    cur_end = e[0]
    for i in range(1, len(s)):
        if s[i] > cur_end:
            width = s[i] - cur_end
            if width >= min_gap and (best is None or width > best[1] - best[0]):
                best = (float(cur_end), float(s[i]))
        cur_end = max(cur_end, e[i])
    return best


def _leaf_order(
    x: np.ndarray, y: np.ndarray, h: np.ndarray, is_ar: np.ndarray,
    idx: np.ndarray,
) -> list[int]:
    """Baseline clustering + per-line RTL-aware sort for a leaf
    region. Returns original indices in reading order."""
    base = y + h
    tol = 0.75 * float(np.median(h))
    order = np.argsort(base, kind="stable")
    lines: list[list[int]] = [[order[0]]]
    for prev, cur in zip(order[:-1], order[1:]):
        if base[cur] - base[prev] > tol:
            lines.append([])
        lines[-1].append(cur)
    out: list[int] = []
    for line in lines:
        li = np.array(line)
        rtl = int(is_ar[li].sum()) * 2 > len(li)  # strict majority (R2)
        key = -x[li] if rtl else x[li]
        out.extend(idx[li[np.argsort(key, kind="stable")]].tolist())
    return out


def xycut_order(
    x: np.ndarray,
    y: np.ndarray,
    w: np.ndarray,
    h: np.ndarray,
    is_ar: np.ndarray,
    min_gap_x: float = MIN_GAP_X,
    min_gap_y: float = MIN_GAP_Y,
) -> list[int]:
    """Reading-order permutation (original indices) of the given
    boxes under recursive XY-cut + baseline-clustered leaves."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    w = np.asarray(w, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    is_ar = np.asarray(is_ar, dtype=bool)
    n = len(x)
    if n == 0:
        return []
    out: list[int] = []
    stack: list[np.ndarray] = [np.arange(n)]
    while stack:
        idx = stack.pop()
        if len(idx) == 1:
            out.append(int(idx[0]))
            continue
        hgap = _widest_gap(y[idx], y[idx] + h[idx], min_gap_y)
        vgap = _widest_gap(x[idx], x[idx] + w[idx], min_gap_x)
        if hgap is None and vgap is None:
            out.extend(_leaf_order(x[idx], y[idx], h[idx], is_ar[idx], idx))
            continue
        hw = (hgap[1] - hgap[0]) if hgap else -1.0
        vw = (vgap[1] - vgap[0]) if vgap else -1.0
        if hw >= vw:  # horizontal cut: top band first (tie → bands)
            cut = (hgap[0] + hgap[1]) / 2.0
            top = idx[y[idx] < cut]
            bot = idx[y[idx] >= cut]
            stack.append(bot)  # LIFO: push later-read segment first
            stack.append(top)
        else:  # vertical cut: left column first (columns always LTR;
            # the RTL rule is a per-LINE property in the reference)
            cut = (vgap[0] + vgap[1]) / 2.0
            left = idx[x[idx] < cut]
            right = idx[x[idx] >= cut]
            stack.append(right)
            stack.append(left)
    return out


TOKENS_DDL = (
    "doc_id long, text string, x double, y double, w double, h double, "
    "is_ar boolean"
)
ORDERED_DDL = "doc_id long, ord int, word string"


def xycut_reading_order(tokens: DataFrame) -> DataFrame:
    """Distributed XY-cut over (doc_id)-grouped tokens. Input columns
    per TOKENS_DDL; output (doc_id, ord, word).

    Shape: ONE hash repartition on doc_id, then a mapInPandas stage
    whose batches hold MANY whole documents, looped with a pandas
    groupby — not applyInPandas, whose per-key Arrow group framing
    costs ~100 µs/group and dominated wall time at 10^5 tiny docs per
    sf (measured 22 s → ~3 s at sf0.1). The repartition guarantees a
    doc's tokens land in one partition, and mapInPandas batches never
    split a partition's rows mid-group... except across BATCHES of
    the same partition — so rows are partition-locally SORTED by
    doc_id (no extra shuffle) making each doc contiguous, and the
    stage carries the last (possibly batch-cut) doc into the next
    batch."""
    p = tokens.sparkSession.sparkContext.defaultParallelism
    parted = tokens.repartition(p, F.hash("doc_id")).sortWithinPartitions(
        "doc_id"
    )

    def stage(batches) -> "pd.DataFrame":
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_doc = pdf["doc_id"].iloc[-1]
            carry = pdf[pdf["doc_id"] == last_doc]
            cur = pdf[pdf["doc_id"] != last_doc]
            if len(cur):
                yield _order_docs(cur)
        if carry is not None and len(carry):
            yield _order_docs(carry)

    def _order_docs(pdf: pd.DataFrame) -> pd.DataFrame:
        # Docs are CONTIGUOUS here (partition-locally sorted upstream,
        # batch cuts healed by the carry), so group boundaries come
        # from one vector compare — no pandas groupby, and ONE output
        # frame per batch instead of one per doc + concat (the per-doc
        # frame builds dominated this stage's Python time: ~100 µs of
        # pandas overhead per 24-token doc).
        doc = pdf["doc_id"].to_numpy()
        x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        w, h = pdf["w"].to_numpy(), pdf["h"].to_numpy()
        ar = pdf["is_ar"].to_numpy()
        starts = np.flatnonzero(np.r_[True, doc[1:] != doc[:-1]])
        ends = np.r_[starts[1:], len(doc)]
        perm = np.empty(len(doc), dtype=np.int64)
        ordv = np.empty(len(doc), dtype=np.int32)
        for s, e in zip(starts, ends):
            perm[s:e] = s + xycut_order(x[s:e], y[s:e], w[s:e], h[s:e], ar[s:e])
            ordv[s:e] = np.arange(e - s, dtype=np.int32)
        return pd.DataFrame(
            {
                "doc_id": doc[perm],
                "ord": ordv,
                "word": pdf["text"].to_numpy()[perm],
            }
        )

    return parted.mapInPandas(stage, schema=ORDERED_DDL)


def q_xycut_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable XY-cut: token geometry synthesized natively
    from the documents table as a TWO-COLUMN page — words 0-11 fill
    column A (6 per line, 90px pitch, jittered x/y, mixed heights
    14/18/22), words 12-23 fill column B at +700px, Arabic-ness by the
    same formula as extract_reading_order. The 165px gutter forces a
    vertical cut; 10px word gaps and 10-14px line leading forbid any
    other cut; baseline clustering must recover the line grid through
    the jitter.

    The DuckDB oracle states the KNOWN-CORRECT reading order for this
    geometry in closed form (column, then line, then RTL-aware x) —
    the recursion must reconstruct it, the same oracle pattern as the
    rollup cascade. Spark runs the real recursive algorithm via
    applyInPandas; nothing order-related is hinted to it."""
    d = documents(spark, sf_dir)
    toks = F.slice(words(F.col("text")), 1, 24)
    t = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(toks).alias("i", "word"),
    )
    k = F.when(F.col("i") >= 12, F.col("i") - 12).otherwise(F.col("i"))
    col = F.when(F.col("i") >= 12, F.lit(1)).otherwise(F.lit(0))
    line = (k / 6).cast("int")
    pos = k % 6
    t = t.select(
        "doc_id",
        F.col("word").alias("text"),
        (pos * 90 + (F.col("i") * 7) % 6 + col * 700).cast("double").alias("x"),
        (line * 24 + (F.col("i") * 3) % 3).cast("double").alias("y"),
        F.lit(80.0).alias("w"),
        F.element_at(
            F.array(F.lit(14.0), F.lit(18.0), F.lit(22.0)),
            ((F.col("i") * F.col("i")) % 3 + 1).cast("int"),
        ).alias("h"),
        ((F.col("doc_id") + F.col("i") * F.col("i")) % 5 < 2).alias("is_ar"),
    )
    return xycut_reading_order(t).orderBy("doc_id", "ord")


_XYCUT_SQL = """
WITH toks AS (
  SELECT doc_id, u.i - 1 AS i, u.w AS word
  FROM (
    SELECT doc_id,
           list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS tl
    FROM documents
  ), LATERAL (
    SELECT unnest(tl) AS w, generate_subscripts(tl, 1) AS i
  ) u
),
g AS (
  SELECT doc_id, i, word,
         CASE WHEN i >= 12 THEN 1 ELSE 0 END AS col,
         CAST((CASE WHEN i >= 12 THEN i - 12 ELSE i END) // 6 AS INT) AS line,
         ((CASE WHEN i >= 12 THEN i - 12 ELSE i END) % 6) * 90
           + (i * 7) % 6 AS x,
         ((doc_id + i * i) % 5 < 2) AS is_ar
  FROM toks
),
r AS (
  SELECT g.*,
         sum(CASE WHEN is_ar THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id, col, line) * 2
           > count(*) OVER (PARTITION BY doc_id, col, line) AS rtl
  FROM g
)
SELECT doc_id,
       CAST(row_number() OVER (
         PARTITION BY doc_id
         ORDER BY col, line, CASE WHEN rtl THEN -x ELSE x END
       ) - 1 AS INT) AS ord,
       word
FROM r
ORDER BY doc_id, ord
"""




# --- table-grid cell reconstruction -----------------------------------------

ROW_GAP = 15  # a sorted-y jump above this starts a new table row
COL_GAP = 50  # a sorted-x jump above this starts a new table column


def table_grid(tokens: DataFrame, row_gap: int = ROW_GAP,
               col_gap: int = COL_GAP) -> DataFrame:
    """Table-structure recovery over word boxes (the ruling-line-free
    half of PDF table detection, Kieninger T-Recs-style projection
    clustering): cluster token y-coordinates into rows and
    x-coordinates into columns by 1-D gap thresholds, then emit one
    cell per (row, col) with its text in x order. Input:
    (doc_id, x, y, text); output: (doc_id, row_id, col_id, cell_text).

    Scale shape: both clusterings are windows over the SAME
    hashpartitioning(doc_id) — Spark reuses one exchange with two
    intra-partition sorts; the final (doc_id, row_id, col_id)
    aggregate is satisfied by the same partitioning (doc_id is a
    prefix), so the whole operator is ONE shuffle. All-integer
    coordinates and gap tests — bit-portable."""
    from pyspark.sql.window import Window

    by_y = Window.partitionBy("doc_id").orderBy("y", "x", "text")
    by_x = Window.partitionBy("doc_id").orderBy("x", "y", "text")
    run_y = by_y.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run_x = by_x.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = (
        tokens.withColumn(
            "_ny",
            (
                F.col("y") - F.coalesce(F.lag("y").over(by_y), F.col("y"))
                > row_gap
            ).cast("int"),
        )
        .withColumn(
            "_nx",
            (
                F.col("x") - F.coalesce(F.lag("x").over(by_x), F.col("x"))
                > col_gap
            ).cast("int"),
        )
        # cast to INT canonically: DuckDB's window sum is HUGEINT (int128)
        # and Spark's is BIGINT — some Arrow/normalizer paths render those
        # differently, so both engines emit plain 32-bit ids (grids are
        # bounded by tokens-per-doc, nowhere near 2^31)
        .withColumn("row_id", F.sum("_ny").over(run_y).cast("int"))
        .withColumn("col_id", F.sum("_nx").over(run_x).cast("int"))
    )
    cell = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("x", "y", "text"))
            ),
            lambda s: s["text"],
        ),
        " ",
    )
    return (
        t.groupBy("doc_id", "row_id", "col_id")
        .agg(cell.alias("cell_text"))
        .orderBy("doc_id", "row_id", "col_id")
    )


def q_extract_table_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable table grid: word geometry synthesized natively
    from the documents table as a 4-row x 6-column table — word i
    sits at column i%6 (x = col*150 + (i*7)%11) and row i//6
    (y = row*40 + (i*3)%7). Within-cluster jitter (<=10px x, <=6px y)
    is far under the gap thresholds; the clustering must recover the
    grid through it. The DuckDB oracle runs the same 1-D gap
    clustering as window SQL — integer coordinates end to end."""
    d = documents(spark, sf_dir)
    toks = F.slice(words(F.col("text")), 1, 24)
    t = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(toks).alias("i", "text"),
    ).select(
        "doc_id",
        "text",
        ((F.col("i") % 6) * 150 + (F.col("i") * 7) % 11).alias("x"),
        ((F.col("i") / 6).cast("int") * 40 + (F.col("i") * 3) % 7).alias("y"),
    )
    return table_grid(t)


_TABLE_GRID_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.i - 1 AS i, u.w AS text
  FROM (
    SELECT doc_id,
           list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 24) AS tl
    FROM documents
  ), LATERAL (
    SELECT unnest(tl) AS w, generate_subscripts(tl, 1) AS i
  ) u
),
geo AS (
  SELECT doc_id, text,
         (i % 6) * 150 + (i * 7) % 11 AS x,
         (i // 6) * 40 + (i * 3) % 7 AS y
  FROM toks
),
flagged AS (
  SELECT *,
         CASE WHEN y - coalesce(lag(y) OVER w, y) > {ROW_GAP}
              THEN 1 ELSE 0 END AS ny,
         CASE WHEN x - coalesce(lag(x) OVER v, x) > {COL_GAP}
              THEN 1 ELSE 0 END AS nx
  FROM geo
  WINDOW w AS (PARTITION BY doc_id ORDER BY y, x, text),
         v AS (PARTITION BY doc_id ORDER BY x, y, text)
),
cols_clustered AS (
  SELECT *,
         CAST(sum(ny) OVER (PARTITION BY doc_id ORDER BY y, x, text
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS INTEGER) AS row_id,
         CAST(sum(nx) OVER (PARTITION BY doc_id ORDER BY x, y, text
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS INTEGER) AS col_id
  FROM flagged
)
SELECT doc_id, row_id, col_id,
       array_to_string(list(text ORDER BY x, y, text), ' ') AS cell_text
FROM cols_clustered
GROUP BY doc_id, row_id, col_id
ORDER BY doc_id, row_id, col_id
"""


QUERIES = {
    "extract_xycut_order": (q_xycut_order, _XYCUT_SQL),
    "extract_table_grid": (q_extract_table_grid, _TABLE_GRID_SQL),
}
