"""XY-cut column segmentation + baseline-clustered reading order
(operators/layout.py) — the north star's layout reconstruction,
pinned on geometries where the correct order is known by
construction. The Spark path is additionally hash-exact vs a
closed-form DuckDB oracle (extract_xycut_order)."""

import numpy as np

from ocr_intern_spark.operators.layout import xycut_order


def _grid(col_x0, lines, per_line, pitch=90, w=80, h=14, lead=24, ar=False):
    """Row-major grid of boxes; returns (x, y, w, h, is_ar) lists."""
    out = []
    for ln in range(lines):
        for p in range(per_line):
            out.append((col_x0 + p * pitch, ln * lead, w, h, ar))
    return out


def _run(boxes, **kw):
    a = np.array([b[:4] for b in boxes], dtype=float).reshape(len(boxes), 4)
    ar = np.array([b[4] for b in boxes], dtype=bool)
    return xycut_order(a[:, 0], a[:, 1], a[:, 2], a[:, 3], ar, **kw)


def test_two_columns_read_left_column_first():
    left = _grid(0, lines=3, per_line=3)
    right = _grid(700, lines=3, per_line=3)
    order = _run(left + right)
    # all 9 left-column tokens (indices 0-8) before any right-column
    assert order[:9] == list(range(9))
    assert sorted(order[9:]) == list(range(9, 18))
    # row-major within each column
    assert order[9:] == list(range(9, 18))


def test_naive_line_binning_would_interleave_columns():
    """The failure mode XY-cut exists to fix: sorting by (line, x)
    across the whole page interleaves the columns."""
    left = _grid(0, lines=2, per_line=2)
    right = _grid(700, lines=2, per_line=2)
    boxes = left + right
    naive = sorted(range(8), key=lambda i: (boxes[i][1], boxes[i][0]))
    assert naive == [0, 1, 4, 5, 2, 3, 6, 7]  # interleaved — wrong
    assert _run(boxes) == [0, 1, 2, 3, 4, 5, 6, 7]  # XY-cut — right


def test_full_width_header_read_before_columns():
    """A full-width band suppresses the column gap at the top level,
    so the horizontal cut fires first — header, then columns."""
    header = [(0, 0, 1480, 20, False)]
    left = [(x, y + 60, w, h, a) for x, y, w, h, a in _grid(0, 2, 3)]
    right = [(x, y + 60, w, h, a) for x, y, w, h, a in _grid(700, 2, 3)]
    order = _run(header + left + right)
    assert order[0] == 0
    assert order[1:7] == [1, 2, 3, 4, 5, 6]
    assert order[7:] == [7, 8, 9, 10, 11, 12]


def test_rtl_majority_line_reads_right_to_left():
    line_ar = [(0, 0, 80, 14, True), (90, 0, 80, 14, True), (180, 0, 80, 14, False)]
    line_fr = [(0, 24, 80, 14, False), (90, 24, 80, 14, True), (180, 24, 80, 14, False)]
    order = _run(line_ar + line_fr)
    assert order == [2, 1, 0, 3, 4, 5]  # ar-majority reversed; fr not


def test_baseline_clustering_survives_jitter_and_mixed_heights():
    """Jittered y (0-2px) + heights 14/18/22 on a 24px leading: the
    baseline rule must recover the grid rows where y//h binning
    shears."""
    rng = np.random.default_rng(5)
    boxes = []
    for ln in range(4):
        for p in range(5):
            h = [14, 18, 22][(ln * 5 + p) % 3]
            boxes.append((p * 90, ln * 24 + rng.integers(0, 3), 80, h, False))
    order = _run(boxes)
    assert order == list(range(20))


def test_degenerate_inputs():
    assert _run([]) == []
    assert _run([(5, 5, 80, 14, True)]) == [0]


def test_spark_xycut_matches_pure_function(spark):
    """The applyInPandas path returns the pure function's order for a
    doc whose geometry crosses group boundaries."""
    import pandas as pd

    from ocr_intern_spark.operators.layout import xycut_reading_order

    boxes = _grid(0, 2, 3) + _grid(700, 2, 3)
    pdf = pd.DataFrame(
        {
            "doc_id": [7] * len(boxes),
            "text": [f"w{i}" for i in range(len(boxes))],
            "x": [float(b[0]) for b in boxes],
            "y": [float(b[1]) for b in boxes],
            "w": [float(b[2]) for b in boxes],
            "h": [float(b[3]) for b in boxes],
            "is_ar": [b[4] for b in boxes],
        }
    )
    got = (
        xycut_reading_order(spark.createDataFrame(pdf))
        .orderBy("ord")
        .collect()
    )
    perm = _run(boxes)
    assert [r["word"] for r in got] == [f"w{i}" for i in perm]


def test_extract_line_sort_interleaves_columns(spark):
    """The flagship extract() keeps the reference's R2 line sort: a
    fake recognizer emits a two-column page and the spans interleave
    the columns line by line (column segmentation is xycut_order's
    job, not extract()'s)."""
    from ocr_intern_spark.operators.extract import extract
    from ocr_intern_spark.oracle.semantics import Token

    def two_col_recognizer(media_ref):
        toks = []
        for ln in range(2):
            for p in range(2):
                toks.append(Token(f"L{ln}{p}", 90.0, p * 90, ln * 24, 80, 14, "fra"))
        for ln in range(2):
            for p in range(2):
                toks.append(Token(f"R{ln}{p}", 90.0, 700 + p * 90, ln * 24, 80, 14, "fra"))
        return toks

    docs = spark.createDataFrame(
        [("d1", [("media", "", "img://d1", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    def texts(df):
        row = df.collect()[0]
        return [s["text"] for s in row["spans"]]

    default = texts(extract(docs, two_col_recognizer))
    assert default == ["L00", "L01", "R00", "R01", "L10", "L11", "R10", "R11"]
