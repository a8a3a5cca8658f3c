"""Pure-Python reference pin for character-entropy quality scoring,
hand-computed known values, and the zero-exchange plan guarantee the
docstring claims (the only Exchange is the presentation ORDER BY)."""

import math
import tempfile
from collections import Counter

SF_DIR = "/root/testdata/sf0.001"


def _ref_entropy(text: str):
    chars = [c for c in text.lower() if not c.isspace()]
    # python isspace() is broader than regex \s (e.g. \x1c); match the
    # operator's regex semantics exactly instead
    import re

    chars = list(re.sub(r"\s", "", text.lower()))
    n = len(chars)
    if n == 0:
        return None
    cnt = Counter(chars)
    s = sum(k * math.log(k) for k in cnt.values())
    return n, len(cnt), round((math.log(n) - s / n) / math.log(2), 6)


def test_char_entropy_matches_python_reference(spark):
    from ocr_intern_spark.functions.text import q_char_entropy

    rows = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    want = {r.doc_id: _ref_entropy(r.text) for r in rows}
    want = {k: v for k, v in want.items() if v is not None}

    got = q_char_entropy(spark, SF_DIR).collect()
    assert len(got) == len(want)
    for r in got:
        n, d, h = want[r.doc_id]
        assert (r.n_chars_nonws, r.n_distinct_chars) == (n, d), r
        assert abs(r.entropy_bits - h) < 2e-6, (r, h)
    # non-vacuous: natural text spreads over a real entropy range
    hs = [r.entropy_bits for r in got]
    assert max(hs) - min(hs) > 0.1
    assert all(0 <= h <= math.log2(256) for h in hs)


def test_char_entropy_known_values_and_plan(spark):
    from pyspark.sql import functions as F

    from ocr_intern_spark.functions.text import q_char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa", "en", "s", 4),        # one symbol → 0 bits
            (2, "ab ab", "en", "s", 5),       # two equiprobable → 1 bit
            (3, "abcd", "en", "s", 4),        # four equiprobable → 2 bits
            (4, "   ", "en", "s", 3),         # whitespace-only → dropped
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = q_char_entropy(spark, d)
        got = {r.doc_id: r for r in out.collect()}
        assert set(got) == {1, 2, 3}
        assert got[1].entropy_bits == 0.0
        assert got[2].entropy_bits == 1.0
        assert got[3].entropy_bits == 2.0
        assert got[2].n_chars_nonws == 4  # spaces excluded
        # narrow shape: no keyed (hash) exchange anywhere — the only
        # exchanges are the documents() spread's round-robin repartition and
        # the ORDER BY's range partitioning
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan.lower(), plan
        assert "hashpartitioning" not in plan.lower(), plan
