"""The documented 100 TB swap, proven: the LSH-candidate + exact
re-rank pair stage feeds the SAME fuzzy-dedup retention pipeline and
must return identical survivors to the exact inverted-index pair
stage (dedup.py — q_dedup_pipeline_survivors vs
q_dedup_pipeline_survivors_lsh, which also share one DuckDB oracle in
the driver contract)."""

import pytest

from ocr_intern_spark.operators import dedup
from ocr_intern_spark.operators.dedup import (
    MAX_SHINGLE_DF,
    lsh_candidate_jaccard_pairs,
    q_dedup_pipeline_survivors,
    q_dedup_pipeline_survivors_lsh,
    q_ngram_jaccard_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "max_df", [MAX_SHINGLE_DF, 3], ids=["default", "cut3"]
)
def test_lsh_pair_stage_matches_exact_pairs(spark, monkeypatch, max_df):
    """Candidate recall AND precision after re-rank: the re-ranked LSH
    pair set equals the exact jaccard>=0.5 pair set on this corpus
    (re-rank kills false candidates; the banding catches every true
    pair above the similarity knee). A cut of 3 removes shingles from
    this corpus (its largest shingle df is 8), so both stages must
    count set sizes before the cut to agree."""
    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", max_df)
    exact = {
        (r["a"], r["b"], r["jaccard"])
        for r in q_ngram_jaccard_pairs(spark, SF).collect()
    }
    lsh = {
        (r["a"], r["b"], r["jaccard"])
        for r in lsh_candidate_jaccard_pairs(spark, SF).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # non-vacuous


def test_swapped_pipeline_identical_survivors(spark):
    a = [tuple(r) for r in q_dedup_pipeline_survivors(spark, SF).collect()]
    b = [tuple(r) for r in q_dedup_pipeline_survivors_lsh(spark, SF).collect()]
    assert a == b
    assert len(a) > 0
