"""Registry-wide physical-plan regression gate.

Every registered query's pre-AQE physical plan is built at sf0.001
and checked against the two plan classes that kill a 100 TB run.
`sparkPlan()` never executes the job, but building a frame can run a
bounded collect: `sim_knn_join_topk` and the two graph queries over
its edges collect the eval-sized embeddings frame for the driver-side
pair kernel (`similarity.pairwise_topk`).

* `CartesianProduct` — never allowed, anywhere;
* `BroadcastNestedLoopJoin` — allowed ONLY for the documented
  scalar/bounded-build class, and since round 5 the allowlist is
  ASSERTED, not just audited: for every allowlisted name, each BNLJ
  build side is materialized from its logical link and its actual
  row count at sf0.001 must stay under `_SCALAR_BUILD_BOUND` (the
  observed scalar-class maximum is 30 — 1-row totals, ≤5-row
  alphabet frames, ≤31-row day spines). A future edit that turns a
  scalar broadcast into a genuine cross product fails the gate with
  no human audit needed (VERDICT r4 "Next round" #5). Every
  allowlisted name must still plan a BNLJ, so an entry whose join
  went away leaves the list instead of waiting to hide a new one.

Streaming queries are excluded: their callables run real streams to
produce the comparison frame, so "building the plan" would execute
micro-batches; their plan shapes are pinned in their own tests.
"""

import pytest
from pyspark.sql import DataFrame

SF_DIR = "/root/testdata/sf0.001"

_SCALAR_BUILD_BOUND = 64

# The scalar-broadcast class: every build side here is a 1-row
# aggregate (totals/max/thresholds), a ≤centroids/≤query-vector
# literal frame, a ≤alphabet/day-spine frame, or a ≤vocab stats
# frame — audited in BENCH/PLANS.md AND bounded-asserted below.
_BNLJ_ALLOWED = frozenset(
    {
        "customer_spend_deciles",
        "dedup_lsh_banding_sweep",
        # LSH quality: the three metric scalars (true/candidate/hit
        # pair counts) as 1-row aggregate broadcasts, folded into the
        # plan in round 5 (previously three driver-side count jobs):
        "dedup_lsh_quality",
        # session-13 scalar/bounded-frame broadcasts (PLANS.md
        # session-13 parts 2-4): 1-row totals (topterms, basket
        # n_orders, rfm anchor, wau bounds, concentration total +
        # 4-row cut frame), the ≤31-row day spine (cusum), the
        # 15-cell bitemporal grid:
        # session-14 scalar broadcasts: KM's 1-row anchor date, ACF's
        # 1-row (n, sum) stats + 1-row denominator frames, and the
        # Bloom audit's 1-row train-count + 1-row bitmap-digest frames:
        "customer_survival_km",
        "events_acf",
        "dedup_bloom_fpr_audit",
        "orders_benford_audit",
        "events_hll_sketch",
        "orders_backlog_aging",
        "events_cuped_adjust",
        # clustering-depth audit: 1-row endpoint-ARRAY frame broadcast
        # (n_files is manifest-scale metadata, bounded):
        "table_clustering_depth_audit",
        "events_bootstrap_ci",
        "text_cdc_shift_certificate",
        # Markov stationary: alphabet-frame (≤5-row) broadcasts for
        # the cell grid and the folded vector:
        "events_markov_stationary",
        # DiD: the CUPED-style 1-row midpoint broadcast:
        "events_did_estimator",
        # IVM retract: the 1-row base/delta cut scalar (max(rn)+1 off
        # the persisted rank frame), folded into the plan in round 5
        # so building the frame no longer runs a driver-side count:
        "events_ivm_retract",
        # power analysis: 1-row moments × 3-row MDE spine:
        "events_power_analysis",
        # burstiness: the 1-row corpus-count broadcast:
        "text_term_burstiness",
        "sim_cluster_topterms",
        "market_basket_pairs",
        "events_cusum_changepoints",
        "events_bitemporal_asof",
        "customer_rfm_segments",
        "revenue_concentration",
        "events_wau_stickiness",
        "graph_community_modularity",
        "graph_provenance_rank",
        "text_ccnet_buckets",
        "text_langid_confusion",
        "graph_triangle_stats",
        "idle_rich_customers",
        "major_revenue_parts",
        "sim_cosine_topk",
        "sim_binary_quant_recall",
        "sim_ivf_recall_curve",
        "sim_matryoshka_recall",
        "table_partition_skew_report",
        "table_zonemap_prune_stats",
        "sim_embedding_outliers",
        "sim_hard_negatives",
        "sim_int8_quant_recall",
        "sim_ivf_delta_assign",
        "sim_ivf_topk",
        "sim_kmeans_refine",
        "sim_margin_pair_mining",
        "sim_pq_adc_recall",
        "sim_semdedup_prune",
        "text_allpairs_cosine",
        "text_bigram_logprob",
        "text_bm25_eval",
        "text_bm25_search",
        "text_bpe_apply_fertility",
        "text_bpe_learn_merges",
        "text_dsir_select",
        "text_heaps_fit",
        "text_langid_ngram",
        "text_mix_resample",
        "text_pmi_collocations",
        "text_rrf_fusion",
        "text_source_kl_drift",
        "text_source_mix_weights",
        "text_tfidf_keywords",
        "text_unigram_logprob",
    }
)

def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _bnlj_build_counts(spark, df) -> list[int]:
    """Row count of every BroadcastNestedLoopJoin build side in df's
    pre-AQE physical plan, materialized through the build node's
    logical link (the physical subtree itself can't be executed
    directly — it lacks the columnar→row transitions that executed-
    plan preparation inserts)."""
    counts = []
    plan = df._jdf.queryExecution().sparkPlan()
    for node in _walk(plan):
        if node.nodeName() == "BroadcastNestedLoopJoin":
            idx = 1 if "Right" in node.buildSide().toString() else 0
            build = node.children().apply(idx)
            ll = build.logicalLink()
            assert ll.isDefined(), "BNLJ build side without logical link"
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, ll.get()
            )
            counts.append(DataFrame(jdf, spark).count())
    return counts


@pytest.fixture(scope="module")
def sweep(spark):
    """One pass over the registry: plan strings for the class checks,
    plus BNLJ build-side row counts for every allowlisted name."""
    import __spark_entry__ as e

    cart, undocumented, build_counts = [], [], {}
    for name, fn in e.queries().items():
        if name.startswith("stream_"):
            continue
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in plan:
            if name not in _BNLJ_ALLOWED:
                undocumented.append(name)
            else:
                build_counts[name] = _bnlj_build_counts(spark, df)
    return cart, undocumented, build_counts


def test_no_cartesian_anywhere(sweep):
    cart, _, _ = sweep
    assert not cart, f"CartesianProduct in: {cart}"


def test_bnlj_only_documented_class(sweep):
    _, undocumented, _ = sweep
    assert not undocumented, (
        f"undocumented BroadcastNestedLoopJoin in: {undocumented} — "
        "either restructure the join or audit the build side and add "
        "the name to _BNLJ_ALLOWED with a PLANS.md row"
    )


def test_bnlj_scalar_builds_are_bounded(sweep):
    """The allowlist is self-verifying: every allowlisted BNLJ build
    side must COUNT under the scalar bound at sf0.001. Membership
    alone can no longer hide a regression that makes a build side
    data-scaled."""
    _, _, build_counts = sweep
    offenders = [
        (name, over)
        for name, counts in build_counts.items()
        if (over := [c for c in counts if c > _SCALAR_BUILD_BOUND])
    ]
    assert not offenders, (
        f"BNLJ build sides over {_SCALAR_BUILD_BOUND} rows at sf0.001: "
        f"{offenders} — a scalar broadcast became data-scaled"
    )


def test_bnlj_allowlist_has_no_stale_names(sweep):
    """Every allowlisted name must still plan a BNLJ at sf0.001 — a
    name gone from the registry, or whose join no longer plans one,
    otherwise stays on the list and silently guards nothing."""
    _, _, build_counts = sweep
    stale = _BNLJ_ALLOWED - set(build_counts)
    assert not stale, f"stale allowlist entries: {sorted(stale)}"
