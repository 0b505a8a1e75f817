"""Physical-plan regression tests for the extension operators.

The scale claims in the operator docstrings (broadcast-only joins,
top-n heaps instead of full sorts, bounded shuffle counts) are pinned
here so a refactor that silently degrades a plan — a broadcast that
falls back to sort-merge, a limit that stops collapsing into
TakeOrderedAndProject — fails the suite instead of surfacing at 100 TB.

Plans are inspected at sf0.001 (plan shape is data-size-independent at
these sizes; AQE may re-plan at runtime but the static plan is the
contract the operator writes).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from fame2pygen_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name",
    [
        "x33_bm25",            # ranked retrieval
        "x39_term_pmi",        # bounded pair top-n
        "x49_session_paths",   # path counting top-n
        "x56_canonical_urls",  # canonical link counts top-n
    ],
)
def test_topn_queries_plan_a_heap_not_a_full_sort(spark, name):
    plan = plan_of(spark, name)
    assert "TakeOrderedAndProject" in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x35_countmin",        # KB-sized sketch joins
        "x37_value_outliers",  # tiny per-group stats
        "x40_revenue_rollup",  # dimension tables
        "x44_winsorize",       # quantile bounds
        "x51_mad_outliers",    # median/MAD frames
    ],
)
def test_small_side_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, name
    assert "SortMergeJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_skew_profile_summary_broadcasts_without_equi_key(spark):
    # the 1-row summary attaches via a broadcast nested-loop cross
    # join — there is no equi-key, so BHJ cannot apply; the assertion
    # is that the build side broadcasts and nothing sort-merges
    plan = plan_of(spark, "x55_skew_profile")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def unpartitioned_windows(spark, name: str) -> list[str]:
    """Window operator lines whose partition spec is empty — a global
    single-partition sort, the one shape a skew/scale diagnostic must
    never plan."""
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = []
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            # partition columns precede the first ORDER-BY clause; an
            # empty partition spec starts directly with the sort column
            # followed by ASC/DESC — detect by the FIRST comma-field
            # not naming a partition column (heuristic: partitioned
            # specs have >=1 arg before a field containing ' ASC' or
            # ' DESC' appears as the first argument)
            first_arg = spec.split(",", 1)[0]
            if " ASC" in first_arg or " DESC" in first_arg:
                bad.append(line.strip())
    return bad


@pytest.mark.parametrize("name", ["x55_skew_profile", "x38_inter_arrival"])
def test_no_global_window_in_key_scale_diagnostics(spark, name):
    # x55 profiles the key distribution of a prospective 100 TB
    # shuffle; x38's rank selection partitions by event_type.  Neither
    # may plan an unpartitioned window over the full key/value space.
    assert unpartitioned_windows(spark, name) == []


def test_skew_profile_topk_is_a_heap(spark):
    plan = plan_of(spark, "x55_skew_profile")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    ["x41_weighted_sample", "x42_histogram", "x48_group_ranks"],
)
def test_single_pass_operators_do_not_join(spark, name):
    plan = plan_of(spark, name)
    assert "Join" not in plan, name


def test_rollup_is_one_expand_pass(spark):
    plan = plan_of(spark, "x40_revenue_rollup")
    # Expand appears (grouping sets), and exactly one aggregation pass
    # over the expanded fact — not one job per rollup level
    assert "Expand" in plan


@pytest.mark.parametrize(
    "name",
    [
        "x58_drift",           # histogram frames + 1-row totals
        "x59_mutual_info",     # joint counts + entropy frames
        "x64_ks",              # pooled support + totals
    ],
)
def test_stat_operators_broadcast_their_tiny_frames(spark, name):
    plan = plan_of(spark, name)
    assert "SortMergeJoin" not in plan, name
    assert ("BroadcastHashJoin" in plan
            or "BroadcastNestedLoopJoin" in plan), name


@pytest.mark.parametrize(
    "name",
    ["x57_entropy", "x60_benford", "x62_streaks", "x63_weighted_quantiles",
     "x65_trend"],
)
def test_stat_operators_never_sort_merge_or_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "SortMergeJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x72_prefix_jaccard",   # prefix-filtered similarity join
        "x74_dup_spans",        # duplicated n-gram spans
        "x78_theil_sen",        # Theil-Sen pairwise slopes
        "x80_kmv_set_ops",      # merged bottom-k set algebra
        "x81_table_stats",      # stacked-scan column profile
    ],
)
def test_r3_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x72_prefix_jaccard",   # doc-partitioned prefix ranking only
        "x74_dup_spans",        # pure aggregate pipeline — no windows
        "x78_theil_sen",        # entity-partitioned recency cap only
        "x81_table_stats",      # pure aggregate pipeline — no windows
    ],
)
def test_r3_operators_have_no_global_window(spark, name):
    assert unpartitioned_windows(spark, name) == []


def test_zorder_layout_is_aggregate_only(spark):
    # the extent profile is one broadcast stats join + one hash
    # aggregate — no sort, no window, no shuffle beyond the groupBy
    plan = plan_of(spark, "x77_zorder_layout")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


# ---------------------------- x94-x107: infrastructure batch (r3 cont.)


@pytest.mark.parametrize(
    "name",
    [
        "x94_json_props",       # single-scan JSON aggregate
        "x95_prorate",          # row-local month explode + one agg
        "x96_dq_report",        # one stacked scan
        "x97_decayed_agg",      # broadcast ref date + one agg
        "x99_cdc_apply",        # changelog window + anti-join
        "x100_seasonal",        # decimal moments + tiny window
        "x101_embedding_cov",   # rowid-keyed pair join
        "x103_k_anonymity",     # one hash agg
        "x105_compaction",      # metadata window + agg
        "x107_late_data",       # keyed arrival window
    ],
)
def test_infra_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x94_json_props",   # pure aggregate — no window at all
        "x95_prorate",      # explode + aggregate — no window
        "x96_dq_report",    # stacked scan — no window
        "x103_k_anonymity", # hash agg — no window
    ],
)
def test_infra_aggregates_have_no_window(spark, name):
    plan = plan_of(spark, name)
    assert "Window" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # every window in these plans must be partitioned (no global
        # single-partition sort): x99/x107 key their windows, x100's
        # normalizer windows over the per-key aggregate, x105 windows
        # over file metadata partitions
        "x99_cdc_apply",
        "x100_seasonal",
        "x105_compaction",
        "x107_late_data",
        "x98_bigram_surprisal",
    ],
)
def test_infra_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == [], name


def test_dq_report_is_one_scan_of_the_fact_table(spark):
    # N rules must not become N scans: exactly one parquet scan of
    # lineitem in the whole plan
    plan = plan_of(spark, "x96_dq_report")
    # formatted plans mention each scan twice (tree + node details):
    # two tables (lineitem + orders) -> at most 4 mentions; N rules
    # adding N scans would show immediately
    assert plan.count("Scan parquet") <= 4


def test_decayed_agg_broadcasts_reference_date(spark):
    plan = plan_of(spark, "x97_decayed_agg")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the 1-row reference-date cross join must never be a shuffle join
    assert "SortMergeJoin" not in plan


def test_seasonal_anomaly_broadcasts_profile(spark):
    # month means (|keys| x 12 rows) and MAD stats join broadcast
    plan = plan_of(spark, "x104_seasonal_anomaly")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x108_cuped",          # 1-row moment broadcast only
        "x109_calibration",    # boundary-array broadcast only
        "x110_pca_power",      # matrix-vector broadcast joins
        "x111_novelty",        # fingerprint-keyed joins
        "x112_er_clusters",    # blocked pairs + CC
        "x115_containment",    # prefix probe join
        "x119_spearman",       # group-keyed rank windows
        "x120_funnel_latency", # user-keyed funnel chain
        "x121_rfm",            # tercile-cut broadcast
        "x122_snapshot_diff",  # single full-outer join
        "x123_pareto",         # distinct-value skyline window
    ],
)
def test_r3_cont_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # every window keyed; x116's day-bounded global cumulation and
        # x118's cell windows are intentionally absent from this list
        # (their windows run over aggregate frames bounded by the day
        # range / cell count, documented in the docstrings)
        "x115_containment",
        "x119_spearman",
        "x120_funnel_latency",
        "x121_rfm",
        "x123_pareto",
    ],
)
def test_r3_cont_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == [], name


# ---------------------------------------------------------- round 4


@pytest.mark.parametrize(
    "name",
    [
        "x128_semdedup",       # cluster-capped self-join
        "x129_dsir_weights",   # broadcast feature model
        "x130_boilerplate",    # broadcast boilerplate set
        "x131_rater_kappa",    # marginal joins on tiny label keys
        "x132_bradley_terry",  # |items|^2-bounded edges
        "x133_priority_dedup", # component-keyed election
    ],
)
def test_r4_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_r4_windows_are_partitioned(spark):
    # x128's cap window and x133's election window must stay keyed
    for name in ("x128_semdedup", "x133_priority_dedup"):
        assert unpartitioned_windows(spark, name) == [], name


def test_mcv_top5_never_sorts_a_whole_column_in_one_task(spark):
    """x90: the only windows allowed are the salted phase-1 spec
    (partitioned by column AND salt) and the phase-2 spec over the
    pruned remainder — the naked partitionBy(column) row_number over
    ALL distinct values must not come back."""
    plan = plan_of(spark, "x90_mcv_stats")
    assert "pmod" in plan  # salt survives into the physical plan
    assert unpartitioned_windows(spark, "x90_mcv_stats") == []


def test_pagerank_top20_plans_a_heap(spark):
    plan = plan_of(spark, "x91_pagerank_step")
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "x145_chi2_independence",  # margins from cells, not fact table
        "x146_auc",                # distinct-score cumulative window
        "x148_triangles",          # degree-oriented wedge joins
        "x149_hits",               # two edge-keyed aggregations
        "x151_lpa_communities",    # three checkpointed supersteps
        "x152_quantile_normalize", # broadcast percentile reps
        "x153_centroid_drift",     # broadcast global centroid
    ],
)
def test_r4_cont_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_zipf_top500_is_a_heap(spark):
    """x147: the top-n term cut must stay TakeOrderedAndProject — a
    full term-frequency sort would be vocabulary-sized at 100 TB.
    (The rank window after the cut is global by design: it runs over
    <= top_n rows, bounded by the parameter.)"""
    plan = plan_of(spark, "x147_zipf_fit")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["x146_auc", "x152_quantile_normalize"]
)
def test_r4_cont_windows_are_partitioned(spark, name):
    """The cumulative score/value windows must stay keyed by group —
    an unkeyed variant would single-partition-sort the whole distinct
    support."""
    assert unpartitioned_windows(spark, name) == [], name


@pytest.mark.parametrize(
    "name",
    [
        "x159_mann_whitney",   # stratum-keyed midrank windows
        "x160_adamic_adar",    # neighbor equi-join, hub-capped
        "x161_t_closeness",    # broadcast bin spine
        "x164_kendall_tau",    # segment-keyed pair join
        "x166_xcorr",          # broadcast lag spine, date equi-join
        "x167_vocab_coverage", # pure two-level aggregation
        "x169_eb_rates",       # broadcast 1-row prior
    ],
)
def test_r4_batch3_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # x162 windows are entity-keyed; x164's cap/rank windows are
        # segment-keyed; x166's best-lag pick is pair-keyed.  x165 is
        # intentionally absent: its single global ranking window IS
        # the operator (documented bounded-support caveat, as x146).
        "x162_sax_words",
        "x164_kendall_tau",
        "x166_xcorr",
    ],
)
def test_r4_batch3_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == [], name


def test_burrows_delta_grid_and_moments_broadcast(spark):
    """x168: the top-k term spine and the per-term moment table are
    both tiny (k rows) — they must reach the grid/z-score joins as
    broadcasts, never shuffled exchanges."""
    plan = plan_of(spark, "x168_burrows_delta")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x170_calibration",   # broadcast min-max, bin aggregations
        "x171_krippendorff",  # two hash aggs, 1-row combines
        "x172_embedding_pc",  # broadcast direction vector supersteps
        "x174_neyman",        # stratum agg + broadcast total
    ],
)
def test_r4_batch4_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_conformal_windows_stay_group_keyed(spark):
    """x173: the order-statistic window must stay partitioned by the
    group — an unkeyed rank would single-partition-sort the whole
    calibration set."""
    assert unpartitioned_windows(spark, "x173_conformal") == []


def test_mmr_candidate_cut_is_a_heap(spark):
    """x175: the n_candidates relevance cut must stay a TakeOrdered
    heap — a full corpus sort by relevance would be the scale
    bottleneck; the greedy supersteps run on the bounded pool.
    mmr_select eagerly checkpoints, which hides its internal plan, so
    this pins the exact candidate-stage expression the operator
    builds (similarity.py:mmr_select candidate block)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from fame2pygen_spark.operators.similarity import (
        _as_double, l2_norm, prenormed_cosine,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qlit = F.array(*[F.lit(0.1)] * 64)
    cand = (
        emb.where(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("__id"),
            _as_double(F.col("embedding")).alias("__v"),
        )
        .withColumn("__nv", l2_norm(F.col("__v")))
        .withColumn(
            "rel",
            prenormed_cosine(F.col("__v"), qlit, F.col("__nv"), l2_norm(qlit)),
        )
        .orderBy(F.desc("rel"), F.asc("__id"))
        .limit(50)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()


@pytest.mark.parametrize(
    "name",
    [
        "x176_textrank",      # positional equi-joins, decimal pagerank
        "x177_stationary",    # broadcast pi supersteps on |types|^2
        "x178_memorization",  # gram equi-join, group rollups
    ],
)
def test_r4_batch5_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x180_winnowing",     # doc-keyed windows, fp equi-join
        "x181_ari_langid",    # three keyed hash aggs, per-group combines
        "x182_rouge",         # (doc, gram) equi-joins, lead windows
        "x183_ppl_buckets",   # x98 pipeline + lang-keyed ntile
    ],
)
def test_r4_batch6_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_winnowing_windows_stay_doc_keyed(spark):
    """x180: gram/lead/selection windows are all partitioned by the
    document id — an unkeyed window would serialize the whole token
    stream through one partition."""
    assert unpartitioned_windows(spark, "x180_winnowing") == []


def test_ppl_bucket_ntile_stays_language_keyed(spark):
    """x183: the ntile ranking window must be keyed by language —
    CCNet bucketing is per-language by construction, and an unkeyed
    ntile would single-partition-sort every doc."""
    assert unpartitioned_windows(spark, "x183_ppl_buckets") == []


def test_hubness_query_side_broadcasts(spark):
    """x184: the kNN scoring join must broadcast the (bounded) query
    side — sort-merge over the pairwise score space would shuffle
    |corpus|·|queries| rows.  (The later id→occurrence LEFT join is
    corpus-sized on both sides, so a keyed sort-merge there is the
    correct scale plan and is not banned.)"""
    plan = plan_of(spark, "x184_hubness")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x185_assoc_rules",   # basket equi-join, item-keyed marginals
        "x186_decompose",     # group-keyed MA windows, phase aggs
        "x187_woe_iv",        # segment-keyed ntile + group combines
        "x188_burstiness",    # (user, type)-keyed lag, type agg
    ],
)
def test_r4_batch7_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x186_decompose",     # MA/row_number windows keyed by region
        "x187_woe_iv",        # ntile keyed by market segment
        "x188_burstiness",    # lag keyed by (user, type)
    ],
)
def test_r4_batch7_windows_stay_group_keyed(spark, name):
    assert unpartitioned_windows(spark, name) == [], name


@pytest.mark.parametrize(
    "name",
    [
        "x189_lexicon_flags",  # broadcast lexicon + spine cross join
        "x190_step_flow",      # user/session-keyed windows, one agg
        "x191_hll_rollup",     # register aggs, coarse-keyed joins
        "x192_bootstrap_se",   # row-local explode, keyed combines
    ],
)
def test_r4_batch8_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_step_flow_windows_stay_user_keyed(spark):
    """x190: sessionization and step windows are keyed by user (and
    session) — never a global event sort."""
    assert unpartitioned_windows(spark, "x190_step_flow") == []


def test_lexicon_join_broadcasts(spark):
    """x189: the KB-sized lexicon must broadcast against the token
    stream."""
    plan = plan_of(spark, "x189_lexicon_flags")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "x193_wasserstein",  # type-keyed support windows
        "x194_heaps_law",    # broadcast min/max, bucket aggs
        "x195_fdr",          # stratum-keyed ranks + m-row windows
    ],
)
def test_r4_batch9_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_wasserstein_windows_stay_group_keyed(spark):
    """x193: ECDF windows run over the per-event-type distinct
    support — never an unkeyed global sort."""
    assert unpartitioned_windows(spark, "x193_wasserstein") == []


@pytest.mark.parametrize(
    "name",
    [
        "x196_sprt",           # type-keyed running counts, one agg
        "x197_smd_balance",    # melt + two hash aggs
        "x198_padding_waste",  # row-local CASE ladder + one agg
    ],
)
def test_r4_batch10_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_sprt_windows_stay_experiment_keyed(spark):
    """x196: the running LLR windows are keyed by the experiment
    group — never an unkeyed global event sort."""
    assert unpartitioned_windows(spark, "x196_sprt") == []


def test_padding_waste_is_aggregate_only(spark):
    """x198: pure row-local bucketing into one hash agg — no joins,
    no windows."""
    plan = plan_of(spark, "x198_padding_waste")
    assert "Join" not in plan and "Window" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x199_raking",         # cell-frame supersteps, broadcast targets
        "x200_vocab_coverage", # two keyed aggs, no windows
    ],
)
def test_r4_batch11_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_vocab_coverage_is_window_free(spark):
    plan = plan_of(spark, "x200_vocab_coverage")
    assert "Window" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x201_qte",               # per-arm quantile aggs, stratum join
        "x202_group_sequential",  # type-keyed running counts + look agg
    ],
)
def test_r4_batch12_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_group_sequential_windows_stay_keyed(spark):
    assert unpartitioned_windows(spark, "x202_group_sequential") == []


@pytest.mark.parametrize(
    "name",
    [
        "x203_partial_corr",  # one hash agg of 10 decimal moments
        "x204_weight_diag",   # raking supersteps + one diagnostics agg
    ],
)
def test_r4_batch13_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x205_theil",       # group agg + broadcast totals
        "x206_wilson",      # one hash agg
        "x207_modularity",  # label equi-joins + community agg
    ],
)
def test_r4_batch14_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_wilson_is_single_agg(spark):
    plan = plan_of(spark, "x206_wilson")
    assert "Join" not in plan and "Window" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x208_dispersion",    # two keyed aggs, no windows beyond x10 shape
        "x209_entropy_rate",  # x34 pair window + |types|^2 supersteps
    ],
)
def test_r4_batch15_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x210_page_hinkley",    # entity-keyed PH windows
        "x211_retrieval_eval",  # broadcast query side + |Q|k-row agg
        "x212_drift_dashboard", # bounded histogram, dim-keyed windows
    ],
)
def test_r4_batch16_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_page_hinkley_windows_stay_entity_keyed(spark):
    # every window in the PH scan partitions by the entity — a global
    # (unpartitioned) running-sum window would single-thread the scan
    plan = plan_of(spark, "x210_page_hinkley")
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "event_type" in spec, spec


def test_drift_dashboard_windows_stay_dimension_keyed(spark):
    plan = plan_of(spark, "x212_drift_dashboard")
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__dim" in spec, spec


@pytest.mark.parametrize(
    "name",
    [
        "x213_chi_square",     # r x c bounded grid, broadcast totals
        "x214_anova",          # one keyed agg + k-row reduce
        "x215_logrank",        # duration-keyed agg, bounded t-table
        "x216_poisson_rates",  # one keyed agg + broadcast exposures
    ],
)
def test_r4_batch17_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x217_kruskal_wallis",   # bounded distinct-support rank window
        "x218_mann_kendall",     # entity-keyed pair join, <=60 pts/entity
        "x219_cochran_armitage", # one keyed agg + k-level reduce
        "x220_mcnemar",          # keyed flags + broadcast type grid
    ],
)
def test_r4_batch18_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_mann_kendall_pair_join_stays_entity_keyed(spark):
    # the O(n^2) pair stage must be an entity equi-join (SortMerge or
    # Hash on entity), never a cross product filtered afterwards
    plan = plan_of(spark, "x218_mann_kendall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x221_jackknife",     # unit agg -> 32-bucket agg -> B-row reduce
        "x222_delta_method",  # two keyed aggs, pure column algebra
        "x223_mde",           # two keyed aggs
        "x224_gains",         # distinct-support window, tie-group bins
    ],
)
def test_r4_batch19_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x225_brown_forsythe",  # keyed median window + broadcast join back
        "x226_icc",             # one keyed agg + G-row reduce
        "x227_cronbach",        # cell agg + k-item/|subjects| reduces
        "x228_randomization",   # unit explode -> 2B-cell hash agg
        "x229_durbin_watson",   # keyed lag window, group-row join back
        "x230_periodicity",     # |periods|-fold explode, keyed aggs only
    ],
)
def test_r5_batch1_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x231_cluster_quality",  # broadcast centroid join, no n x n
        "x232_bfs_horizon",      # frontier equi-joins
        "x233_byte_anomaly",     # single scan-stage hash agg
        "x234_repetition",       # doc-keyed explode chains
        "x235_ppr",              # rank x adjacency equi-joins
        "x236_ar1",              # keyed lag window + keyed agg
        "x237_welch",            # one hash agg
        "x238_sampled_overlap",  # scan-stage sample filter + fp equi-join
    ],
)
def test_r5_batch2_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_cluster_quality_centroid_join_broadcasts(spark):
    # the point x centroid stage must broadcast the k x dim centroid
    # table; a shuffle join there means the explode output is being
    # co-shuffled on dim — wrong at any scale
    plan = plan_of(spark, "x231_cluster_quality")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sampled_overlap_filter_precedes_shuffle(spark):
    # the 1/m hash-band sample must run in the scan stage (a Filter
    # before the first Exchange), so the shuffle and self-join see
    # only the thinned fingerprint set
    # formatted plans print root-first, so compare NODE IDS (assigned
    # bottom-up): the lowest Filter id must precede the lowest
    # Exchange id — the predicate sits under the first shuffle
    import re

    plan = plan_of(spark, "x238_sampled_overlap")
    filters = [int(m) for m in re.findall(r"Filter \((\d+)\)", plan)]
    exchanges = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert filters and exchanges
    assert min(filters) < min(exchanges)
    assert "pmod" in plan or "% 4" in plan


@pytest.mark.parametrize(
    "name",
    [
        "x239_did",          # one hash agg over the unit frame
        "x240_mahalanobis",  # keyed moments broadcast onto the scan
    ],
)
def test_r5_batch3_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_mahalanobis_stats_join_broadcasts(spark):
    # the per-group moment row must broadcast onto the scoring scan —
    # a shuffle there would re-partition the whole fact table for a
    # k-row join
    plan = plan_of(spark, "x240_mahalanobis")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name",
    [
        "x241_watermark",    # doc-keyed explode + count
        "x242_hash_widths",  # distinct keys -> per-width hash aggs
    ],
)
def test_r5_batch4_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x243_bloom_fpr",  # broadcast filter, tiny summary joins
        "x244_gap_sweep",  # ONE lag pass, CASE-ladder counters
    ],
)
def test_r5_batch5_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_gap_sweep_is_one_window_pass(spark):
    # four thresholds must NOT mean four sessionizations: exactly one
    # windowspecdefinition (the lag) in the whole plan
    df = QUERIES["x244_gap_sweep"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_windows = plan.count("windowspecdefinition(")
    assert n_windows <= 2, plan  # lag spec appears once (maybe echoed)


def test_pq_search_lut_join_broadcasts(spark):
    # the per-query ADC lookup-table ARRAYS must broadcast onto the
    # compressed base (r10 row-local scoring: one
    # BroadcastNestedLoopJoin of the query-sized LUT frame, scoring is
    # m element_at sums per row) — any shuffle or melt+pivot here
    # re-partitions O(|base|·m) rows
    plan = plan_of(spark, "x245_pq_search")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_probe_and_lut_broadcast(spark):
    # both the probe table and the LUT are query-sized — they must
    # broadcast; the only shuffles are the cell-candidate join input
    # and the final rank window
    plan = plan_of(spark, "x246_ivfpq")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_self_bleu_pairing_never_plans_cartesian(spark):
    # the pairing is a bucket-keyed lead window, never an n x n join
    plan = plan_of(spark, "x247_self_bleu")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x248_ams_join_size",     # two single-pass counter aggs
        "x249_als_step",          # pair agg + broadcast factors
        "x250_kmeanspp",          # scan filter + 1-row phi exchange
        "x251_mantel_haenszel",   # stratum agg + 1-row reduce
        "x253_feature_hashing",   # tokenize + (doc,dim) agg
        "x257_good_turing",       # two keyed aggs + broadcast joins
        "x261_nb_confusion",      # class fanout + word-key join
        "x263_mix_shift",         # one stratum agg + term reduce
        "x264_reducer_loads",     # key-count agg + per-P re-aggs
        "x271_meta_analysis",     # k-row effect table reduces
    ],
)
def test_r4_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x248_ams_join_size",   # pure aggregate pipeline
        "x250_kmeanspp",        # scan-stage admission filter only
        "x253_feature_hashing", # aggregate pipeline
        "x263_mix_shift",       # aggregate pipeline
        "x264_reducer_loads",   # aggregate pipeline
        "x270_brier",           # bin-keyed aggregate pipeline
        "x271_meta_analysis",   # aggregate pipeline
    ],
)
def test_r4_aggregate_operators_have_no_window(spark, name):
    plan = plan_of(spark, name)
    assert "Window" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # keyed diagnostics: every window must carry a PartitionBy —
        # the skew_profile rule for the round-6 additions.  (x272's
        # sweep window is over the bounded quantized grid and x255's
        # global top-k collapses to a heap; both audited separately.)
        "x254_cooks_distance",
        "x259_mase",
        "x262_markov_eval",
        "x266_pacf",
        "x268_segmented_trend",
        "x274_text_tiling",
        "x276_block_bootstrap",
    ],
)
def test_r4_keyed_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == []


def test_hill_tail_global_topk_is_a_heap(spark):
    plan = plan_of(spark, "x255_hill_tail")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x278_zone_map",       # manifest x broadcast predicate replay
        "x279_dp_counts",      # one agg + literal explode
        "x280_ipw_ate",        # two 1-row moment aggs, broadcast back
        "x282_jl_audit",       # sign grid broadcast, bounded pairs
        "x284_rdd",            # one grouped moment agg + 1-row algebra
        "x286_rr_gauge",       # literal explode + integer agg
        "x287_backtest",       # keyed lag windows + keyed agg
        "x288_span_corruption",  # token grid + keyed islands windows
        "x289_bloom_skip",     # word bit_or agg + metadata replay
    ],
)
def test_r7_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "x279_dp_counts",   # per-row noise, no ordering anywhere
        "x286_rr_gauge",    # per-row flips, integer aggregate
        "x289_bloom_skip",  # bit_or aggregates + joins only
    ],
)
def test_r7_aggregate_operators_have_no_window(spark, name):
    plan = plan_of(spark, name)
    assert "Window" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # keyed windows must carry PartitionBy (x281's grid windows
        # are bounded by the 400-point grid — audited separately)
        "x287_backtest",
        "x288_span_corruption",
        "x285_vad",
    ],
)
def test_r7_keyed_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == []


def test_query_likelihood_plans_a_heap(spark):
    plan = plan_of(spark, "x283_query_likelihood")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_zone_map_predicate_side_broadcasts(spark):
    # the workload replay must never shuffle the manifest against the
    # predicate list — predicates ride a broadcast nested loop
    plan = plan_of(spark, "x278_zone_map")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x291_tornqvist",      # item/period keyed windows + bounded cumsum
        "x292_henderson",      # one keyed exchange for all 13 lags
        "x293_growth_contrib",  # entity lag + period total windows
        "x294_ljung_box",      # mean join-back + keyed 8-lag window
        "x295_vocab_richness",  # two aggs, no windows at all
        "x296_runs_test",      # mean join-back + keyed sign window
    ],
)
def test_r8_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        # keyed windows must carry PartitionBy.  x291 is excluded: its
        # closing cumsum window is deliberately unpartitioned over the
        # bounded #periods frame (dozens of rows after the per-period
        # reduce), the same audited pattern as x281's grid windows.
        "x292_henderson",
        "x293_growth_contrib",
        "x294_ljung_box",
        "x296_runs_test",
    ],
)
def test_r8_keyed_windows_are_partitioned(spark, name):
    assert unpartitioned_windows(spark, name) == []


def test_vocab_richness_has_no_window(spark):
    plan = plan_of(spark, "x295_vocab_richness")
    assert "Window" not in plan


def test_henderson_plans_single_window_exchange(spark):
    # all 13 lag/lead terms must share one window frame: exactly one
    # Window node in the physical plan, not a cascade
    plan = plan_of(spark, "x292_henderson")
    assert plan.count("Window") <= 2  # logical node name appears once


@pytest.mark.parametrize(
    "name",
    [
        "x297_cochran_q",  # two keyed count aggs + 1-row combines
        "x298_bartlett",   # one decimal-moment agg + k-row algebra
    ],
)
def test_r8_test_statistics_have_no_window(spark, name):
    plan = plan_of(spark, name)
    assert "Window" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_friedman_windows_are_subject_keyed(spark):
    # rank/midrank windows must be partitioned (frames bounded by b);
    # no cartesian anywhere
    assert unpartitioned_windows(spark, "x299_friedman") == []
    assert "CartesianProduct" not in plan_of(spark, "x299_friedman")


# ------------------------------------------------- round-5 operators


@pytest.mark.parametrize(
    "name",
    [
        "x300_png_ahash",       # mapInPandas encode + decode lanes
        "x301_mmd_rff",         # map-only features + 2-group agg
        "x302_energy_distance", # prefix sums over the value support
        "x303_cv_folds",        # hash folds + ≤k-row agg
        "x304_hbos",            # broadcast bins, no pair stage
        "x305_countsketch",     # KB sketch, broadcast probe join
        "x306_unimax",          # ≤|sources|-row windows
        "x309_grid_clusters",   # cell-graph CC, never points
        "x310_qini",            # distinct-support bins, ≤n_bins cum
    ],
)
def test_r5_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_mmd_rff_is_window_free_single_agg_pass(spark):
    # the whole point of the RFF form: NO pair stage, NO window —
    # one map-side feature projection and one grouped aggregate
    plan = plan_of(spark, "x301_mmd_rff")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_hbos_is_window_free_and_broadcasts_bins(spark):
    plan = plan_of(spark, "x304_hbos")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-n is a heap, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_countsketch_probe_joins_broadcast(spark):
    plan = plan_of(spark, "x305_countsketch")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_energy_distance_single_bounded_window(spark):
    # the only ordered window runs over the distinct value support —
    # exactly one Window chain, no joins at all
    plan = plan_of(spark, "x302_energy_distance")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cv_folds_is_window_free(spark):
    plan = plan_of(spark, "x303_cv_folds")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x311_media_dims",   # scan-time header sniffing, no joins
        "x312_wav_params",   # same, audio
        "x314_ucb",          # ≤|arms|-row agg + broadcasts
        "x315_best_arm",     # arm-keyed grid windows only
    ],
)
def test_r5b_operators_never_plan_cartesian_or_smj(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "SortMergeJoin" not in plan, name


def test_best_arm_windows_are_arm_keyed(spark):
    # grid normalization/prefix windows must be partitioned by arm —
    # a global grid window would serialize k·400 rows on one core
    assert unpartitioned_windows(spark, "x315_best_arm") == []


# ------------------------------------------------- round-6 operators


@pytest.mark.parametrize(
    "name",
    [
        "x316_geo_cells",        # one cell-keyed agg, bounded decode
        "x317_geo_radius",       # neighbor-cell equi-join
        "x318_isotonic",         # one data shuffle + <=bins^3 grid
        "x319_stupid_backoff",   # model-table stream joins
        "x320_croston",          # entity-keyed windows + folds
        "x321_hoeffding_racing", # one keyed agg + <=arms window
        "x322_seq_patterns",     # user-keyed staged chaining
        "x323_dtw",              # bounded pair mapInPandas
        "x324_event_study",      # one panel agg, bounded cells
        "x325_fellegi_sunter",   # blocked equi-join, map-side score
    ],
)
def test_r6_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_geo_radius_join_is_one_equi_join_no_full_sort_join(spark):
    # the spatial join must co-locate on the packed cell id — an
    # equi-join (broadcast at this scale; shuffled-hash/SMJ on the
    # cell key at cluster scale), never a cartesian distance scan
    plan = plan_of(spark, "x317_geo_radius")
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geo_cell_stats_is_window_free_single_agg(spark):
    plan = plan_of(spark, "x316_geo_cells")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_croston_windows_are_entity_keyed(spark):
    # recency ranks and interval lags partition by entity — a global
    # window would serialize the demand table on one core
    assert unpartitioned_windows(spark, "x320_croston") == []


def test_seq_pattern_windows_absent_and_joins_keyed(spark):
    # the three greedy stages are groupBys and user-keyed joins —
    # no window at all, no cartesian
    plan = plan_of(spark, "x322_seq_patterns")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_isotonic_single_unbounded_window_is_bin_bounded(spark):
    # the only ordered window runs over the <=bins-row aggregate;
    # the (i, a, b) grid joins are metadata-sized — no SMJ of data
    plan = plan_of(spark, "x318_isotonic")
    assert "CartesianProduct" not in plan


def test_event_study_windows_are_group_keyed_over_bounded_cells(spark):
    # the base-period mean attaches via a window PARTITIONed on the
    # treated flag over the <= 2*(pre+post+1)-row cell aggregate —
    # never a global window, never a window over the raw panel
    assert unpartitioned_windows(spark, "x324_event_study") == []
    plan = plan_of(spark, "x324_event_study")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fellegi_sunter_is_window_free_blocked_equi_join(spark):
    # scoring is pure map-side column algebra over the blocked
    # candidate frame: exactly the blocking equi-join, no window,
    # no distance cross-join
    plan = plan_of(spark, "x325_fellegi_sunter")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )


# ------------------------------------------------- round-7 operators


@pytest.mark.parametrize(
    "name",
    [
        "x326_blocking_quality",  # per-block count algebra, 1-row combine
        "x327_fs_em_weights",     # one pattern agg + metadata EM chain
        "x328_jaro_winkler",      # blocked equi-join + mapInPandas
    ],
)
def test_r7_linkage_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_blocking_quality_never_materializes_pairs_no_window(spark):
    # the candidate count comes from per-block COUNT products — the
    # audit must stay linear even when the audited blocker would go
    # quadratic, so no window and no pair-level join of the data
    plan = plan_of(spark, "x326_blocking_quality")
    assert "Window" not in plan


def test_fs_em_pattern_table_is_the_only_data_pass(spark):
    # EM iterations chain broadcast joins of metadata-sized frames;
    # the checkpointed pattern aggregate is the single data pass, so
    # the final plan carries no window and no sort-merge of the data
    plan = plan_of(spark, "x327_fs_em_weights")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_jaro_winkler_is_one_blocked_join_plus_arrow_stage(spark):
    plan = plan_of(spark, "x328_jaro_winkler")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )


@pytest.mark.parametrize(
    "name",
    [
        "x329_ransac",          # broadcast H-row hypothesis frame
        "x330_hodges_lehmann",  # group-keyed capped Walsh join
        "x331_gumbel",          # two-stage daily-max collapse
    ],
)
def test_r7_stat_operators_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_hodges_lehmann_windows_are_group_keyed(spark):
    # the representative cap partitions by the group key — a global
    # window would serialize the value table
    assert unpartitioned_windows(spark, "x330_hodges_lehmann") == []


def test_gumbel_is_window_free_double_aggregation(spark):
    plan = plan_of(spark, "x331_gumbel")
    assert "Window" not in plan
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x332_image_phash",  # column-algebra payload + mapInPandas
        "x333_spectral",     # same, audio DFT lane
        "x334_jpeg_ahash",   # baseline-JPEG encode/decode lanes
    ],
)
def test_r7_multimodal_operators_are_arrow_batched_scan_pipelines(
    spark, name
):
    plan = plan_of(spark, name)
    assert "MapInPandas" in plan, name
    assert "CartesianProduct" not in plan, name
    assert "Join" not in plan, name  # payloads render in-row


def test_bandpass_is_one_entity_keyed_window_pass(spark):
    # all 25 lag/lead taps share one (segment, midx) frame -> a single
    # Window over a keyed exchange; the dimension join is broadcast
    plan = plan_of(spark, "x335_bandpass")
    assert unpartitioned_windows(spark, "x335_bandpass") == []
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hp_filter_is_arrow_batched_entity_solve(spark):
    # per-entity bounded arrays -> ONE groupBy shuffle feeding a
    # single mapInPandas LDL' stage; no window, no join, no cartesian
    plan = plan_of(spark, "x336_hp_filter")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_chow_break_is_single_pass_decimal_agg(spark):
    # sufficient statistics in one keyed aggregation; the per-entity
    # midpoint frame joins broadcast; closed-form algebra needs no
    # window anywhere
    plan = plan_of(spark, "x337_chow_break")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hurst_windows_all_entity_keyed_no_cartesian(spark):
    # block-size explode is a generator, not a join; block moments and
    # cumdev run in (entity, bs, blk)-keyed windows; dimension and
    # n_points frames broadcast
    plan = plan_of(spark, "x338_hurst")
    assert unpartitioned_windows(spark, "x338_hurst") == []
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_perm_entropy_is_pure_keyed_window_and_agg(spark):
    plan = plan_of(spark, "x339_perm_entropy")
    assert unpartitioned_windows(spark, "x339_perm_entropy") == []
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_sampen_pair_join_is_entity_keyed(spark):
    # the quadratic pair frame joins on the entity key (bounded by the
    # loud-fail cap) — never a cartesian across entities
    plan = plan_of(spark, "x340_sampen")
    assert unpartitioned_windows(spark, "x340_sampen") == []
    assert "CartesianProduct" not in plan


def test_lof_is_cell_equijoin_plus_keyed_edge_joins(spark):
    # candidate generation is ONE equi-join on the (jx, jy) cell id
    # after a 9-way map-side explode; kNN ranks in an a_id-keyed
    # window; the reach/lrd joins run on the bounded edge frame
    plan = plan_of(spark, "x341_lof")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "x341_lof") == []


def test_gmm_step_is_single_groupby_no_window_no_join(spark):
    plan = plan_of(spark, "x342_gmm_step")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_stump_windows_run_over_histogram_rows_only(spark):
    # the only ordered pass is over the <= n_bins aggregate rows (the
    # x318 isotonic precedent): data-side there is exactly one
    # groupBy, no join, no cartesian
    plan = plan_of(spark, "x343_stump")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_logistic_newton_is_one_aggregation_pass(spark):
    plan = plan_of(spark, "x344_logistic_newton")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x345_script_mixing",  # literal-class regexp counts
        "x346_code_prose",     # literal-weight heuristic fold
        "x347_fim_spans",      # md5-cut substring digests
    ],
)
def test_r7_text_audits_are_map_only_scans(spark, name):
    # synthesis + audit are pure column algebra riding the scan: no
    # join, no window, no cartesian anywhere
    plan = plan_of(spark, name)
    assert "Join" not in plan, name
    assert "Window" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_cube_runs_as_native_expand_not_scan_union(spark):
    # Spark's cube plans an Expand over ONE scan — 2^n grouping sets
    # without 2^n re-reads; the dimension join broadcasts
    plan = plan_of(spark, "x348_cube_revenue")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_is_jvm_expand_no_python(spark):
    # melt lowers to Expand (JVM-side row replication) — never a UDF
    # or an exploded struct comprehension
    plan = plan_of(spark, "x349_unpivot")
    assert "Expand" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ktruss_reuses_degree_ordered_wedge_shape(spark):
    # same anti-skew discipline as the x148 triangle census: no
    # cartesian, no nested-loop join anywhere in the support pass
    plan = plan_of(spark, "x350_ktruss")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "x351_granger",        # clock-keyed pair joins, one agg
        "x352_coint",          # + pair-keyed residual lag window
        "x353_breusch_pagan",  # two aggs bridged by broadcast coefs
        "x354_jarque_bera",    # mean broadcast + moment agg
    ],
)
def test_r7_econometric_diagnostics_never_plan_cartesian(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_coint_residual_window_is_pair_keyed(spark):
    assert unpartitioned_windows(spark, "x352_coint") == []


def test_breusch_pagan_and_jb_are_window_free(spark):
    for name in ("x353_breusch_pagan", "x354_jarque_bera"):
        assert "Window" not in plan_of(spark, name), name


def test_kalman_is_arrow_batched_entity_recursion(spark):
    plan = plan_of(spark, "x355_kalman")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_smooth_disagg_is_one_keyed_window_plus_literal_explode(spark):
    plan = plan_of(spark, "x356_smooth_disagg")
    assert unpartitioned_windows(spark, "x356_smooth_disagg") == []
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # dimension join only


def test_theta_fold_windows_are_entity_keyed(spark):
    assert unpartitioned_windows(spark, "x357_theta") == []
    plan = plan_of(spark, "x357_theta")
    assert "CartesianProduct" not in plan


def test_chat_detect_is_map_only_scan(spark):
    plan = plan_of(spark, "x358_chat_detect")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_neg_sampling_joins_by_bucket_never_nested_range(spark):
    # the draw->word landing is range_join_points' bucket equi-join;
    # the only nested-loop is the one-row total attach (scalar
    # broadcast); no cartesian of data frames
    plan = plan_of(spark, "x359_neg_sampling")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_psm_match_is_bucketed_join_with_keyed_rank(spark):
    # candidates come from the caliper-bucket equi-join; the 1-NN rank
    # partitions by treated id; no score cross product
    plan = plan_of(spark, "x360_psm_match")
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "x360_psm_match") == []


@pytest.mark.parametrize(
    "name",
    [
        "x361_rdd",     # one conditional aggregation per group
        "x362_twfe",    # mean frames broadcast onto the panel
        "x363_oaxaca",  # single conditional aggregation pass
    ],
)
def test_r7_causal_estimators_are_agg_shaped(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "Window" not in plan, name


def test_gini_rank_windows_are_group_keyed(spark):
    assert unpartitioned_windows(spark, "x364_gini") == []
    assert "CartesianProduct" not in plan_of(spark, "x364_gini")


def test_cvm_rank_windows_are_pair_keyed(spark):
    assert unpartitioned_windows(spark, "x365_cvm") == []
    assert "CartesianProduct" not in plan_of(spark, "x365_cvm")


def test_iv_wald_is_single_aggregation(spark):
    plan = plan_of(spark, "x367_iv_wald")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_procrustes_is_keyed_join_plus_one_agg(spark):
    plan = plan_of(spark, "x368_procrustes")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_rank_windows_are_query_keyed(spark):
    # the brute-force score join is the deliberate broadcast audit
    # lane (x05 precedent); both rank windows key on the query
    assert unpartitioned_windows(spark, "x369_matryoshka") == []
    assert "CartesianProduct" not in plan_of(spark, "x369_matryoshka")


def test_competing_risks_windows_run_over_time_rows_only(spark):
    # duration-keyed aggregation first: every window operates on the
    # bounded per-time frame (the x116 KM shape), never the subjects
    plan = plan_of(spark, "x370_competing_risks")
    assert "CartesianProduct" not in plan


def test_newsvendor_is_two_keyed_aggs_with_broadcast_stock(spark):
    plan = plan_of(spark, "x371_newsvendor")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_haar_pyramid_is_chained_entity_keyed_aggs(spark):
    plan = plan_of(spark, "x372_haar")
    assert unpartitioned_windows(spark, "x372_haar") == []
    assert "CartesianProduct" not in plan


def test_shapley_r2_is_single_sufficient_statistic_pass(spark):
    plan = plan_of(spark, "x373_shapley_r2")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # dimension join only


def test_cdc_chunks_windows_are_doc_keyed(spark):
    assert unpartitioned_windows(spark, "x374_cdc_chunks") == []
    assert "CartesianProduct" not in plan_of(spark, "x374_cdc_chunks")


def test_delta_audit_is_one_lag_window_one_agg(spark):
    assert unpartitioned_windows(spark, "x375_delta_bits") == []
    plan = plan_of(spark, "x375_delta_bits")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_roaring_census_windows_key_on_container(spark):
    assert unpartitioned_windows(spark, "x376_roaring") == []
    plan = plan_of(spark, "x376_roaring")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_savgol_is_one_entity_keyed_window(spark):
    assert unpartitioned_windows(spark, "x377_savgol") == []
    plan = plan_of(spark, "x377_savgol")
    assert "CartesianProduct" not in plan


def test_goertzel_is_arrow_batched_entity_recursion(spark):
    plan = plan_of(spark, "x378_goertzel")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_wl_refinement_joins_stay_node_keyed(spark):
    plan = plan_of(spark, "x379_wl")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_soundex_blocking_is_map_then_one_agg(spark):
    plan = plan_of(spark, "x380_soundex")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_robots_eval_broadcasts_rules(spark):
    # a 4-row ruleset joins broadcast; the longest-match rank keys on
    # the url
    assert unpartitioned_windows(spark, "x381_robots") == []
    assert "CartesianProduct" not in plan_of(spark, "x381_robots")


def test_sa_quality_windows_are_group_keyed(spark):
    assert unpartitioned_windows(spark, "x382_sa_quality") == []
    assert "CartesianProduct" not in plan_of(spark, "x382_sa_quality")


def test_item_cf_pairs_key_on_user_then_item(spark):
    # pair generation joins on the USER key (bounded by the basket
    # cap) — never an item-catalog cross product
    plan = plan_of(spark, "x383_item_cf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "x383_item_cf") == []


def test_elementary_indices_join_is_item_keyed(spark):
    plan = plan_of(spark, "x384_elementary_idx")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_simpsons_scan_is_two_stacked_aggs(spark):
    plan = plan_of(spark, "x385_simpsons")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_kleinberg_is_arrow_batched_entity_viterbi(spark):
    plan = plan_of(spark, "x386_bursts")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_panel_statespace_is_two_entity_keyed_arrow_lanes(spark):
    # two mapInPandas branches (HP solve, Kalman recursion), each fed
    # by ONE entity-keyed groupBy shuffle; the final join is keyed on
    # (entity, t) — no window anywhere, no cartesian, and the only
    # broadcast join is the 25-row nation dimension
    plan = plan_of(spark, "p06_panel_statespace")
    assert plan.count("MapInPandas") >= 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# --- r8: retire the pre-r5 PLAN_PIN_EXEMPT grandfather block (r7
# verdict #4) — real pins for the heavy dedup/ANN/pipeline queries
# whose formulations have been stable since r4/r5.


def test_dedup_exact_is_one_keyed_agg_no_join(spark):
    # 128-bit fingerprint groupBy: ONE uniform shuffle, no join, no
    # window survives into the executed plan, nothing quadratic
    plan = plan_of(spark, "x01_dedup_exact")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_is_banded_explode_join(spark):
    # shingle/band Generate feeds an equi-join on the band hash; the
    # survivor window is keyed; the only broadcast is the stats frame
    for name in ("x03_dedup_minhash_lsh", "x126_incremental_dedup"):
        plan = plan_of(spark, name)
        assert "Generate" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert unpartitioned_windows(spark, name) == [], name


def test_dedup_clusters_iterations_stay_pair_keyed(spark):
    # alternating-star component steps run on the PAIR list (tiny
    # vs corpus); windows keyed, no cartesian anywhere
    plan = plan_of(spark, "x09_dedup_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "x09_dedup_clusters") == []


def test_curation_final_stage_is_broadcast_antijoin(spark):
    # post-checkpoint plan: the drop list joins broadcast onto the
    # deduped corpus — no cartesian, no shuffle join of corpus vs drop
    plan = plan_of(spark, "x14_curation_pipeline")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ann_brute_force_broadcasts_the_bounded_probe_side(spark):
    # the top-k baseline is probe×corpus by construction — the pin is
    # that the BOUNDED probe side rides a broadcast nested-loop, never
    # a cartesian shuffle, and the rank window is keyed by probe
    plan = plan_of(spark, "x05_similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "x05_similarity_topk") == []


def test_ann_bucketed_variants_equi_join_not_nested_loop(spark):
    # LSH/IVF cut the candidate set with an equi-join on the bucket
    # id — the scale path must NOT fall back to nested-loop scans
    for name in ("x05b_similarity_lsh", "x05c_similarity_ivf"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Generate" in plan, name
        assert unpartitioned_windows(spark, name) == [], name


def test_embedding_neardup_is_bucketed_pair_join(spark):
    plan = plan_of(spark, "x07_embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "x07_embedding_neardup") == []


def test_decontamination_probes_broadcast_benchmark(spark):
    # benchmark n-gram set broadcast to the corpus side; no shuffle
    # join of corpus vs benchmark, no window anywhere
    plan = plan_of(spark, "x19_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_passage_dedup_windows_stay_keyed(spark):
    plan = plan_of(spark, "x21_passage_dedup")
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "x21_passage_dedup") == []


def test_corpus_mixing_is_map_side_hash_filter(spark):
    # deterministic stratified sampling: the rate table inlines as a
    # literal map and the draw is a scan-side predicate — no join, no
    # window, no aggregation anywhere in the plan
    plan = plan_of(spark, "x17_corpus_mixing")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan


def test_shard_and_pack_cumsums_are_source_keyed(spark):
    # the ordered cumsum serializes globally if the window loses its
    # partition key — THE failure mode of packing at 100 TB
    for name in ("x18_token_shards", "x28_context_windows"):
        plan = plan_of(spark, name)
        assert "Join" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert unpartitioned_windows(spark, name) == [], name


def test_asof_join_is_union_window_not_nested_loop(spark):
    # as-of via union + keyed last-value window: no join operator at
    # all, so nothing can degrade to a range nested-loop
    plan = plan_of(spark, "x25_asof_join")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "x25_asof_join") == []


def test_range_join_is_bucketed_equi_join(spark):
    # interval bucketing: Generate explodes bounded bucket spans into
    # an equi-join — never a BroadcastNestedLoopJoin range predicate
    plan = plan_of(spark, "x26_range_join")
    assert "Generate" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_text_profile_is_map_only(spark):
    plan = plan_of(spark, "x06_text_profile")
    assert "Join" not in plan
    assert "Window" not in plan


def test_tfidf_and_gopher_windows_keyed_no_cartesian(spark):
    for name in ("x13_tfidf_top_terms", "x16_gopher_filter"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert unpartitioned_windows(spark, name) == [], name


def test_events_hourly_is_one_agg_pass(spark):
    plan = plan_of(spark, "x10_events_hourly")
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_sessionization_windows_are_user_keyed(spark):
    plan = plan_of(spark, "x11_events_sessions")
    assert "Join" not in plan
    assert unpartitioned_windows(spark, "x11_events_sessions") == []


def test_sketches_aggregate_without_cartesian(spark):
    for name in ("x29_kmv_distinct", "x73_hll_distinct"):
        plan = plan_of(spark, name)
        assert "HashAggregate" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert unpartitioned_windows(spark, name) == [], name


def test_image_ahash_is_arrow_batched_decode(spark):
    # pure-Python decoders run ONLY inside mapInPandas Arrow batches —
    # no per-row Python UDF, no join, no window
    plan = plan_of(spark, "x84_image_ahash")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_progressive_jpeg_is_arrow_batched_decode(spark):
    # encode AND decode both live in mapInPandas Arrow batches riding
    # the document scan — no join, no window, no per-row Python
    plan = plan_of(spark, "x387_progressive_jpeg")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_webp_ahash_is_arrow_batched_decode(spark):
    plan = plan_of(spark, "x388_webp_ahash")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_repeated_spans_pair_join_is_fingerprint_keyed(spark):
    # frequency-capped equi-join on the shingle fingerprint; the
    # islands window is (pair, diagonal)-keyed; nothing cartesian
    plan = plan_of(spark, "x389_repeated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "x389_repeated_spans") == []


def test_isotonic_is_arrow_batched_entity_stack(spark):
    plan = plan_of(spark, "x390_isotonic")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_matrix_profile_is_declarative_diagonal_windows(spark):
    # no Python lane at all: the quadratic term is an entity-keyed
    # self-join, QT is a (entity, diagonal)-keyed window, and the
    # argmin is a keyed rank — nothing cartesian, nothing in Arrow
    plan = plan_of(spark, "x391_matrix_profile")
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "x391_matrix_profile") == []


def test_quantile_sketch_is_one_grouped_arrow_pass(spark):
    plan = plan_of(spark, "x392_quantile_sketch")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_local_align_is_arrow_batched_pair_dp(spark):
    # candidate pairs equi-join on the pairing key, DP inside Arrow
    # batches; nothing cartesian, no window
    plan = plan_of(spark, "x393_local_align")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_rendezvous_is_bounded_explode_one_agg(spark):
    plan = plan_of(spark, "x394_rendezvous")
    assert "Generate" in plan  # the bounded ring explode
    assert "BroadcastHashJoin" in plan  # per-shard rollups broadcast
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_merkle_diff_tree_algebra_is_metadata_scale(spark):
    # one scan + leaf aggregation per snapshot; every tree level is a
    # bounded metadata aggregate; the node join broadcasts
    plan = plan_of(spark, "x395_merkle_diff")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_pps_cumsum_is_stratum_keyed(spark):
    plan = plan_of(spark, "x396_pps")
    assert unpartitioned_windows(spark, "x396_pps") == []
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_sssp_supersteps_are_checkpointed_min_joins(spark):
    plan = plan_of(spark, "x397_sssp")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_lz76_is_arrow_batched_entity_parse(spark):
    plan = plan_of(spark, "x398_lz76")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_conformal_is_keyed_windows_and_broadcast_stats(spark):
    plan = plan_of(spark, "x399_conformal")
    assert unpartitioned_windows(spark, "x399_conformal") == []
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_shapes_no_cartesian_broadcast_dims(spark):
    for name in ("x400_tpch_q3", "x401_tpch_q5", "x402_tpch_q10"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # the region->nation chain and the nation dim ride broadcasts
    assert "BroadcastHashJoin" in plan_of(spark, "x401_tpch_q5")
    assert "BroadcastHashJoin" in plan_of(spark, "x402_tpch_q10")


def test_tpch_q3_filters_push_into_scans(spark):
    # segment/date predicates must reach the parquet scans
    plan = plan_of(spark, "x400_tpch_q3")
    assert "PushedFilters" in plan
    assert "BUILDING" in plan


def test_reconcile_is_one_agg_plus_broadcast(spark):
    plan = plan_of(spark, "x403_reconcile")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_optimal_partitioning_is_arrow_batched_dp(spark):
    plan = plan_of(spark, "x404_changepoints")
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_group_sequential_is_bounded_lookup_frame(spark):
    # per-user aggregate -> 4-row cumulative frame; no cartesian,
    # range/stat frames broadcast
    plan = plan_of(spark, "x405_group_sequential")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_jonckheere_is_bucketed_count_frame_join(spark):
    plan = plan_of(spark, "x406_jonckheere")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_kendall_is_bounded_cell_frame_join(spark):
    plan = plan_of(spark, "x407_kendall")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_james_stein_is_two_aggs_plus_broadcasts(spark):
    plan = plan_of(spark, "x408_james_stein")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_breslow_day_is_bounded_stratum_algebra(spark):
    plan = plan_of(spark, "x409_breslow_day")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_newey_west_is_keyed_lags_one_agg(spark):
    plan = plan_of(spark, "x410_newey_west")
    assert unpartitioned_windows(spark, "x410_newey_west") == []
    assert "CartesianProduct" not in plan


def test_tpch_q1_is_one_pushed_scan_one_agg(spark):
    """x412: the wide agg sweep is a single-table plan — shipdate
    pushed into the scan, one partial→final aggregate exchange, and
    no join operator of any kind."""
    plan = plan_of(spark, "x412_tpch_q1")
    assert "PushedFilters" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_tpch_q18_having_semijoin_broadcasts(spark):
    """x413: the qualifying-orderkey HAVING aggregate is tiny and must
    ride a broadcast into the orders join, never a cartesian."""
    plan = plan_of(spark, "x413_tpch_q18")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_semi_and_anti_join_paths(spark):
    """x414: the exists/not-exists chain must plan as a LeftSemi and a
    LeftAnti hash join over the shared per-order frame."""
    plan = plan_of(spark, "x414_tpch_q21")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_p07_band_join_carries_entity_key(spark):
    """p07: the entity-scoped LSH lane — the band self-join and bucket
    cap must key on the entity (__pk) so no cross-entity candidate is
    ever generated."""
    plan = plan_of(spark, "p07_panel_dedup")
    assert "__pk" in plan
    assert "CartesianProduct" not in plan


def test_x411_capstone_composes_without_cartesian(spark):
    """x411: the composed pretraining pipeline — broadcast probes for
    decontamination/anti-join, no cartesian anywhere in the chain."""
    plan = plan_of(spark, "x411_pretraining_capstone")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


#: r9 exemption-retirement pins (verdict #4): per-entry physical-plan
#: markers observed via scripts/probe_plan_markers.py and pinned —
#: every entry also asserts no CartesianProduct.  BroadcastNestedLoop
#: joins in these plans are the repo's bounded 1-row-aggregate cross
#: pattern (audited r7/r8), not data×data products.
RETIRED_EXEMPTION_PINS = {
    "x252_kn_continuation": ("BroadcastHashJoin", "Window"),
    "x256_msprt": ("Window", "HashAggregate"),
    "x258_capture_recapture": ("BroadcastHashJoin", "HashAggregate"),
    "x260_shot_boundaries": ("MapInPandas", "Window"),
    "x265_tail_dependence": ("BroadcastHashJoin", "Window"),
    "x267_holm": ("Window", "HashAggregate"),
    "x269_hitting_prob": ("HashAggregate", "Window"),
    "x272_threshold_sweep": ("HashAggregate", "Window"),
    "x273_schnabel": ("BroadcastHashJoin", "Window"),
    "x275_strength": ("HashAggregate",),
    "x277_yuen": ("HashAggregate", "Window"),
    "x281_bayes_ab": ("HashAggregate", "Window"),
    "x290_corrected_prevalence": ("HashAggregate",),
    "x30_group_quantiles": ("ObjectHashAggregate",),
    "x31_funnel": ("BroadcastHashJoin", "HashAggregate"),
    "x32_cohort_retention": ("BroadcastHashJoin", "HashAggregate"),
    "x34_event_transitions": ("HashAggregate", "Window"),
    "x36_group_sample": ("Window",),
    "x43_fuzzy_match": ("BroadcastHashJoin", "Window"),
    "x45_gap_fill": ("BroadcastHashJoin", "Window", "Generate"),
    "x46_pivot": ("BroadcastHashJoin", "HashAggregate"),
    "x47_attribution": ("Window",),
    "x50_surprisal": ("BroadcastHashJoin", "HashAggregate", "Generate"),
    "x52_source_overlap": ("BroadcastHashJoin", "HashAggregate"),
    "x53_corr": ("HashAggregate", "Generate"),
    "x54_time_weighted_avg": ("HashAggregate", "Window"),
    "x61_js_divergence": ("BroadcastHashJoin", "HashAggregate", "Generate"),
    "x66_ab_test": ("HashAggregate",),
    "x67_survival": ("HashAggregate", "Generate"),
    "x68_trimmed_mean": ("ObjectHashAggregate",),
    "x69_cusum": ("BroadcastHashJoin", "Window"),
    "x70_autocorr": ("HashAggregate", "Window"),
    "x71_concentration": ("BroadcastHashJoin", "Window"),
    "x75_kmeans_step": ("BroadcastHashJoin", "HashAggregate"),
    "x76_rrf_fusion": ("Window",),
    # r10 tranche (verdict #3): probed via scripts/probe_plan_markers.py
    "x02_dedup_near_charset": ("BroadcastHashJoin",),
    "x04_simhash_signatures": ("BroadcastHashJoin", "HashAggregate", "Generate"),
    "x08_ngram_jaccard": ("BroadcastHashJoin",),
    "x102_audio_features": ("MapInPandas",),
    "x106_rake_keywords": ("ObjectHashAggregate", "Window", "Generate"),
    "x113_lang_confusion": ("HashAggregate", "Window"),
    "x116_kaplan_meier": ("HashAggregate", "Window"),
    "x118_interval_overlap": ("BroadcastHashJoin", "HashAggregate", "Generate"),
    "x124_source_scorecard": ("BroadcastHashJoin", "HashAggregate"),
    "x125_split_leakage": ("ObjectHashAggregate", "Window", "Generate"),
    "x127_m4_downsample": ("SortAggregate", "Window", "Generate"),
    "x134_hard_negatives": ("Window",),
    "x135_quality_cutoff": ("BroadcastHashJoin", "ObjectHashAggregate"),
    "x136_lang_spans": ("BroadcastHashJoin", "HashAggregate", "Window"),
    "x137_lpa_step": ("BroadcastHashJoin", "SortMergeJoin", "Window"),
    "x139_bpe_fertility": ("BroadcastHashJoin", "HashAggregate", "Generate"),
    "x140_mutual_knn": ("SortMergeJoin", "Window", "Generate"),
    "x141_mixture_plan": ("HashAggregate",),
    "x142_dsir_resample": ("BroadcastHashJoin", "HashAggregate"),
    "x143_corpus_manifest": ("HashAggregate",),
    "x144_l_diversity": ("HashAggregate",),
    "x150_holt_winters": ("BroadcastHashJoin", "ObjectHashAggregate"),
    "x154_split_audit": ("HashAggregate", "Window"),
    "x157_assortativity": ("BroadcastHashJoin", "HashAggregate"),
    "x158_readability": ("HashAggregate",),
    "x15_running_totals": ("Window",),
}


@pytest.mark.parametrize("name", sorted(RETIRED_EXEMPTION_PINS))
def test_retired_exemption_plan_markers(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name
    for marker in RETIRED_EXEMPTION_PINS[name]:
        assert marker in plan, (name, marker)


def test_tpch_q4_exists_is_semi_join(spark):
    plan = plan_of(spark, "x416_tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "x417_tpch_q16")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_scalar_threshold_plus_anti_join(spark):
    # the 1-row average rides a broadcast nested-loop (bounded cross
    # pattern); dormancy is a LeftAnti against the date-filtered scan
    plan = plan_of(spark, "x418_tpch_q22")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_canonical_survivor_is_one_maxby(spark):
    # profile join + one max_by per component on top of the pinned
    # x03/x09 machinery — no cartesian, components stay checkpointed
    plan = plan_of(spark, "x419_quality_canonical")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_p08_ann_join_is_entity_keyed(spark):
    # the panel similarity lane: score join must be key-equi on the
    # entity — never a nested-loop broadcast cross of query x corpus
    plan = plan_of(spark, "p08_panel_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__pk" in plan


def test_p09_vocab_growth_windows_are_entity_keyed(spark):
    # first-appearance is one (entity, token) aggregate; the cumsum
    # window must be PARTITION BY entity — no global window anywhere
    plan = plan_of(spark, "p09_panel_vocab")
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "p09_panel_vocab") == []
    assert "HashAggregate" in plan


def test_vp8x_parse_rides_the_scan(spark):
    # r10: the VP8X chunk-table walk is column algebra over the
    # payload — one Arrow encode stage, then pure projection: no join,
    # no window, no second Python stage for the parse itself
    plan = plan_of(spark, "x420_vp8x_dims")
    assert "MapInPandas" in plan  # the fixture encoder only
    # the parse itself is a Project over the encode stage — exactly
    # one Python node in the tree (formatted plans print each node
    # twice: once in the tree, once in the details section)
    assert plan.count("MapInPandas") == 2
    assert "Join" not in plan
    assert "Window" not in plan


def test_q2_correlated_subquery_decorrelates_to_joins(spark):
    # r10: the correlated scalar subquery (min cost per part) must be
    # rewritten by Catalyst into a per-key MIN aggregate re-joined
    # key-equi — never a per-outer-row re-scan (quadratic) and never
    # a nested-loop/cartesian fallback
    plan = plan_of(spark, "x421_tpch_q2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan
    assert "HashAggregate" in plan


def test_q13_filter_stays_inside_left_outer(spark):
    # the ON-clause predicate on the orders side must not collapse the
    # join to inner (which would drop zero-order customers)
    plan = plan_of(spark, "x422_tpch_q13")
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan


def test_q15_window_rides_the_aggregate(spark):
    # window-over-agg: the MAX window sits ABOVE the supplier-keyed
    # revenue aggregate (metadata-scale frame, <= |suppliers| rows);
    # the fact-scale work is the pushed-filter aggregate below it
    plan = plan_of(spark, "x423_tpch_q15")
    assert "Window" in plan
    assert "HashAggregate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "CartesianProduct" not in plan


def test_p10_pagerank_supersteps_are_entity_keyed(spark):
    # the panel graph lane: every superstep join and message aggregate
    # carries the source key; the top-5 window is PARTITION BY source;
    # nothing cartesian anywhere in 3 unrolled supersteps
    plan = plan_of(spark, "p10_panel_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert unpartitioned_windows(spark, "p10_panel_graph") == []


def test_q3_top_k_is_take_ordered(spark):
    # join -> agg -> top-10 must plan TakeOrderedAndProject (per-
    # partition heaps + one merge), never a full global Sort + limit
    plan = plan_of(spark, "x424_tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q11_global_total_is_one_scalar_subquery(spark):
    # the HAVING threshold evaluates the global total ONCE as a
    # scalar subquery broadcast to the filter — re-computing it per
    # row would re-scan the aggregate per part
    plan = plan_of(spark, "x425_tpch_q11")
    assert "Subquery" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_q17_correlated_avg_decorrelates(spark):
    # the per-part AVG correlated subquery must be rewritten into a
    # per-key aggregate re-joined (NO scalar-subquery node survives) —
    # the surviving-subquery form would re-aggregate lineitem per row
    plan = plan_of(spark, "x426_tpch_q17")
    assert "Subquery" not in plan
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunctive_predicate_keeps_hash_join(spark):
    # the OR spans both tables so it evaluates post-join, but the
    # equi-key must still plan a hash join — never nested-loop
    plan = plan_of(spark, "x427_tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q5_dimension_chain_broadcasts(spark):
    # all five dimensions are fixed-cardinality: the chain must
    # broadcast around the single fact scan — one shuffle (the final
    # nation aggregate), no sort-merge join anywhere
    plan = plan_of(spark, "x428_tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q7_nation_joins_in_two_roles(spark):
    # the self-aliased dimension must survive as TWO independent
    # broadcast joins with disambiguated outputs
    plan = plan_of(spark, "x429_tpch_q7")
    assert "supp_nation" in plan and "cust_nation" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q8_market_share_is_one_aggregate(spark):
    # conditional numerator and total compute in ONE aggregate pass —
    # two scans joined on year would double the fact read
    plan = plan_of(spark, "x430_tpch_q8")
    assert plan.count("HashAggregate") <= 4  # one partial+final pair x2 print
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    # both IN levels plan LeftSemi; the correlated 30%-share total
    # decorrelates (no scalar-subquery node survives)
    plan = plan_of(spark, "x431_tpch_q20")
    assert "LeftSemi" in plan
    assert "Subquery" not in plan
    assert "CartesianProduct" not in plan


def test_p11_survivor_election_pairs_are_entity_keyed(spark):
    # the curation panel lane: pair generation carries the entity key
    # (p07's band machinery), the bucket-cap window partitions by it,
    # and nothing in the election goes cartesian
    plan = plan_of(spark, "p11_panel_survivors")
    assert "__pk" in plan
    assert "CartesianProduct" not in plan


def test_webp_frame_sampling_rides_arrow_batches(spark):
    # r10: container-level frame split + still decode is one Arrow
    # lane over the scan — no join, no window, no driver loop
    plan = plan_of(spark, "x432_webp_frames")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_webp_compositing_rides_arrow_batches(spark):
    # r10: the full composite (split + decode + paste) is still one
    # Arrow lane over the scan — no join, no window, no driver loop
    plan = plan_of(spark, "x433_webp_composited")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_gif_compositing_rides_arrow_batches(spark):
    # r10: GIF LZW decode + compositing is one Arrow lane on the scan
    plan = plan_of(spark, "x434_gif_composited")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_warc_ingest_is_two_arrow_stages(spark):
    # r10: pack (grouped) + split (mapInPandas) — the binaryFile plan
    # shape; no join, no window, parallelism from blob count
    plan = plan_of(spark, "x435_warc_ingest")
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_p12_ivf_candidate_join_is_entity_and_cell_keyed(spark):
    # the keyed IVF lane: candidates join on (entity, cell) — never a
    # cross of query x corpus, and the rank windows carry the entity
    plan = plan_of(spark, "p12_panel_ivf")
    assert "__cell" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert unpartitioned_windows(spark, "p12_panel_ivf") == []
