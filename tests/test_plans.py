"""Physical-plan assertions (SURVEY.md §4.2): verify Catalyst picked
the plans we'd want at 100 TB — pushdown reaches the scan, dims
broadcast, top-k avoids a global sort. That oracled paths stay
Python-free is checked over every executed plan by
tests/test_plan_regression.py."""

from __future__ import annotations

from tests.conftest import SMOKE_SF

from kafka_flink_exactlyonce_example_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    plan_string,
)


def test_filter_pushdown_reaches_scan(spark, registry_loaded):
    df = registry_loaded.QUERIES["q_filter_pred"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "PushedFilters: [" in plan
    # at least the range predicates must be pushed into parquet
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, registry_loaded):
    df = registry_loaded.QUERIES["q_scan_project"](spark, SMOKE_SF)
    plan = plan_string(df)
    # ReadSchema must not include unused columns like l_comment-ish ones
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_broadcast_join_chosen(spark, registry_loaded):
    for q in ("q_join_broadcast", "q_star_join"):
        assert_in_plan(registry_loaded.QUERIES[q](spark, SMOKE_SF), "BroadcastHashJoin")


def test_topk_plans_take_ordered(spark, registry_loaded):
    assert_in_plan(
        registry_loaded.QUERIES["q_sort_limit"](spark, SMOKE_SF), "TakeOrderedAndProject"
    )


def test_partial_aggregation_present(spark, registry_loaded):
    # partial → final HashAggregate pair = map-side combine before shuffle
    plan = plan_string(registry_loaded.QUERIES["q_agg_multi"](spark, SMOKE_SF))
    assert plan.count("HashAggregate") >= 2


def test_wholestage_codegen_in_flagship(spark, registry_loaded):
    # AQE hides codegen spans in the pre-execution formatted plan;
    # "codegen" mode reports the fused subtrees directly.
    assert_in_plan(
        registry_loaded.QUERIES["q_star_join"](spark, SMOKE_SF),
        "WholeStageCodegen",
        mode="codegen",
    )


def test_asof_join_is_window_pass_not_bnlj(spark, registry_loaded):
    """The as-of join must plan as one window pass (shuffle on user_id
    + sort), never a nested-loop range join."""
    df = registry_loaded.QUERIES["q_asof_join"](spark, SMOKE_SF)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct")
    plan = plan_string(df)
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan


def test_interval_join_is_hash_join(spark, registry_loaded):
    """Equi-key + range residual → hash/merge join, not BNLJ."""
    df = registry_loaded.QUERIES["q_interval_join"](spark, SMOKE_SF)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct")


def test_pair_families_broadcast_block_side(spark, registry_loaded):
    """q_edit_distance still broadcasts its genuinely-bounded build
    side; q_embed_dup/q_semdedup no longer FORCE a broadcast of the
    data-scaled corpus — their pair joins are shuffle equi-joins on the
    corpus-scaled (label, cell) key (AQE may still pick broadcast at
    toy scale, which is fine), and must never degrade to a
    nested-loop/cartesian product."""
    assert_in_plan(
        registry_loaded.QUERIES["q_edit_distance"](spark, SMOKE_SF),
        "BroadcastHashJoin",
    )
    for q in ("q_embed_dup", "q_semdedup"):
        assert_not_in_plan(
            registry_loaded.QUERIES[q](spark, SMOKE_SF),
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )


def test_label_sim_moment_identity_no_pair_join(spark, registry_loaded):
    """q_label_sim is the closed-form moment identity: one linear pass,
    no pair join. The quadratic form needed vec_id for its v1<v2
    predicate, so the surest pin is that vec_id never appears in the
    plan — and no nested-loop/cartesian join may exist either."""
    df = registry_loaded.QUERIES["q_label_sim"](spark, SMOKE_SF)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct")
    assert "vec_id" not in plan_string(df)


def test_lateral_topk_decorrelates_to_group_limit(spark, registry_loaded):
    """The correlated LATERAL ... ORDER BY ... LIMIT must decorrelate to
    WindowGroupLimit (map-side partial top-k per group) + a join — never
    a per-outer-row rescan of the inner table."""
    df = registry_loaded.QUERIES["q_lateral_topk"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_anomaly_stats_join_is_broadcast(spark, registry_loaded):
    """The 5-row per-type stats side must broadcast — the score pass
    over the fact table stays shuffle-free."""
    assert_in_plan(
        registry_loaded.QUERIES["q_anomaly"](spark, SMOKE_SF), "BroadcastHashJoin"
    )


def test_forward_fill_single_shuffle(spark, registry_loaded):
    """IGNORE-NULLS forward fill is one hash exchange on user_id + one
    sorted window pass — no extra exchanges."""
    plan = plan_string(
        registry_loaded.QUERIES["q_forward_fill"](spark, SMOKE_SF), mode="simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_basket_pairs_pair_gen_has_no_self_join(spark, registry_loaded):
    """Pairs come from inline array C(k,2) generation — the plan must
    show the broadcast dim join but NO sort-merge self-join of the
    (order, brand) relation."""
    df = registry_loaded.QUERIES["q_basket_pairs"](spark, SMOKE_SF)
    assert_not_in_plan(df, "SortMergeJoin", "CartesianProduct")
    assert_in_plan(df, "BroadcastHashJoin")


def test_skyline_no_fact_join_no_global_window(spark, registry_loaded):
    """The dominance test contracts to the ≤50-row size grain and joins
    that back by BROADCAST — the point set itself must never be
    shuffled into a join (no SortMergeJoin/ShuffledHashJoin/Cartesian),
    and no single-partition global window may appear (the round-1 shape
    this replaced)."""
    df = registry_loaded.QUERIES["q_skyline"](spark, SMOKE_SF)
    assert_not_in_plan(
        df, "SortMergeJoin", "CartesianProduct", "ShuffledHashJoin",
    )
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan  # per-size mins broadcast onto pts
    assert "Window" not in plan  # global-window formulation must not return


def test_derived_caps_broadcast_back(spark, registry_loaded):
    """Two-level metric queries (tiny derived relation rejoined to the
    fact scan) must broadcast the derived side, never shuffle the fact
    table into a sort-merge join."""
    for q in ("q_winsorize", "q_unigram_ce", "q_cluster_purity"):
        df = registry_loaded.QUERIES[q](spark, SMOKE_SF)
        assert_not_in_plan(df, "SortMergeJoin")


def test_global_scan_family_has_no_unpartitioned_window(spark, registry_loaded):
    """The five global-order queries (pareto/rfm/abc/whale/skyline) were
    rewritten onto the distributed two-pass scan (operators/scale.py).
    An unpartitioned window prints as ``windowspecdefinition`` with an
    empty partition spec — ``], [], [`` in the Window node line; none
    may appear, or the single-partition sort bottleneck is back."""
    for q in (
        "q_pareto", "q_rfm", "q_abc_class", "q_whale_curve", "q_skyline",
        "q_zipf", "q_heaps", "q_concurrency", "q_win_ntile",
    ):
        plan = plan_string(registry_loaded.QUERIES[q](spark, SMOKE_SF))
        bad = [
            ln
            for ln in plan.splitlines()
            if ln.strip().startswith("Window") and "], [], [" in ln
        ]
        assert not bad, f"{q}: unpartitioned Window nodes: {bad}"


def test_global_scan_family_range_partitions(spark, registry_loaded):
    """The four rank/cumsum rewrites must show the range repartition the
    two-pass pattern is built on (skyline needs none — it contracts to
    the bounded size domain instead)."""
    for q in (
        "q_pareto", "q_rfm", "q_abc_class", "q_whale_curve",
        "q_zipf", "q_heaps", "q_concurrency", "q_win_ntile",
    ):
        assert_in_plan(registry_loaded.QUERIES[q](spark, SMOKE_SF), "rangepartitioning")


def test_bigram_model_tables_not_hint_broadcast(spark, registry_loaded):
    """VERDICT r04 item 3: the bigram-LM model tables (bigram-type and
    unigram counts) are CORPUS-DERIVED and unbounded under Heaps' law,
    so the scoring joins must NOT carry a static broadcast hint — the
    analyzed plan may contain at most ONE ResolvedHint, the 1-row
    vocab-size scalar (bounded by construction). AQE is free to
    broadcast the small tables at runtime; what's pinned is that the
    CODE never forces it. Also: still an equi-join chain, never a
    cartesian product. Inspect the FRAME builder: the registered query
    returns the session-cached localCheckpoint, whose plan is an
    opaque scan."""
    from kafka_flink_exactlyonce_example_spark.operators.textstats import (
        _bigram_ce_frame,
    )

    df = _bigram_ce_frame(spark, SMOKE_SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") <= 1, (
        "corpus-derived model table behind a static broadcast hint:\n" + analyzed
    )
    assert_not_in_plan(df, "CartesianProduct")


def test_no_static_broadcast_of_vocab_grain_models(spark, registry_loaded):
    """The round-4 sweep (VERDICT r04 item 5) extended the same rule to
    every vocabulary/bigram-grain model join in textstats: q_tfidf,
    q_unigram_ce, q_keyphrase, q_cooccurrence, q_kn_ppl. Each may hint
    only its genuinely bounded sides (1-row scalars, source/lang
    grains): assert the analyzed-plan hint count stays at the audited
    bound, and no plan degrades to a cartesian product."""
    max_hints = {
        "q_tfidf": 1,  # 1-row corpus count only
        "q_unigram_ce": 1,  # 1-row token total only
        "q_keyphrase": 2,  # source marginals + 1-row grand total
        "q_cooccurrence": 1,  # 1-row doc count only
        "q_kn_ppl": 1,  # 1-row type count (add-1 side is an opaque
        # localCheckpoint scan, its hints already spent)
    }
    for qname, bound in max_hints.items():
        df = registry_loaded.QUERIES[qname](spark, SMOKE_SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n = analyzed.count("ResolvedHint")
        assert n <= bound, f"{qname}: {n} broadcast hints (audited bound {bound})"
        assert_not_in_plan(df, "CartesianProduct")


def test_gram_novelty_no_broadcast_of_gram_relation(spark, registry_loaded):
    """q_gram_novelty's gram-frequency join is on a DATA-SCALED key
    relation — the code must not force it broadcast (no literal
    F.broadcast), and the plan must stay equi-join (no BNLJ)."""
    df = registry_loaded.QUERIES["q_gram_novelty"](spark, SMOKE_SF)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct")


def test_vocab_drift_is_take_ordered(spark, registry_loaded):
    """The global top-10 must plan as TakeOrderedAndProject, not a full
    sort."""
    assert_in_plan(
        registry_loaded.QUERIES["q_vocab_drift"](spark, SMOKE_SF),
        "TakeOrderedAndProject",
    )


def test_round4_ppl_bucket_range_partitions_no_per_lang_sort(
    spark, registry_loaded
):
    """q_ppl_bucket's per-lang ntile must ride the distributed
    ordered_scan (range repartition visible) and never a data-scaled
    unpartitioned window."""
    df = registry_loaded.QUERIES["q_ppl_bucket"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "rangepartitioning" in plan
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Window") and "], [], [" in ln
    ]
    assert not bad, f"unpartitioned Window nodes: {bad}"


def test_round4_dsir_top20_is_take_ordered(spark, registry_loaded):
    """q_dsir_weights' global top-20 must plan as TakeOrderedAndProject
    (distributed top-k), and the 64-bucket model join must broadcast."""
    df = registry_loaded.QUERIES["q_dsir_weights"](spark, SMOKE_SF)
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_in_plan(df, "BroadcastHashJoin")


def test_round4_bloom_bits_broadcast(spark, registry_loaded):
    """q_bloom_prefilter's ≤4096-row bit relation must reach the fact
    side as a broadcast hash join — the whole point of the filter."""
    assert_in_plan(
        registry_loaded.QUERIES["q_bloom_prefilter"](spark, SMOKE_SF),
        "BroadcastHashJoin",
    )


def test_round4_kmeans_argmin_is_aggregate_not_window(spark, registry_loaded):
    """q_kmeans' per-vector argmin is a map-side-combining aggregate,
    NOT a rank window: the only Window node allowed is the seed-rank
    one, which sits on the 4-row post-limit seed relation (bounded by
    construction)."""
    df = registry_loaded.QUERIES["q_kmeans"](spark, SMOKE_SF)
    plan = plan_string(df)
    n_windows = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("Window ")
    )
    assert n_windows <= 1, f"unexpected Window nodes: {n_windows}"


def test_round4_salted_join_broadcasts_replicated_dim(spark, registry_loaded):
    """q_salted_join replicates the BOUNDED dim ×8 and broadcasts it;
    the fact side must not be exchanged for the join itself."""
    assert_in_plan(
        registry_loaded.QUERIES["q_salted_join"](spark, SMOKE_SF),
        "BroadcastHashJoin",
    )


def test_round4_cascade_no_exhaustive_pair_join(spark, registry_loaded):
    """q_dedup_cascade's near-dup stage must consume the LSH-verified
    edge relation filtered by SEMI-joins — no cartesian pair
    generation. (The BroadcastNestedLoopJoin nodes present are the
    single-row census-count crossJoins, bounded by construction.)"""
    df = registry_loaded.QUERIES["q_dedup_cascade"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan, "survivor filtering must be semi-joins"


def test_round5_vocab_overlap_plans_window_group_limit(spark, registry_loaded):
    """The per-lang top-20 rank filter must plan as WindowGroupLimit
    (map-side partial top-k) so the full vocabulary never sorts."""
    df = registry_loaded.QUERIES["q_vocab_overlap"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "WindowGroupLimit" in plan
    assert_not_in_plan(df, "CartesianProduct")


def test_round5_oov_vocab_is_bounded_topk(spark, registry_loaded):
    """q_oov_rate's top-V vocab freeze must be a distributed top-k
    (TakeOrderedAndProject), never a global sort; the scoring join may
    broadcast — the capped relation is bounded by construction."""
    df = registry_loaded.QUERIES["q_oov_rate"](spark, SMOKE_SF)
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "CartesianProduct")


def test_round5_cdc_merge_single_keyed_window(spark, registry_loaded):
    """The merge must stay a keyed-window plan: every Window node
    partitioned (no single-partition sort), no cartesian anywhere."""
    df = registry_loaded.QUERIES["q_cdc_merge"](spark, SMOKE_SF)
    plan = plan_string(df)
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Window") and "], [], [" in ln
    ]
    assert not bad, f"unpartitioned Window nodes: {bad}"
    assert_not_in_plan(df, "CartesianProduct")


def test_round5_multires_rollup_scans_facts_once(spark, registry_loaded):
    """The 1h base must materialize before the union — without the
    barrier each union branch re-computed the base from the fact table
    (3 scans, and AQE's ReuseExchange cannot canonicalize the branch
    aggregates together). The checkpointed plan shows ZERO parquet
    scans (the single scan ran at materialization time)."""
    df = registry_loaded.QUERIES["q_multires_rollup"](spark, SMOKE_SF)
    assert plan_string(df).count("FileScan parquet") == 0


def test_round5_watermark_plan_keyed_window(spark, registry_loaded):
    """Running-max lateness must be per-user keyed state — a Window
    with a partition spec, mirroring the streaming runtime's bounded
    per-key state."""
    df = registry_loaded.QUERIES["q_watermark_plan"](spark, SMOKE_SF)
    plan = plan_string(df)
    bad = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("Window") and "], [], [" in ln
    ]
    assert not bad, f"unpartitioned Window nodes: {bad}"


def test_round5_map_side_rollups_have_partial_aggs(spark, registry_loaded):
    """The linear-scan round-5 reports must keep the partial→final
    HashAggregate pair (map-side combine before the shuffle)."""
    for q in ("q_kanon", "q_byte_fallback", "q_calibration_bins",
              "q_lang_id_confusion", "q_compaction_plan",
              "q_embed_norm_qc", "q_window_join"):
        plan = plan_string(registry_loaded.QUERIES[q](spark, SMOKE_SF))
        assert plan.count("HashAggregate") >= 2, f"{q}: no partial agg"


def test_round5_diversity_topk_composes_group_limit_and_take_ordered(
    spark, registry_loaded
):
    """Both ranking stages must keep their scale-safe physical forms:
    per-group cap as WindowGroupLimit, global top-10 over the capped
    relation as TakeOrderedAndProject."""
    df = registry_loaded.QUERIES["q_diversity_topk"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan


def test_round5_maxsim_is_two_hash_aggs_no_window(spark, registry_loaded):
    """MaxSim must reduce via hash aggregations (map-side partial),
    never a per-document window; the probe side must broadcast."""
    df = registry_loaded.QUERIES["q_maxsim_retrieval"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_round6_kmv_sketch_uses_window_group_limit(spark, registry_loaded):
    """The bottom-K sketch build must plan as WindowGroupLimit
    (Partial + Final map-side partial top-k) — the full per-source
    hash domain must never sort; and the per-source rank window must
    be the ONLY corpus-scaled window (everything downstream lives on
    the checkpointed |sources|·K sketch)."""
    df = registry_loaded.QUERIES["q_kmv_setops"](spark, SMOKE_SF)
    plan = plan_string(df)
    # the sketch is localCheckpoint'ed at build time, so the FINAL
    # plan must consume only the materialized |sources|·K relation —
    # RDD scans, ZERO parquet re-scans (sketch + source grid + both
    # merge/intersection sides all derive from the checkpoint)
    assert plan.count("Scan ExistingRDD") >= 1, "sketch not materialized"
    assert "Scan parquet" not in plan, "pairwise stage re-scans the corpus"


def test_round6_containment_rides_cached_bands(spark, registry_loaded):
    """q_minhash_containment's candidates must come from the session
    band cache (Scan ExistingRDD — the localCheckpoint'ed capped
    bands), and the shingle relation likewise: the only allowed
    corpus-scaled work is the candidate-restricted intersection join.
    """
    df = registry_loaded.QUERIES["q_minhash_containment"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert plan.count("Scan ExistingRDD") >= 2, "band/shingle caches not used"


def test_round6_leakage_split_is_group_grain_rollup(spark, registry_loaded):
    """After the (cached) CC labels, the leakage audit must be pure
    map-side flag derivation + group-grain hash aggregation — no
    windows, no joins back to the corpus, partial aggs present."""
    df = registry_loaded.QUERIES["q_leakage_split"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "WindowExec" not in plan and "Window [" not in plan
    assert plan.count("HashAggregate") >= 2


def test_char_ngram_single_pair_shuffle(spark, registry_loaded):
    """Round-8 restructure: co-occurring doc pairs are generated inline
    from sorted posting arrays after ONE (lang, gram-hash) shuffle — the
    former inverted-index SELF-JOIN (two shuffled sides) must not come
    back. The size joins at the end broadcast (bounded doc-grain)."""
    df = registry_loaded.QUERIES["q_char_ngram"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "SortMergeJoin" not in plan
    assert "collect_list" in plan or "ds" in plan  # postings aggregation


def test_session_stats_no_exact_percentile(spark, registry_loaded):
    """Round-8 conversion (VERDICT r07 item 3): the duration percentiles
    come from the seconds-grain histogram CDF — the plan must not
    contain the value-buffering exact `percentile` aggregate."""
    df = registry_loaded.QUERIES["q_session_stats"](spark, SMOKE_SF)
    plan = plan_string(df)
    assert "percentile" not in plan.lower()


def test_pca_power_no_iterative_stages(spark, registry_loaded):
    """Round-8: the matvec rounds run driver-side over the collected
    bounded model; the returned plan is a parallelized local relation —
    no joins, no windows, no exchanges left in the result DataFrame."""
    df = registry_loaded.QUERIES["q_pca_power"](spark, SMOKE_SF)
    plan = plan_string(df)
    for node in ("Join", "Window", "Exchange"):
        assert node not in plan, f"unexpected {node} in driver-side pca plan"
