"""Plan-shape tests: verify the physical plans have the scale
properties the engine is designed around (pushdown, pruning, broadcast,
partial aggregation, top-k heaps).  A correct-but-badly-planned query
fails here even though its values match the oracle."""

import pytest
from pyspark.sql import functions as F

from spear_spark.plans import (
    executed_plan,
    has_broadcast_join,
    has_partial_aggregation,
    has_take_ordered,
    pushed_filters,
    read_schemas,
)
from spear_spark.relational import QUERIES


def plan_for(spark, sf_dir, name):
    df = QUERIES[name][0](spark, sf_dir)
    return executed_plan(df)


def test_filter_and_projection_pushdown(spark, sf_dir):
    """q02: both predicates reach the scan; only the 6 needed columns
    of lineitem's 11 are read."""
    plan = plan_for(spark, sf_dir, "q02_filter_topk")
    pf = " ".join(pushed_filters(plan))
    assert "GreaterThan(l_shipdate" in pf
    assert "GreaterThan(l_quantity" in pf
    cols = read_schemas(plan)[0]
    assert set(cols) == {
        "l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = plan_for(spark, sf_dir, "q02_filter_topk")
    assert has_take_ordered(plan)


def test_aggregation_is_two_phase(spark, sf_dir):
    """q01: map-side partial aggregation collapses rows before the
    exchange (HashAggregate partial_ → Exchange → HashAggregate)."""
    plan = plan_for(spark, sf_dir, "q01_pricing_summary")
    assert has_partial_aggregation(plan)


def test_small_dims_broadcast(spark, sf_dir):
    """q03: customer (small side) must broadcast — a shuffle join on a
    dim table is the classic 100 TB mistake."""
    plan = plan_for(spark, sf_dir, "q03_shipping_priority")
    assert has_broadcast_join(plan)


def test_theta_join_is_hash_plus_residual(spark, sf_dir):
    """q04: the equi conjunct becomes the hash join key; the range
    predicate stays as a residual filter — NOT a nested-loop join."""
    plan = plan_for(spark, sf_dir, "q04_theta_join")
    assert has_broadcast_join(plan) or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_partition_count_respects_conf(spark, sf_dir):
    """AQE coalesces the configured shuffle partitions (4 on the test
    session) down for the tiny local input — the same plan fans out on
    a cluster."""
    df = QUERIES["q01_pricing_summary"][0](spark, sf_dir)
    assert df.rdd.getNumPartitions() <= int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_executed_plan_leaves_session_conf_unchanged(spark, sf_dir, with_jobs):
    """The plan helper widens metadata strings only for its own call:
    an unset conf stays unset and a set one keeps its value.  It reads
    the plan without running the query: zero Spark jobs."""
    key = "spark.sql.maxMetadataStringLength"
    df = QUERIES["q02_filter_topk"][0](spark, sf_dir)
    previous = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        plan, jobs = with_jobs(lambda: executed_plan(df))
        assert ("ReadSchema" in plan, jobs) == (True, 0)
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "123")
        executed_plan(df)
        assert spark.conf.get(key) == "123"
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def test_dedup_exact_partial_aggregates(spark, sf_dir):
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p01_dedup_exact"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)


def test_scalar_projection_reads_minimal_schema(spark, sf_dir):
    """p09 quality score: a 2-column result must not read the whole
    documents schema."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p09_quality_score"][0](spark, sf_dir))
    cols = read_schemas(plan)[0]
    assert set(cols) == {"doc_id", "text"}


def test_relational_catalog_is_python_free(spark, sf_dir):
    """Every relational query must run entirely JVM-side — no
    BatchEvalPython / ArrowEvalPython / pandas-group nodes anywhere.
    (The pipeline ops that *intentionally* use Arrow UDFs are p06, p12,
    p18's none — multimodal and vectorized kNN only.)"""
    from spear_spark.relational import QUERIES as REL

    offenders = []
    for name, (fn, _) in sorted(REL.items()):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if any(tok in plan for tok in ("EvalPython", "InPandas", "PythonUDF")):
            offenders.append(name)
    assert not offenders, f"Python in relational plans: {offenders}"


def test_text_ops_are_python_free(spark, sf_dir):
    """Text analysis is pure-Column by design (hot path at 100 TB)."""
    from spear_spark.operators.catalog import QUERIES as OPS

    for name in ["p08_lang_id", "p09_quality_score", "p10_token_stats",
                 "p11_fingerprint", "p15_rolling_hash", "p16_winnowing"]:
        plan = OPS[name][0](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "InPandas" not in plan, name


def test_q52_scalar_broadcast_and_anti_join(spark, sf_dir):
    """Q22 shape: the global-average scalar is a 1-row broadcast (no
    second scan at the consumer, no driver round-trip) and NOT EXISTS
    is a broadcast anti hash join — no CartesianProduct node."""
    plan = plan_for(spark, sf_dir, "q52_untapped_segments")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q56_disjunctive_predicate_keeps_hash_join(spark, sf_dir):
    """Q19 shape: the common equi conjunct must stay the hash-join key
    with the OR clauses as residual — a nested-loop/cartesian here is
    the classic disjunctive-predicate planning failure."""
    plan = plan_for(spark, sf_dir, "q56_disjunctive_join")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_p23_packing_single_window_no_join(spark, sf_dir):
    """Sequence packing is one windowed cumsum per shard: no join
    anywhere, and the scan reads only (doc_id, text)."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p23_sequence_packing"][0](spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    assert set(read_schemas(plan)[0]) == {"doc_id", "text"}


def test_p26_ivf_plan_is_join_free(spark, sf_dir):
    """Deterministic IVF: assignment + probe filter + top-k is a pure
    projection pipeline — the centroids live in the plan as literals,
    not a joined relation."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p26_ann_ivf"][0](spark, sf_dir))
    assert "Join" not in plan
    assert has_take_ordered(plan)


def test_relevance_broadcasts_corpus_constants(spark, sf_dir):
    """TF-IDF/BM25: document frequencies, N and avgdl must broadcast
    back onto the (doc, term) table — shuffling the big side against
    1-row aggregates would be the scale mistake."""
    from spear_spark.operators.catalog import QUERIES as OPS

    for name in ["p27_tfidf_topterms", "p28_bm25"]:
        plan = executed_plan(OPS[name][0](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert has_partial_aggregation(plan), name


def test_q59_six_way_join_broadcasts_dims(spark, sf_dir):
    """q59 (Q5 shape): supplier/nation/region must broadcast; the only
    shuffle join is the orders-lineitem fact join; no cartesian."""
    plan = plan_for(spark, sf_dir, "q59_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q62_topk_is_take_ordered(spark, sf_dir):
    """q62 (Q10 shape): LIMIT 20 over ORDER BY revenue must plan as
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    plan = plan_for(spark, sf_dir, "q62_returned_items")
    assert has_take_ordered(plan)


# ---- round 4: plan shapes for the new operators ---------------------------


def test_p51_cdc_is_partial_maxby_not_window(spark, sf_dir):
    """CDC compaction must plan as a TWO-PHASE max_by aggregate (one
    hash exchange, map-side partials) — never the row_number window
    whose full-history shuffle it was designed to replace."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p51_cdc_upsert"][0](spark, sf_dir))
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # + the output range sort only


def test_p48_segment_dedup_single_segment_exchange(spark, sf_dir):
    """Segment dedup: exactly one hash exchange on the segment text
    (whole-partition window min — no self-join back), one on the doc
    id for reassembly, and a two-phase collect aggregate."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p48_segment_dedup"][0](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_p55_quantize_is_shuffle_free(spark, sf_dir):
    """Quantization is a pure projection: no exchange except the
    output sort, no aggregate, no join."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p55_quantize_embeddings"][0](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_p57_split_is_shuffle_free(spark, sf_dir):
    """The leakage-safe split decision is per-row: no shuffle at all
    beyond the output ordering."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p57_leakage_safe_split"][0](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Aggregate" not in plan


def test_p59_pagerank_iterations_never_shuffle_edges(spark, sf_dir):
    """PageRank (broadcast regime): each of the 5 iterations is a
    map-side BroadcastHashJoin probe over the checkpointed edge RDD
    plus ONE keys-sized contribution exchange (two-phase sum).  The
    edge relation itself must never re-exchange inside the loop — at
    100 TB the edges are the corpus, the rank vector is the small
    thing that moves."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p59_pagerank"][0](spark, sf_dir))
    # 5 contribution exchanges + 1 output range partitioning; any
    # Exchange of the src/dst edge columns would push this count up
    assert plan.count("Exchange hashpartitioning") == 5
    assert plan.count("Exchange rangepartitioning") == 1
    # (rank⋈deg fold + edge probe + rank rebuild) x 5 — all broadcasts
    assert plan.count("BroadcastHashJoin") == 15
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_sum") == 5  # map-side combine each round


def test_p60_winsorize_broadcasts_bounds(spark, sf_dir):
    """The per-group quantile bounds (one row per source) must come
    back as a broadcast, so the clamp pass adds no extra data
    shuffle."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p60_winsorized_stats"][0](spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_p63_bpe_pairs_bounded_domain_topk(spark, sf_dir):
    """Pair counting must collapse map-side (alphabet²-bounded key
    domain) and the global top-20 must plan as per-partition heaps,
    not a full sort."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p63_bpe_pair_counts"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert has_take_ordered(plan)
    assert "Join" not in plan


def test_q16_range_frame_window_is_partitioned(spark, sf_dir):
    """q16's bounded global RANGE frame must evaluate as per-bucket
    windows behind a hash exchange (the halo rewrite) — an
    unpartitioned windowspecdefinition here is the single-task
    bottleneck this round retired."""
    plan = plan_for(spark, sf_dir, "q16_range_frame")
    assert "hashpartitioning(_bkt" in plan
    assert "windowspecdefinition(_bkt" in plan


def test_q82_symmetric_range_frame_window_is_partitioned(spark, sf_dir):
    """The forward-halo variant keeps the q16 scale shape: per-bucket
    windows behind ONE bucket-id hash exchange, symmetric RangeFrame
    bounds, no joins anywhere."""
    plan = plan_for(spark, sf_dir, "q82_symmetric_range_frame")
    assert "hashpartitioning(_bkt" in plan
    assert "windowspecdefinition(_bkt" in plan
    assert "RangeFrame, -10, 10" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_q83_session_window_single_exchange(spark, sf_dir):
    """The built-in session window must plan as partial count →
    ONE user_id exchange → MergingSessions — the same single-shuffle
    shape as q40's island rewrite, with the merge done by the
    dedicated operator instead of two window passes."""
    plan = plan_for(spark, sf_dir, "q83_session_window")
    assert "MergingSessions" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "Join" not in plan


def test_p71_weighted_pagerank_iterations_never_shuffle_edges(spark, sf_dir):
    """Weighted PageRank (broadcast regime) inherits p59's audited
    shape through the shared _iterate core: per iteration exactly one
    keys-sized contribution exchange and three broadcast probes —
    the weighted edge relation never re-exchanges inside the loop."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p71_pagerank_weighted"][0](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 3  # 1 per iteration
    assert plan.count("Exchange rangepartitioning") == 1  # output sort only
    assert plan.count("BroadcastHashJoin") == 9  # (fold+probe+rebuild) x 3
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_sum") == 3  # map-side combine each round


def test_p72_converged_pagerank_output_is_checkpoint_scan(spark, sf_dir):
    """Convergence mode checkpoints each checked vector, so the final
    plan must be a bare checkpoint scan + round + output sort — all
    iteration work already ran behind the bounded residual actions
    (the iteration shape itself is p59/p71's pinned _iterate core)."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p72_pagerank_convergence"][0](spark, sf_dir))
    assert "Scan ExistingRDD" in plan
    assert plan.count("Exchange") == 1  # the output rangepartitioning only
    assert "Join" not in plan


def test_p69_pairs_join_distinct_hashes_no_cartesian(spark, sf_dir):
    """p69's Hamming pairs must come from banded equi-joins over
    DISTINCT hashes (two hash-level aggregates) — never a cartesian
    or an unbanded doc-level self-join."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p69_image_ahash_pairs"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the distinct-hash reduction before banding: aggregate keyed on
    # the bare hash column
    assert "HashAggregate(keys=[h#" in plan


def test_rank_filter_windows_use_group_limit(spark, sf_dir):
    """Catalyst's WindowGroupLimit must fire (partial below the
    exchange + final above) on every rank-then-filter top-k window —
    without it a hot group's full row set sorts on one task before
    the rank filter drops it.  Pinned so a frame/ordering change that
    breaks eligibility is caught."""
    from spear_spark.operators.catalog import QUERIES as OPS

    for name in ("p27_tfidf_topterms", "p62_top_ngrams_per_lang"):
        plan = executed_plan(OPS[name][0](spark, sf_dir))
        assert plan.count("WindowGroupLimit") == 2, name
    plan = plan_for(spark, sf_dir, "q15_top3_per_nation")
    assert plan.count("WindowGroupLimit") == 2


def test_shingle_df_is_two_phase_count_not_window(spark, sf_dir):
    """Shingle document frequency (the df-cap in the Jaccard/containment
    pair core, and p90's rarest-prefix ranking) must be a two-phase
    groupBy count joined back on the shingle — never count-over-window
    on `s`: the hottest stop-shingle's window partition is a single-task
    sort of O(corpus docs) rows at scale, and AQE can split skewed joins
    but not window partitions."""
    from spear_spark.operators.catalog import QUERIES as OPS

    for name in ("p05_ngram_jaccard", "p74_containment_pairs"):
        plan = executed_plan(OPS[name][0](spark, sf_dir))
        assert "windowspecdefinition(s#" not in plan, name
        assert "ShuffledHashJoin" in plan, name
        assert has_partial_aggregation(plan), name

    # p90 pinned on the operator itself — the catalog entry hides the
    # pipeline behind the materialize-before-sort checkpoint
    from spear_spark.operators.dedup import jaccard_prefix_pairs
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(
        jaccard_prefix_pairs(docs, "text", "doc_id", threshold=0.5)
    )
    assert "windowspecdefinition(s#" not in plan
    # the only window left is the per-doc rarest-first rank (bounded by
    # one document's shingle set)
    assert "windowspecdefinition(id#" in plan
    assert "ShuffledHashJoin" in plan

    # same rule for the TF-IDF term-df cap (p76) and the repeated-gram
    # corpus tally (p85): no window keyed on a corpus-wide value
    plan = executed_plan(OPS["p76_sparse_cosine_pairs"][0](spark, sf_dir))
    assert "windowspecdefinition(term#" not in plan
    assert "ShuffledHashJoin" in plan
    plan = executed_plan(OPS["p85_repeated_ngrams"][0](spark, sf_dir))
    assert "windowspecdefinition(hv#" not in plan
    assert "ShuffledHashJoin" in plan


def test_p100_training_order_window_is_bucket_partitioned(spark, sf_dir):
    """The training-order rank must run as per-bucket windows behind a
    (bucket) hash exchange with the offset table broadcast — a global
    ROW_NUMBER (empty windowspecdefinition partition) would be the
    one-task sort this operator exists to avoid."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p100_training_order"][0](spark, sf_dir))
    assert "windowspecdefinition(_bkt" in plan
    assert "hashpartitioning(_bkt" in plan
    assert has_broadcast_join(plan)


def test_p101_mix_schedule_window_partitions_by_group_and_bucket(spark, sf_dir):
    """The grouped variant partitions its window by (source, bucket):
    even a group holding the whole corpus splits across buckets, so no
    source is ever a single-task sort."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p101_mix_schedule"][0](spark, sf_dir))
    assert "windowspecdefinition(source" in plan
    assert "_bkt" in plan.split("windowspecdefinition(source", 1)[1][:40]
    assert has_broadcast_join(plan)


def test_p103_diversity_is_two_phase_no_expand(spark, sf_dir):
    """distinct-n must plan as aggregate-the-aggregate (partial counts
    before both exchanges) with no COUNT(DISTINCT) Expand node — the
    expand would triple the exploded gram volume before the shuffle."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p103_distinct_ngrams"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Expand" not in plan


def test_p104_jsd_is_equi_join_no_cartesian(spark, sf_dir):
    """The JSD matrix must join counts on the token KEY (never
    all-pairs over docs or vocab) with totals broadcast and partial
    aggregation below every exchange; the only nested-loop is the
    bounded |sources|² pair frame."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p104_source_jsd"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(plan)
    assert has_broadcast_join(plan)


def test_p105_curriculum_windows_are_bucket_partitioned(spark, sf_dir):
    """Both windows — the difficulty rank and the intra-stage shuffle —
    must partition by their bucket columns; a global or stage-only
    window would be the single-task sort the operator exists to
    avoid."""
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p105_curriculum_order"][0](spark, sf_dir))
    assert "windowspecdefinition(_b," in plan or "windowspecdefinition(_b#" in plan
    assert "windowspecdefinition(stage" in plan
    assert "_bkt" in plan.split("windowspecdefinition(stage", 1)[1][:40]
    assert has_broadcast_join(plan)


def test_p106_profile_aggregates_partial_no_cartesian(spark, sf_dir):
    from spear_spark.operators.catalog import QUERIES as OPS

    plan = executed_plan(OPS["p106_dup_cluster_profile"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(plan)


def test_mad_outliers_approx_windows_only_over_bin_aggregates(spark, sf_dir):
    """The mergeable MAD's windows must run over the (group, bin)
    aggregate — never over corpus rows: both medians come from ≤ n_bins
    rows per group behind a partial aggregation, the two one-row-per-
    group estimate tables broadcast back, and no sort-merge join ever
    appears.  A window keyed on row-grain data would reintroduce the
    single-task per-group sort the operator exists to avoid."""
    from spear_spark.operators.stats import mad_outliers_approx
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(
        mad_outliers_approx(
            docs, "n_chars", ["lang"], "doc_id",
            lo=0.0, hi=20000.0, n_bins=1000, threshold=1.5,
        )
    )
    # windows partition by the group key over bin-count rows (ordered
    # by _bin), never over doc_id/value row-grain
    assert "windowspecdefinition(lang" in plan
    assert "_bin" in plan
    assert "windowspecdefinition(doc_id" not in plan
    assert has_partial_aggregation(plan)
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_cap_per_group_uses_window_group_limit(spark, sf_dir):
    """The per-group cap must plan as partial + final WindowGroupLimit
    so a hot host's rows heap-prune per task BEFORE the exchange — the
    same pin as the rank-filter top-k family."""
    from spear_spark.operators.sampling import cap_per_group
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(
        cap_per_group(docs, ["source"], 5, [F.desc("n_chars"), F.col("doc_id")])
    )
    assert plan.count("WindowGroupLimit") == 2


def test_gopher_rules_is_exchange_free(spark, sf_dir):
    """The Gopher rule table is the gate in FRONT of every other
    filter — it must stay a single narrow projection: zero shuffle
    Exchanges in the executed plan and no Python (BatchEvalPython)
    node."""
    from spear_spark.operators.text import gopher_rules
    from spear_spark.plans import exchange_record_counts, executed_plan
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = gopher_rules(docs, "text", "doc_id")
    plan = executed_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert exchange_record_counts(out, run=False) == []


def test_bpe_learn_word_table_uses_takeordered(spark, sf_dir):
    """bpe_learn's capped word-frequency table must plan as a
    TakeOrderedAndProject heap (per-partition top-N before the
    exchange), never a global Sort — the cap is what bounds driver
    state, so it must also bound the shuffle."""
    from spear_spark.operators.text import BPE_PATTERN
    from spear_spark.plans import executed_plan, has_take_ordered
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(BPE_PATTERN), 0
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("w"))
        .limit(1000)
    )
    plan = executed_plan(words)
    assert has_take_ordered(plan), plan


def test_mad_outliers_approx_broadcasts_and_avoids_sortmerge(spark, sf_dir):
    """Both histogram-median probes must come back as broadcast joins
    (bounded (group, bin) aggregates), never SortMergeJoin — nothing
    downstream of an aggregate may shuffle corpus-sized data."""
    from spear_spark.operators.stats import mad_outliers_approx
    from spear_spark.plans import (
        executed_plan,
        has_broadcast_join,
        has_sort_merge_join,
    )
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = mad_outliers_approx(
        docs, "n_chars", ["lang"], "doc_id", 0.0, 600.0, 48, threshold=1.25
    )
    plan = executed_plan(out)
    assert has_broadcast_join(plan)
    assert not has_sort_merge_join(plan), plan


def test_chunk_dedup_report_two_phase_no_cartesian_no_python(spark, sf_dir):
    """p118: the ownership table is a partial-aggregated (two-phase)
    MIN on chunk_hash, the report a partial-aggregated per-doc tally;
    no CartesianProduct, no Python anywhere (the chunking is the same
    pure-Column projection p117 pins)."""
    from spear_spark.operators.dedup import chunk_dedup_report
    from spear_spark.plans import executed_plan, has_partial_aggregation
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_dedup_report(docs, "text", "doc_id", modulus=16)
    plan = executed_plan(out)
    assert has_partial_aggregation(plan)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_grade_dedup_report_no_new_corpus_scan(spark, sf_dir, monkeypatch):
    """p137 (VERDICT r11 item 6): swapping the edge rule from n-gram
    Jaccard to CDC chunk sharing must not add a corpus scan — the
    chunk table is checkpointed once and BOTH self-join sides read the
    materialized RDD, so the chunk-grade plan touches the parquet
    exactly as many times as the certified Jaccard-grade plan (and
    stays cartesian-free, Python-free).  connected_components consumes
    the pair set before the report is planned (a small graph's labels
    come back as a LocalTableScan), so the self-join is checked on the
    plan of the pairs it was handed."""
    import re

    from spear_spark.operators import dedup
    from spear_spark.plans import executed_plan
    from spear_spark.sources import load_table

    handed = []
    solve = dedup.connected_components

    def capture(pairs, *args, **kwargs):
        handed.append(pairs)
        return solve(pairs, *args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", capture)
    docs = load_table(spark, sf_dir, "documents")
    chunk = executed_plan(
        dedup.dedup_report(docs, "text", "doc_id", "source", chunk_grade=True)
    )
    jacc = executed_plan(
        dedup.dedup_report(docs, "text", "doc_id", "source", threshold=0.5)
    )
    chunk_pairs = executed_plan(handed[0])
    assert chunk.count("Scan parquet") == jacc.count("Scan parquet")
    for plan in (chunk, chunk_pairs):
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # both pair-join sides read the one checkpointed chunk table (the
    # same columns, exprIds aside), never the parquet again
    assert "Scan parquet" not in chunk_pairs
    scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", chunk_pairs)
    assert len(scans) == 2
    assert len({re.sub(r"#\d+L?", "", s) for s in scans}) == 1


def test_edit_distance_char_mode_banded_no_cartesian_no_python(spark, sf_dir):
    """p134: the char-gram candidate mode keeps the p03 banding shape —
    candidates come from the band-bucket equality join (never
    all-pairs) and the whole pipeline is JVM-side (char shingles are a
    transform over a position sequence, the verify the codegen
    levenshtein)."""
    from spear_spark.operators.dedup import edit_distance_pairs
    from spear_spark.plans import executed_plan
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = executed_plan(
        edit_distance_pairs(
            docs, "text", "doc_id", max_rel=0.3, bands=6, candidates="char"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan


def test_chunk_decontaminate_broadcasts_bench_side(spark, sf_dir):
    """p119: the benchmark chunk table (tiny by design) must broadcast
    into the hash-equality join — the corpus is scanned once with the
    ONLY shuffle being the final bounded (doc, bench) pair tally."""
    from spear_spark.operators.dedup import chunk_decontaminate
    from spear_spark.plans import (
        exchange_record_counts,
        executed_plan,
        has_broadcast_join,
        has_sort_merge_join,
    )
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    out = chunk_decontaminate(docs, bench, "text", "doc_id", min_tokens=3)
    plan = executed_plan(out)
    assert has_broadcast_join(plan)
    assert not has_sort_merge_join(plan)
    # exactly the pair-tally exchange carries data (partial-aggregated),
    # plus AQE's final single-partition read; no corpus-sized shuffle
    counts = exchange_record_counts(out)
    n_pairs = out.count()
    assert all(c <= max(n_pairs * 2, 64) for c in counts), counts


def test_dsir_bucket_tables_broadcast_not_sortmerge(spark, sf_dir):
    """p120: every bucket-statistics table is geometry-bounded at
    n_buckets rows and must come back as a broadcast join; the only
    sort-merge-eligible key would be the (doc, bucket) table and
    nothing may plan it as SMJ."""
    from spear_spark.operators.relevance import dsir_weights
    from spear_spark.plans import (
        executed_plan,
        has_broadcast_join,
        has_partial_aggregation,
        has_sort_merge_join,
    )
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_weights(docs, target, "text", "doc_id", n_buckets=4096)
    plan = executed_plan(out)
    assert has_broadcast_join(plan)
    assert not has_sort_merge_join(plan)
    assert has_partial_aggregation(plan)


def test_embedding_gram_exchange_is_partial_bounded(spark, sf_dir):
    """p124: the only exchange carries per-batch partial rows
    (<= dim(dim+1)/2 + dim per batch), never vectors; the merge is a
    two-phase SUM; no sort-merge join anywhere (the bounded sums
    broadcast back)."""
    from spear_spark.operators.similarity import embedding_gram_exact
    from spear_spark.plans import (
        exchange_record_counts,
        executed_plan,
        has_partial_aggregation,
        has_sort_merge_join,
    )
    from spear_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_gram_exact(emb, "embedding", dim=64)
    plan = executed_plan(out)
    assert has_partial_aggregation(plan)
    assert not has_sort_merge_join(plan)
    n_parts = emb.rdd.getNumPartitions()
    bound = (64 * 65 // 2 + 64) * max(n_parts, 1) * 2
    assert all(c <= bound for c in exchange_record_counts(out)), bound


def test_boilerplate_chunks_topk_is_take_ordered(spark, sf_dir):
    """p125: the top-k must plan as a TakeOrderedAndProject heap
    (per-partition prune before the single merge), never a global
    Sort of the chunk-hash table."""
    from spear_spark.operators.dedup import boilerplate_chunks
    from spear_spark.plans import executed_plan, has_take_ordered
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = boilerplate_chunks(docs, "text", "doc_id")
    plan = executed_plan(out)
    assert has_take_ordered(plan), plan


class TestWidenNarrowScan:
    """Laws for the shingle-pipeline input widener (round-12 review
    findings): node-name exchange detection (no literal spoofing, no
    double-shuffle on join outputs) and accurate width probing for
    bin-packed small files."""

    def test_join_output_is_not_rewidened(self, spark, sf_dir):
        from spear_spark.operators.dedup import _widen_narrow_scan
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        joined = docs.join(docs.select("doc_id"), "doc_id")
        assert _widen_narrow_scan(joined) is joined

    def test_data_literal_cannot_spoof_node_detection(self, spark, sf_dir):
        """A Filter whose literal contains 'Join' is still a narrow
        scan and must widen (the substring-match false positive)."""
        from spear_spark.operators.dedup import _widen_narrow_scan
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("text") != "Join our newsletter to Sort your Window"
        )
        target = spark.sparkContext.defaultParallelism
        out = _widen_narrow_scan(docs)
        assert out.rdd.getNumPartitions() >= min(target, 1)
        assert out is not docs  # widened (single-file scan < target)

    def test_bin_packed_small_files_still_widen(self, spark, tmp_path):
        """Spark bin-packs tiny files into shared partitions, so file
        COUNT must not gate the widen: more one-row files than cores but
        fewer scan partitions than cores — the widener must still fire.
        With ``files.minPartitionNum=1`` the split size is the whole
        input, so the files pack into fewer partitions than cores."""
        from spear_spark.operators.dedup import _widen_narrow_scan

        cores = spark.sparkContext.defaultParallelism
        src = str(tmp_path / "tiny")
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(16)], "doc_id long, text string"
        ).repartition(16).write.parquet(src)
        key = "spark.sql.files.minPartitionNum"
        previous = spark.conf.get(key, None)
        spark.conf.set(key, "1")
        try:
            df = spark.read.parquet(src)
            # more files than cores — the file-count proxy would skip
            assert len(df.inputFiles()) >= cores
            assert df.rdd.getNumPartitions() < cores
            out = _widen_narrow_scan(df)
            assert out.rdd.getNumPartitions() == cores
        finally:
            if previous is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, previous)


def test_score_auc_cell_histogram_shape(spark, sf_dir):
    """p142: the corpus must collapse to the score-value histogram via
    a two-phase (partial) aggregate BEFORE the window — the global
    cumulative pass runs over the bounded cell table, and the whole
    pipeline is JVM-side with no cartesian anywhere."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p142_score_auc"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_token_budget_select_partitioned_window_minimal_read(spark, sf_dir):
    """p143: the greedy prefix is ONE window partitioned by source
    (never a SinglePartition global sort — groups parallelize), the
    scan reads only the three consumed columns, and nothing drops to
    Python."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, read_schemas

    plan = executed_plan(OPS["p143_token_budget_select"][0](spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert set(read_schemas(plan)[0]) == {"doc_id", "source", "text"}
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_centroid_drift_one_scan_two_phase(spark, sf_dir):
    """p144: one posexplode (Generate) + a two-phase (label, dim)
    aggregate — the corpus is scanned EXACTLY once; the global row is
    a window over the cell table, never a second scan; pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p144_centroid_drift"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Generate" in plan
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_zipf_fit_vocab_window_one_scan(spark, sf_dir):
    """p145: the (lang, token) count is partial-aggregated (corpus
    collapses to the vocab table before the exchange), the rank window
    is partitioned by group (no SinglePartition), one corpus scan, no
    Python."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p145_zipf_fit"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_cross_split_neardup_keeps_banded_shape(spark, sf_dir):
    """p146: the split-audit wrapper must not degrade the certified
    p29 composition — candidates still come from the band-bucket
    equality join (no CartesianProduct), verification stays JVM-side,
    and the split join adds hash joins only."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan

    plan = executed_plan(OPS["p146_cross_split_neardup"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_threshold_sweep_cell_histogram_shape(spark, sf_dir):
    """p147: same posture as p142 — the corpus collapses to the
    score-value histogram (partial aggregate) before the descending
    cumulative window; JVM-side, cartesian-free."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p147_threshold_sweep"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_heaps_fit_vocab_collapse_one_scan(spark, sf_dir):
    """p148: the (source, token) count is partial-aggregated — the
    corpus collapses to the vocab table before any exchange; the OLS
    window runs over the |sources|-row point table; one corpus scan,
    pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p148_heaps_fit"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_source_quality_report_bounded_join(spark, sf_dir):
    """p149: the dashboard joins two BOUNDED aggregates on the group
    key — no corpus-sized join side, no cartesian, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p149_source_quality_report"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_lang_confusion_cell_collapse_one_scan(spark, sf_dir):
    """p151: the corpus collapses to <= |langs|^2 cells via a partial
    aggregate before any window; one corpus scan; pure JVM (lang_id is
    a Column when-chain, never Python)."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p151_lang_confusion"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_centroid_dispersion_one_scan_two_phase(spark, sf_dir):
    """p152: same posture as p144 — one posexplode + a partial
    (label, dim) aggregate, one corpus scan, cell-table-sized
    downstream, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p152_centroid_dispersion"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "Generate" in plan
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_dedup_method_report_composed_shape(spark, sf_dir):
    """p153: the three-grade forecast must not degrade its parts — no
    CartesianProduct (the near grade stays banded), no Python, and the
    token projection is checkpointed (ExistingRDD) rather than
    re-derived per grade."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan

    plan = executed_plan(OPS["p153_dedup_method_report"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "ExistingRDD" in plan


def test_score_calibrate_partitioned_window(spark, sf_dir):
    """p154: one window PARTITIONED by source (never a SinglePartition
    global sort), minimal read schema, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, read_schemas

    plan = executed_plan(OPS["p154_score_calibrate"][0](spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert set(read_schemas(plan)[0]) == {"doc_id", "source", "text"}
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_hard_negatives_broadcast_anchors_one_scan(spark, sf_dir):
    """p155: anchors broadcast into the score join (no sort-merge, no
    cartesian surprise beyond the intended broadcast nested loop over
    5 anchors), rank window partitioned per anchor, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_broadcast_join

    plan = executed_plan(OPS["p155_hard_negatives"][0](spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_knn_label_purity_broadcast_anchors(spark, sf_dir):
    """p156: same posture as p155 — the 20-anchor table broadcasts,
    the corpus is never on the build side, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_broadcast_join

    plan = executed_plan(OPS["p156_knn_label_purity"][0](spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_centroid_distance_matrix_pairs_over_cells(spark, sf_dir):
    """p157: the corpus collapses to the (label, dim) cell table via a
    partial aggregate; the pair join is over CELLS (both join sides
    aggregate outputs, reading the ONE lazily-checkpointed cell
    table), exactly ONE corpus scan, no cartesian, no Python, and the
    final aggregate two-phase."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(
        OPS["p157_centroid_distance_matrix"][0](spark, sf_dir)
    )
    assert has_partial_aggregation(plan)
    # the corpus scan happened ONCE, at checkpoint materialization —
    # the executed pair plan touches no parquet at all; both join
    # branches read the materialized cell RDD
    assert plan.count("Scan parquet") == 0
    assert plan.count("ExistingRDD") >= 2
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_fleiss_kappa_single_aggregate(spark, sf_dir):
    """p158: the committee verdict is ONE two-phase 3-sum aggregate —
    no per-category explosion, no window, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p158_fleiss_kappa"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_lsh_calibration_banded_no_cartesian(spark, sf_dir):
    """p159: candidates still come from the band-bucket equality join
    (never all-pairs); the estimate/exact joins are hash joins; the
    report aggregates a k+1-value grid; pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p159_lsh_calibration"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_journey_ngrams_user_windows_takeordered(spark, sf_dir):
    """p160: session flag + gram windows partition by user (never
    SinglePartition over events), the top-k is a TakeOrdered heap, the
    gram tally partial-aggregates, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import (
        executed_plan,
        has_partial_aggregation,
        has_take_ordered,
    )

    plan = executed_plan(OPS["p160_journey_ngrams"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert has_take_ordered(plan)
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_volume_autocorr_bounded_day_table(spark, sf_dir):
    """p161: the corpus collapses to the epoch-day count table via a
    partial aggregate inside the checkpoint job — the executed lag
    plan touches no parquet; both join sides read the materialized
    day RDD; no cartesian beyond the 7-literal lag explode, pure
    JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan

    plan = executed_plan(OPS["p161_volume_autocorr"][0](spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert plan.count("ExistingRDD") >= 2
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ivf_recall_curve_broadcast_probes(spark, sf_dir):
    """p162: anchors and cell-ranks broadcast into the candidate join
    (no sort-merge against the corpus), the probe fan-out is one
    explode (no per-depth rescans — exactly one parquet scan feeds the
    candidate side besides the truth ranker's), pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_broadcast_join

    plan = executed_plan(OPS["p162_ivf_recall_curve"][0](spark, sf_dir))
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") <= 2
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_readability_single_aggregate(spark, sf_dir):
    """p163: three regexp tallies in one projection + one two-phase
    aggregate on the group key; one scan; pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p163_readability"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_volume_gini_bounded_closed_form(spark, sf_dir):
    """p164: the corpus collapses to the source table via a partial
    aggregate; the rank window and closed-form sum run over that
    bounded table; one scan, pure JVM."""
    from spear_spark.operators.catalog import QUERIES as OPS
    from spear_spark.plans import executed_plan, has_partial_aggregation

    plan = executed_plan(OPS["p164_volume_gini"][0](spark, sf_dir))
    assert has_partial_aggregation(plan)
    assert plan.count("Scan parquet") == 1
    assert "EvalPython" not in plan and "InPandas" not in plan


# ---------------------------------------------------------------------------
# Catalog-wide standing regression net (round-13 VERDICT item 5): the
# per-query pins above prove individual shapes; this sweep proves the
# NEGATIVE globally — no headline query plans a single-partition
# shuffle unless it is on the explicit, justified allowlist below.
# ---------------------------------------------------------------------------

# Queries where an `Exchange SinglePartition` is a DELIBERATE bounded-
# table step: the exchange input is already collapsed by aggregation to
# a domain-bounded table (groups / histogram bins / buckets / sources /
# langs / sketch registers — never data-proportional rows), so the
# single task touches O(domain) rows regardless of corpus size.  The
# values are the maximum allowed count of SinglePartition exchanges in
# the query's physical plan.  Adding a NEW entry here requires the same
# justification — a SinglePartition exchange over raw rows is the
# single-task bottleneck this net exists to catch.
_SINGLE_PARTITION_ALLOWED = {
    # global closed-form / ECDF / rank steps over per-group aggregates
    "p164_volume_gini": 1,       # rank window over the |sources| table
    "p50_length_histogram": 1,   # cumulative share over |bins|
    "p52_corpus_surprisal": 1,   # corpus totals over |vocab-cap| rows
    "p94_rolling_densified": 1,  # gapfill spine over |days|
    "p86_hist_merge": 1,         # merged histogram over |bins|
    "p113_psi_drift": 1,         # PSI over |bins| per source-pair
    "p116_ks_drift": 2,          # two ECDF windows over |bins|
    "p120_dsir_weights": 2,      # importance ratios over |buckets|
    "p123_dsir_sample": 2,       # same bucket tables as p120
    "p124_embedding_gram": 1,    # Gram matrix rows = dim² (bounded)
    "p126_filter_agreement": 1,  # 2×2 agreement cells
    "p138_filter_agreement_matrix": 1,  # k×k kappa cells
    "p142_score_auc": 1,         # single-row AUC reduction
    "p147_threshold_sweep": 1,   # operating points over |thresholds|
    "p148_heaps_fit": 1,         # log-log fit over |sources| rows
    "p153_dedup_method_report": 4,  # three method grades + union report
    "p158_fleiss_kappa": 1,      # single-row kappa reduction
    "p27_tfidf_topterms": 1,     # idf over the capped term table
    "p28_bm25": 2,               # corpus avgdl + idf constants
    "p32_heavy_hitters": 1,      # CM sketch registers (fixed width)
    "p33_distinct_sketch": 1,    # HLL registers (fixed 2^p)
    "p36_token_typicality": 1,   # corpus token totals (capped vocab)
    "p41_skew_profile": 1,       # per-key histogram over |buckets|
    "p65_mix_reweight": 1,       # mix shares over |sources|
    "p66_quality_funnel": 1,     # funnel stages (fixed gate count)
    "p68_budget_waterfill": 1,   # waterfill over |sources|
    "p70_bigram_lm": 1,          # vocab-capped LM table
    "p106_dup_cluster_profile": 1,  # profile over cluster-size bins
    # relational headliners with a deliberate global step
    "q06_forecast_revenue": 1,   # regression over |months| aggregates
    "q22_top_supplier_cte": 1,   # global max over |suppliers| totals
    "q52_untapped_segments": 1,  # global avg scalar broadcast
    "q53_gapfill_hourly": 1,     # hour spine over |hours|
    "q55_promo_revenue": 1,      # single-row promo share
    "q56_disjunctive_join": 1,   # global scalar threshold
    "q58_dialect_extensions": 1, # global agg ORDER BY (dialect pin)
    "q64_important_stock": 1,    # global threshold scalar
    "q79_event_funnel": 1,       # funnel stages (fixed step count)
}


# Nodes that collapse cardinality to O(domain) before a global step:
# any aggregate flavor, or a limit/top-k (bounded by its limit).  The
# limit family needs all three spellings: a df.limit(n) over a raw scan
# plans GlobalLimit <- Exchange SinglePartition <- LocalLimit <- Scan,
# where the only bounding node BETWEEN the exchange and the scan is the
# LocalLimit (GlobalLimit sits above the exchange, outside the checked
# path); CollectLimit is the single-node form under a direct collect.
_BOUNDING_NODES = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "AggregateInPandas",
)


def _unbounded_single_partition_exchanges(plan: str) -> list[str]:
    """Exchanges in ``plan`` whose input is NOT provably bounded: an
    ``Exchange SinglePartition`` with a ``Scan parquet`` descendant
    reachable without crossing an aggregate/limit node.  Walks the
    treeString indentation (each ``+-``/``:-`` marker column is the
    node depth) and checks every exchange→scan PATH, so a join under
    the exchange with one aggregated side and one raw side is still
    flagged.  Non-parquet leaves (LocalTableScan, Range, checkpointed
    ``Scan ExistingRDD``) are bounded by construction here — the raw
    corpus only enters via parquet."""
    import re as _re

    offenders: list[str] = []
    # stack of (marker_col, is_exchange_spn, is_bounding, header)
    stack: list[tuple[int, bool, bool, str]] = []
    for line in plan.splitlines():
        m = _re.search(r"[+:]- ", line)
        if m:
            col = m.start()
            text = line[m.end() :]
        else:
            stripped = line.lstrip()
            indent = len(line) - len(stripped)
            text = stripped
            if indent == 0:
                # a column-0 marker-less line is a new tree root (the
                # main plan head or a "===== Subqueries =====" header) —
                # ancestors from the previous tree must not leak across
                col = -1
                stack.clear()
            else:
                # an INDENTED marker-less line is a section-local root
                # (AQE prints "== Final Plan ==" children this way);
                # its own children carry markers at exactly this indent
                # column, so record depth one left of them to stay on
                # the ancestor stack until a true sibling arrives
                col = indent - 1
        while stack and stack[-1][0] >= col >= 0:
            stack.pop()
        is_spn = text.startswith("Exchange SinglePartition")
        is_bounding = any(b in text for b in _BOUNDING_NODES)
        if "Scan parquet" in text:
            # for each SPN ancestor, require a bounding node strictly
            # between it and this scan on the ancestor path
            for i, (_c, spn, _b, hdr) in enumerate(stack):
                if spn and not any(b for (_c2, _s2, b, _h2) in stack[i + 1 :]):
                    offenders.append(hdr.strip()[:80])
        stack.append((col, is_spn, is_bounding, text))
    return offenders


def test_unbounded_spn_checker_self_test(spark, sf_dir):
    """The boundedness checker itself must flag a raw-scan-fed
    ``repartition(1)`` and clear an aggregate-bounded global step —
    otherwise the catalog sweep below could go vacuously green on a
    treeString format change."""
    from spear_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    raw = executed_plan(li.repartition(1).select("l_orderkey"))
    assert _unbounded_single_partition_exchanges(raw), (
        "checker failed to flag a raw-scan-fed SinglePartition exchange"
    )
    ok = executed_plan(li.groupBy("l_returnflag").count().repartition(1))
    assert ok.count("Exchange SinglePartition") == 1
    assert not _unbounded_single_partition_exchanges(ok), (
        "checker flagged an aggregate-bounded SinglePartition exchange"
    )
    # a limit is bounded too: df.limit(n) plans GlobalLimit <-
    # Exchange SinglePartition <- LocalLimit <- Scan, and the only
    # bounding node INSIDE the checked path is the LocalLimit
    lim = executed_plan(li.limit(5))
    if "Exchange SinglePartition" in lim:
        assert not _unbounded_single_partition_exchanges(lim), (
            "checker flagged a limit-bounded SinglePartition exchange"
        )
    # AQE's "== Final Plan ==" section prints its root node indented
    # WITHOUT a +- marker; the walker must still track it as an
    # ancestor (a format-shape regression here would silently
    # under-detect on executed plans)
    aqe = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=9]\n"
        "   +- Scan parquet [l_orderkey#1L]\n"
    )
    assert _unbounded_single_partition_exchanges(aqe), (
        "checker missed a raw-scan-fed exchange printed as an "
        "indented marker-less AQE section root"
    )


def test_catalog_sweep_no_unpinned_single_partition_exchange(spark, sf_dir):
    """Every catalog query's physical plan is free of SinglePartition
    shuffles except the justified bounded-table steps pinned above —
    and none of those may GROW extra single-partition stages.  Each
    ALLOWED exchange is additionally verified bounded structurally:
    an aggregate/limit node must sit between the exchange and every
    parquet scan beneath it, so a refactor cannot keep the pinned
    count while quietly feeding the single task raw corpus rows
    (round-13 VERDICT watch item).  This turns the individual plan
    pins into a standing net: a regression that serializes any
    headline query onto one task fails here even if its values still
    match the oracle.  (Planning only — no jobs run; the shape is
    data-size-independent.)"""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    bad: list[str] = []
    for name, fn in qs.items():
        plan = executed_plan(fn(spark, sf_dir))
        n = plan.count("Exchange SinglePartition")
        if n > _SINGLE_PARTITION_ALLOWED.get(name, 0):
            bad.append(f"{name}: {n} > {_SINGLE_PARTITION_ALLOWED.get(name, 0)}")
            continue
        unbounded = _unbounded_single_partition_exchanges(plan)
        if unbounded:
            bad.append(f"{name}: raw-scan-fed SinglePartition {unbounded}")
    assert not bad, (
        "unpinned or unbounded SinglePartition exchange(s) — either "
        "restore the partitioned plan or justify an allowlist entry "
        f"(and keep its input aggregate-bounded): {bad}"
    )


def test_semdedup_plan_shape_vectorized_verify(spark, sf_dir):
    """p109's round-13 shape, pinned: the within-cell verify is the
    per-cell gram matrix (FlatMapGroupsInPandas on the cell key — ONE
    corpus exchange feeds it), not the fold path's pair join (which
    carried a second corpus exchange plus a broadcast of the whole
    assigned table and evaluated the interpreted higher-order cosine
    per pair).  The assignment itself stays pure-Column at the
    catalog's k=8 (no Arrow stage before the grouping).  Pinned on the
    operator itself — the catalog entry hides this stage behind the
    materialize-before-sort checkpoint."""
    from spear_spark.operators.dedup import semdedup
    from spear_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = executed_plan(
        semdedup(emb, "embedding", "vec_id", k=8, threshold=0.35, tol=0.3,
                 max_iters=10)
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # exactly one Arrow stage: the gram verify (k=8 assignment must
    # remain the literal projection)
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "ArrowEvalPython" not in plan
