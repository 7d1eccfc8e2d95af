"""Optimizer what-if experiments: demonstrate (and pin) what each
Catalyst rule the engine relies on actually does to our plans —
the runnable version of SURVEY §4.1's spear-rule → Catalyst mapping."""

from pyspark.sql import functions as F

from spear_spark.plans import executed_plan, pushed_filters, read_schemas
from spear_spark.plans.experiments import plan_diff, rules_excluded
from spear_spark.sources import load_table


def test_filter_pushdown_rule_effect(spark, sf_dir):
    """PushDownPredicates ≡ spear's PushFilterThroughProject
    (Optimizer.scala:214-219).  Without it the filter stays above the
    project instead of reaching the scan."""

    def q():
        li = load_table(spark, sf_dir, "lineitem")
        return li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 45)

    with_rule, without_rule = plan_diff(q, spark, "push_filters")
    # with the rule: no standalone Filter above the relation (pushed)
    assert with_rule.count("Filter") <= without_rule.count("Filter") or (
        "PushedFilters" in with_rule
    )


def test_column_pruning_rule_effect(spark, sf_dir):
    """ColumnPruning ≡ spear's PushProjectThroughLimit family
    (Optimizer.scala:274-279) generalized: without it the scan reads
    all 11 lineitem columns for a 2-column query."""

    def q():
        li = load_table(spark, sf_dir, "lineitem")
        return li.select("l_orderkey", "l_quantity").limit(10)

    # executed (not just optimized) plan shows ReadSchema
    pruned = read_schemas(executed_plan(q()))[0]
    assert set(pruned) == {"l_orderkey", "l_quantity"}


def test_constant_folding_rule_effect(spark, sf_dir):
    """ConstantFolding ≡ spear's FoldConstant (Optimizer.scala:54-61):
    1+2+3 collapses to a literal in the optimized plan."""

    def q():
        return spark.range(1).select((F.lit(1) + F.lit(2) + F.lit(3)).alias("x"))

    with_rule, without_rule = plan_diff(q, spark, "constant_folding")
    assert "6" in with_rule
    assert "(1 + 2)" in without_rule or "1 + 2" in without_rule


def test_combine_filters_rule_effect(spark, sf_dir):
    """CombineFilters ≡ spear's MergeFilters (Optimizer.scala:195-199):
    chained filters merge into one conjunction."""

    def q():
        li = load_table(spark, sf_dir, "orders")
        return li.filter(F.col("o_orderkey") > 10).filter(F.col("o_custkey") > 5)

    with_rule, _ = plan_diff(q, spark, "combine_filters")
    # merged: a single Filter node carrying both conjuncts
    assert with_rule.count("Filter (") + with_rule.count("Filter [") <= 1 or (
        with_rule.count("Filter") - with_rule.count("PushedFilters") <= 1
    )


def test_exclusion_is_scoped(spark, sf_dir):
    """The context manager restores the previous exclusion config."""
    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    with rules_excluded(spark, "constant_folding"):
        assert "ConstantFolding" in spark.conf.get(key)
    assert spark.conf.get(key, None) == before


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB skew story is AQE's, not ours — verify it actually
    fires: a join where one key holds 300k of 300.2k rows must come
    back with SortMergeJoin(skew=true) + an 'AQEShuffleRead …skewed'
    child once thresholds are scaled to the test data.  (collect(), not
    count()/noop-write — only the DataFrame's OWN query execution gets
    finalized by AQE; a derived action's plan stays isFinalPlan=false.)
    Salting is therefore reserved for skewed AGGREGATES; skewed joins
    ride the built-in runtime re-plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(300_000).select(F.lit(0).alias("k"), F.col("id").alias("a"))
        cold = spark.range(1, 200).select(F.col("id").alias("k"), F.col("id").alias("a"))
        left = hot.unionByName(cold).withColumn("pad", F.md5(F.col("a").cast("string")))
        right = spark.range(0, 200).select(F.col("id").alias("k"), F.col("id").alias("b"))
        j = left.join(right, "k").select("k", "a", "b", "pad")
        assert len(j.collect()) == 300_199
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # the AQEShuffleRead actually split it
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
