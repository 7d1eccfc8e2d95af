"""Optimizer experimentation harness — the "Catalyst playground" side
of the reference's purpose (spear exists "for experimenting ideas and
potential improvements to Spark SQL", ``/root/reference/README.md:13-20``).

The reference experiments by *writing* rules (``Optimizer.scala``); on
Spark the equivalent lever from Python is *controlling* Catalyst's
rules: ``spark.sql.optimizer.excludedRules`` disables named rules at
runtime, which lets you measure exactly what a rule buys on a given
query — the same what-if loop spear's rule suite supports, without a
JVM build.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

from spear_spark.plans import optimized_plan

# rules whose effect the engine depends on (SURVEY §4.1 mapping table)
RULES = {
    "push_filters": "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates",
    "prune_columns": "org.apache.spark.sql.catalyst.optimizer.ColumnPruning",
    "collapse_projects": "org.apache.spark.sql.catalyst.optimizer.CollapseProject",
    "constant_folding": "org.apache.spark.sql.catalyst.optimizer.ConstantFolding",
    "combine_filters": "org.apache.spark.sql.catalyst.optimizer.CombineFilters",
}


@contextmanager
def rules_excluded(spark: SparkSession, *rule_names: str):
    """Temporarily disable Catalyst optimizer rules (by RULES key or
    fully-qualified class name) — compare plans/runtimes with and
    without a rule to measure its effect."""
    resolved = [RULES.get(r, r) for r in rule_names]
    key = "spark.sql.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ",".join(resolved))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def plan_diff(df_factory, spark: SparkSession, *rule_names: str) -> tuple[str, str]:
    """(optimized plan with rules, optimized plan without) for the query
    built by ``df_factory()`` — the plan must be constructed inside each
    config regime, since exclusion applies at optimization time."""
    with_plan = optimized_plan(df_factory())
    with rules_excluded(spark, *rule_names):
        without_plan = optimized_plan(df_factory())
    return with_plan, without_plan
