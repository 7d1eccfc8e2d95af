"""Context — the engine entry point.

Reference parity: ``spear.Context``
(``/root/reference/spear-core/src/main/scala/spear/Context.scala:10-44``)
exposes ``sql``, ``table``, ``lift(Iterable[Product])``, ``range`` and
``values``; the catalog is an in-memory name → plan map
(``/root/reference/spear-core/src/main/scala/spear/Catalog.scala:18-33``).

Spark-first mapping: ``SparkSession`` *is* the context — parsing,
analysis, optimization and planning all happen inside Catalyst.  This
class only pins the session configuration for scale (AQE, broadcast
thresholds, Arrow) and adapts the reference's API names.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

from pyspark.sql import SparkSession

# Configuration pinned for the 100 TB design point:
# - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
#   so the same plan works at sf0.001 and at 100 TB.
# - broadcast threshold 64 MB: the TPC-H-ish dims (region/nation/
#   supplier/part/customer) stay broadcast-able far beyond sf100.
# - shuffle partitions: a *default* only — AQE coalesces down locally
#   and fans out on a real cluster (set spark.sql.shuffle.partitions
#   to ~2-3x total cores there).
# - Arrow on: every pandas_udf / mapInPandas path is Arrow-batched.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "spear_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned config.

    ``master`` defaults to whatever the environment provides (cluster
    deploy) and falls back to ``local[*]`` when unset.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in {**DEFAULT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class Context:
    """User-facing session handle mirroring ``spear.Context``.

    Like the reference (``Context.scala:12-16``), the engine-backing
    component can be booted from settings: when no ``spark`` session is
    passed, the :data:`spear_spark.config.SESSION_FACTORY` key names
    the factory callable (default :func:`get_spark`).  The reference
    selects its QueryCompiler class this way; here the compiler is
    Catalyst, so the selectable component is the session factory.
    The booted session's runtime conf then carries the settings'
    :data:`spear_spark.config.STAGING_MODE`, where
    :func:`spear_spark.config.stage` reads it."""

    def __init__(self, spark: SparkSession | None = None, settings: "Settings | None" = None):
        if spark is not None and settings is not None:
            # settings only select the session factory; with a session
            # already in hand they would be silently ignored (e.g. an
            # invalid SESSION_FACTORY path would never be validated)
            raise ValueError(
                "Context: pass either an explicit spark session or "
                "settings (which boot one via SESSION_FACTORY), not both"
            )
        if spark is None:
            from spear_spark.config import STAGING_MODE, Settings, resolve_session_factory

            spark = resolve_session_factory(settings or Settings())()
            if settings is not None:
                # config.stage reads the mode from the session conf, so
                # the setting reaches every staging site with no
                # operator signature change
                spark.conf.set(STAGING_MODE.name, settings[STAGING_MODE])
        self.spark = spark

    # -- entry points (Context.scala:18-40) --------------------------------

    def sql(self, query: str, dialect: str = "spear") -> "DataFrame":
        """SQL entry point (``Context.scala:22``). Spark SQL's dialect is
        a strict superset of spear's SQL-2006 subset except three grammar
        deltas handled by ``sql_dialect.to_spark_sql`` (bag ``UNION``,
        ``^`` rejection, ``TIMESTAMP(p)``).  Pass ``dialect='spark'`` to
        skip the shim."""
        from spear_spark.dataframe import DataFrame
        from spear_spark.sql_dialect import to_spark_sql

        if dialect == "spear":
            query = to_spark_sql(query)
        return DataFrame(self.spark.sql(query))

    def table(self, name: str) -> "DataFrame":
        """Catalog lookup (``Context.scala:24-25``)."""
        from spear_spark.dataframe import DataFrame

        return DataFrame(self.spark.table(name))

    def lift(self, data: Iterable[Any], schema: Any = None) -> "DataFrame":
        """Lift local rows into a relation (``Context.scala:27-30``,
        ``LocalRelation`` at ``LogicalPlan.scala:93-113``).  Schema
        inference from Python objects replaces the reference's
        case-class reflection (``reflection/package.scala:9-64``)."""
        from spear_spark.dataframe import DataFrame

        return DataFrame(self.spark.createDataFrame(data, schema=schema))

    def range(self, start: int, end: int | None = None, step: int = 1) -> "DataFrame":
        """``Context.range`` (``Context.scala:32-40``)."""
        from spear_spark.dataframe import DataFrame

        if end is None:
            start, end = 0, start
        return DataFrame(self.spark.range(start, end, step))

    def values(self, *exprs: Any) -> "DataFrame":
        """FROM-less SELECT over the single-row relation
        (``Context.scala:18-20``, ``SingleRowRelation`` at
        ``LogicalPlan.scala:89-91``).  Spark's ``OneRowRelation`` backs
        ``spark.range(1).select(...)``."""
        from pyspark.sql import functions as F

        from spear_spark.dataframe import DataFrame

        cols = [e if not isinstance(e, (int, float, str, bool)) else F.lit(e) for e in exprs]
        return DataFrame(self.spark.range(1).select(*cols))

    # -- data sources (beyond the reference: it has no file formats,
    #    SURVEY.md §2.3; Spark gives these free) ---------------------------

    def read_parquet(self, path: str) -> "DataFrame":
        from spear_spark.dataframe import DataFrame
        from spear_spark.sources import read_parquet

        return DataFrame(read_parquet(self.spark, path))

    def read_csv(self, path: str, **options: Any) -> "DataFrame":
        from spear_spark.dataframe import DataFrame

        return DataFrame(self.spark.read.options(**options).csv(path))

    def read_json(self, path: str, **options: Any) -> "DataFrame":
        from spear_spark.dataframe import DataFrame

        return DataFrame(self.spark.read.options(**options).json(path))
