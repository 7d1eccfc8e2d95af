"""Sources + scale-machinery tests: file-format round-trips (the
reference has zero connectors, SURVEY §2.3 — Spark gives them free),
bucketed shuffle-free joins, salted skew joins, and the parquet schema
cache behind ``sources.read_parquet``."""

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from spear_spark import sources
from spear_spark.operators.skew import salted_join
from spear_spark.plans import executed_plan
from spear_spark.relational import QUERIES
from spear_spark.sources import TABLES, load_table, read_parquet, write_bucketed

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spear_spark")


@pytest.fixture
def empty_schema_cache(monkeypatch):
    monkeypatch.setattr(sources, "_SCHEMAS", {})


def test_parquet_csv_json_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    expected = sorted(tuple(r) for r in nation.collect())

    pq = str(tmp_path / "n.parquet")
    nation.write.mode("overwrite").parquet(pq)
    assert sorted(tuple(r) for r in spark.read.parquet(pq).collect()) == expected

    csv = str(tmp_path / "n.csv")
    nation.write.mode("overwrite").option("header", True).csv(csv)
    got_csv = spark.read.option("header", True).option("inferSchema", True).csv(csv)
    assert sorted(tuple(r) for r in got_csv.collect()) == expected

    js = str(tmp_path / "n.json")
    nation.write.mode("overwrite").json(js)
    got_js = spark.read.json(js).select("n_nationkey", "n_name", "n_regionkey")
    assert sorted(tuple(r) for r in got_js.collect()) == expected


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Partition-by write → partition pruning: the filtered read lists
    only the matching directory."""
    cust = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_by_seg")
    cust.write.mode("overwrite").partitionBy("c_mktsegment").parquet(path)
    got = spark.read.parquet(path).filter(F.col("c_mktsegment") == "BUILDING")
    plan = executed_plan(got)
    assert "PartitionFilters" in plan
    assert got.count() == cust.filter(F.col("c_mktsegment") == "BUILDING").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key by the same bucket count →
    the sort-merge join zips bucket files with NO shuffle exchange —
    the shape that kills the dominant lineitem ⋈ orders shuffle at
    100 TB (sources.write_bucketed)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(
            orders, "orders_b", "o_orderkey", num_buckets=8,
            path=str(tmp_path / "orders_b"),
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "li_b", "o_orderkey", 8,
            path=str(tmp_path / "li_b"),
        )
        joined = spark.table("orders_b").join(spark.table("li_b"), "o_orderkey")
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # zero shuffle
        assert joined.count() == orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.col("user_id") % 3)
    )
    plain = ev.join(users, "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("tier").alias("t")
    ).collect()[0]
    salted = salted_join(ev, users, "user_id", salt=4).agg(
        F.count(F.lit(1)).alias("n"), F.sum("tier").alias("t")
    ).collect()[0]
    assert (plain.n, plain.t) == (salted.n, salted.t)


def test_events_ts_normalized_to_ltz(spark, sf_dir):
    """Regression (CORRECTNESS_r03 p45/p46, BENCH_r03): testdata parquet
    written with isAdjustedToUTC=false is inferred as TIMESTAMP_NTZ, which
    unix_micros() rejects.  load_table must normalize ts to TIMESTAMP with
    the epoch DuckDB's epoch_us(ts) sees, independent of session timezone."""
    import duckdb
    from pyspark.sql.types import TimestampType

    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)

    got = dict(
        ev.orderBy("event_id")
        .limit(5)
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    path = os.path.join(sf_dir, "events.parquet")
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) FROM '{path}' "
            "ORDER BY event_id LIMIT 5"
        ).fetchall()
    )
    assert got == want


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout (write.partitionBy) must surface a
    PartitionFilters-only scan for predicates on the partition column —
    at 100 TB this is the difference between listing one directory and
    scanning the table."""
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_priority")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)

    got = (
        spark.read.parquet(path)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in want.collect())

    plan = executed_plan(got)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan
    # the partition predicate must NOT degrade to a row-level data filter
    assert "o_orderpriority" not in scan.split("DataFilters:")[1].split("]")[0]


def test_merge_schema_evolution(spark, sf_dir, tmp_path):
    """Files written by successive pipeline versions (new column added)
    must stay queryable as one relation: old files null-fill the new
    column under mergeSchema."""
    from spear_spark.sources import read_merged_schema

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "evolving")
    nation.select("n_nationkey", "n_name").write.parquet(path + "/v1")
    nation.select(
        "n_nationkey", "n_name", F.lit("2026-01-01").alias("ingest_date")
    ).write.parquet(path + "/v2")

    got = read_merged_schema(spark, path)
    assert set(got.columns) == {"n_nationkey", "n_name", "ingest_date"}
    n = nation.count()
    assert got.count() == 2 * n
    assert got.filter(F.col("ingest_date").isNull()).count() == n


def test_compact_files(spark, sf_dir, tmp_path):
    """64 tiny files -> a handful of target-sized files, rows exact."""
    import glob

    from spear_spark.sources import compact_files

    orders = load_table(spark, sf_dir, "orders")
    small = str(tmp_path / "small")
    orders.repartition(64).write.parquet(small)
    assert len(glob.glob(small + "/part-*.parquet")) == 64

    out = str(tmp_path / "compact")
    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(small + "/part-*.parquet")
    )
    n = compact_files(spark, small, out, target_file_bytes=max(1, total // 3))
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == n <= 8
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == sorted(
        tuple(r) for r in orders.collect()
    )


def test_compact_files_refuses_in_place(spark, sf_dir, tmp_path):
    """out_path == path would lazily overwrite-then-read: the guard
    must fire BEFORE any delete, leaving the input intact.  Path
    aliases (trailing slash, file:// scheme) must also be caught —
    the comparison is on the FS-qualified path."""
    import glob

    import pytest as _pytest

    from spear_spark.sources import compact_files, load_table as _lt

    small = str(tmp_path / "inplace")
    _lt(spark, sf_dir, "nation").write.parquet(small)
    before = sorted(glob.glob(small + "/part-*.parquet"))
    for alias in (small, small + "/", "file://" + small):
        with _pytest.raises(ValueError, match="out_path == path"):
            compact_files(spark, small, alias)
    assert sorted(glob.glob(small + "/part-*.parquet")) == before


def test_ntz_fallback_is_session_timezone_proof(spark, tmp_path):
    """load_table's NTZ fallback (ntz_as_utc_instant) must yield the
    same instants whatever spark.sql.session.timeZone is — the
    driver's session is not ours to configure.  to_utc_timestamp
    would NOT pass this (it casts NTZ->TIMESTAMP through the session
    zone first); convert_timezone is NTZ-native."""
    import datetime as dt

    from pyspark.sql.types import StructField, StructType, TimestampNTZType

    from spear_spark.sources import ntz_as_utc_instant

    rows = [(dt.datetime(2024, 3, 1, 12, 30, 45),), (dt.datetime(2024, 7, 4, 0, 0, 1),)]
    schema = StructType([StructField("ts", TimestampNTZType())])
    path = str(tmp_path / "ntz")
    spark.createDataFrame(rows, schema).write.parquet(path)

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        epochs = {}
        for tz in ("UTC", "Asia/Shanghai", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            ntz = spark.read.parquet(path)  # NTZ-typed (inference default on)
            assert ntz.schema["ts"].dataType.typeName() == "timestamp_ntz"
            fixed = ntz.select(ntz_as_utc_instant(spark, "ts").alias("ts"))
            assert fixed.schema["ts"].dataType.typeName() == "timestamp"
            epochs[tz] = sorted(r[0] for r in fixed.select(F.unix_micros("ts")).collect())
        assert len(set(map(tuple, epochs.values()))) == 1, epochs
        # wall clock 12:30:45 pinned to a UTC instant
        assert epochs["UTC"][0] == int(
            dt.datetime(2024, 3, 1, 12, 30, 45, tzinfo=dt.timezone.utc).timestamp()
            * 1_000_000
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


# -- parquet schema cache (sources.read_parquet) ------------------------------


def test_no_raw_parquet_reads_outside_read_parquet():
    """AST, not grep: every ``<x>.read.parquet(...)`` in the package is
    inside ``sources.read_parquet``.  Option chains
    (``read.option(...).parquet``, as in ``read_merged_schema``) are
    not the plain read this guards."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(Path(path).read_text(), path)
            allowed = set()
            if os.path.relpath(path, PKG) == os.path.join("sources", "__init__.py"):
                fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "read_parquet")
                allowed = {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "read"
                    and id(node) not in allowed
                ):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


def test_warm_load_table_runs_no_job(spark, sf_dir, empty_schema_cache, with_jobs):
    for name in TABLES:
        cold, cold_jobs = with_jobs(lambda: load_table(spark, sf_dir, name))
        warm, warm_jobs = with_jobs(lambda: load_table(spark, sf_dir, name))
        assert (cold_jobs >= 1, warm_jobs) == (True, 0), name
        assert warm.schema == cold.schema, name
        # the raw read, under the confs load_table set, nullability included
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, name


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    got = read_parquet(spark, path)
    assert got.columns == ["a", "b"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x"), (2, "y")]


def test_overwritten_directory_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(2).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(2).withColumn("x", F.lit("s")).write.mode("overwrite").parquet(path)
    assert read_parquet(spark, path).columns == ["id", "x"]


def test_appended_directory_is_inferred_afresh(spark, tmp_path):
    """Under mergeSchema the appended file's new column joins the
    inferred schema; the conf is the same for both reads, so only the
    fingerprint can tell them apart."""
    path = str(tmp_path / "a")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        spark.range(2).write.parquet(path)
        assert read_parquet(spark, path).columns == ["id"]
        spark.range(2).withColumn("y", F.lit(1.0)).write.mode("append").parquet(path)
        got = read_parquet(spark, path)
        assert got.schema == spark.read.parquet(path).schema
        assert got.columns == ["id", "y"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_schema_conf_change_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    assert read_parquet(spark, path).schema["b"].dataType == BinaryType()
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert read_parquet(spark, path).schema["b"].dataType == StringType()
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert read_parquet(spark, path).schema["b"].dataType == BinaryType()


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """The cache holds schemas, not DataFrames: two loads are distinct
    relations, so column references pick a side."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    got = a.join(b, a["n_regionkey"] == b["n_nationkey"]).select(a["n_name"], b["n_name"])
    rows = a.select("n_nationkey", "n_regionkey", "n_name").collect()
    names = {r.n_nationkey: r.n_name for r in rows}
    want = sorted((r.n_name, names[r.n_regionkey]) for r in rows if r.n_regionkey in names)
    assert sorted(tuple(r) for r in got.collect()) == want


@pytest.mark.parametrize(
    "name",
    ["q28_word_counts", "q43_multigrain_rollup", "q77_group_by_all", "q65_parts_supplier_relationship"],
)
def test_workload_query_rebuild_runs_no_job(spark, sf_dir, name, with_jobs):
    """Construction-jobs census: a second build of a benchmark query,
    with no action, launches no Spark job."""
    build = QUERIES[name][0]
    build(spark, sf_dir)
    _, jobs = with_jobs(lambda: build(spark, sf_dir))
    assert jobs == 0
