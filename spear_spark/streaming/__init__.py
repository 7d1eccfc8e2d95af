"""Structured Streaming extensions over the events table.

The reference has no streaming at all (SURVEY §2.7); these are
north-star extensions built the Spark-idiomatic way: ``readStream`` →
declarative transforms → ``writeStream``, watermarks for late data,
built-in tumbling/session windows for stateful aggregation (no custom
state management — ``window``/``session_window`` aggregations are
JVM-native and incremental).

Scale notes:
* the file source scales by listing — in production this is Kafka/
  Kinesis with receiver parallelism = topic partitions;
* watermark delay bounds state size: state per (window × event_type)
  key is dropped once the watermark passes the window end;
* session windows keep one state row per active (user, session) —
  memory is O(active users), not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Sketch geometry MUST match the batch family the streamed cells feed
# (cm_rolling / hll_rolling merge streamed and batch-built tables):
# import the constants rather than repeating literals so a batch-side
# change can never silently desync the stream producers.
from spear_spark.operators.sketch import CM_DEPTH, CM_WIDTH, HLL_M
from spear_spark.sources import read_parquet

# legacy events.parquet physical schema (older testdata stored ts as
# TIMESTAMP(NANOS), which Spark reads as long under nanosAsLong —
# converted to µs in stream_events when present)
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events directory with the explicit
    schema streaming requires (no inference on streams).

    The schema comes from a batch footer read (inferred once per
    unchanged file by :func:`spear_spark.sources.read_parquet`) under
    the same reader conf as :func:`spear_spark.sources.load_table` (nanos→long,
    NTZ inference off), so the stream sees the identical ts type the
    batch path does regardless of which writer produced the files —
    TIMESTAMP(NANOS) testdata arrives as long (converted to µs below),
    TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    # the file source lists a directory; events is a single file, so
    # point at the dir and glob-filter (in production: a landing dir
    # receiving new files, or Kafka)
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(schema["ts"].dataType, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def hourly_rollup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window rollup with late-data handling: counts + value
    sum per (hour, event_type).  The streaming twin of the batch
    q24_hourly_rollup query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("hour_ts"), "event_type", "n", "value_sum")
    )


def sessionize_stream(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user: built-in ``session_window`` keeps the
    stateful merge logic JVM-side (vs hand-rolled
    applyInPandasWithState) — sessions close after ``gap`` of
    inactivity."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str | None = None
) -> DataFrame:
    """Streaming exact dedup.

    * ``watermark=None`` → ``dropDuplicates``: exact global dedup with
      unbounded state — correct for backfills / bounded streams.
    * ``watermark='1 hour'`` → ``dropDuplicatesWithinWatermark``: state
      is dropped once the watermark passes, bounding memory — the 24/7
      production shape (duplicates arriving farther apart than the
      watermark both survive, the documented trade-off).
    """
    if watermark is None:
        return events.dropDuplicates(keys)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_USER_STATS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("maxv", DoubleType()),
    ]
)


def running_user_stats(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for per-key streaming logic the built-in windowed
    aggregations can't express (running totals that never close, custom
    eviction, cross-batch detectors).  Emits one updated
    (user_id, n_events, value_sum, max_value) row per key per batch.

    State design for 100 TB / unbounded keys:
    * state per key is 3 scalars (24 bytes) — memory is O(active users),
      like the built-in session window;
    * the value sum is kept as integer cents in state, so the running
      total is exact and independent of batch boundaries and arrival
      order (a float accumulator would drift per partitioning — the
      same convention as the batch DECIMAL casts);
    * ``timeout='ProcessingTimeTimeout'`` + ``state.setTimeoutDuration``
      is the eviction hook for truly unbounded key spaces; NoTimeout
      keeps lifetime state (backfill / bounded-key shape).

    Batch twin (the convergence contract, tested):
    ``events.groupBy(user_id).agg(count, sum(cents)/100, max(value))``.
    """
    import pandas as pd  # local import: streaming module stays importable without pandas

    def update(key, pdfs, state):
        if state.exists:
            n, cents, maxv = state.get
        else:
            n, cents, maxv = 0, 0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            # 2-decimal values → exact integer cents (int64 sum, order-free)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
            if len(pdf):
                maxv = max(maxv, float(pdf["value"].max()))
        state.update((n, cents, maxv))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [cents / 100.0],
                "max_value": [maxv],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_conf = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
    }[timeout]
    return events.groupBy("user_id").applyInPandasWithState(
        update, USER_STATS_SCHEMA, _USER_STATS_STATE_SCHEMA, "update", timeout_conf
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drain everything currently available into an in-memory table
    (test/backfill harness; production sinks are kafka/delta/parquet).
    ``complete`` suits aggregations; stateless transforms (projections,
    stream-static joins) require ``append``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def error_click_pairs_stream(
    events: DataFrame, lookback: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each error paired with every click
    by the same user in the preceding ``lookback`` — the streaming twin
    of the batch as-of join (q29), minus the 'last only' reduction.

    Both sides carry watermarks and the join condition bounds event
    time from BOTH directions, so Spark can expire buffered rows: state
    per side is O(events within watermark + lookback), not unbounded.
    The join key (user) hash-partitions state across the cluster."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select("event_id", F.col("user_id").alias("e_user"), F.col("ts").alias("error_ts"))
        .withWatermark("error_ts", watermark)
    )
    cond = F.expr(
        f"c_user = e_user AND click_ts <= error_ts "
        f"AND click_ts >= error_ts - INTERVAL {lookback}"
    )
    return errors.join(clicks, cond, "inner").select(
        "event_id", F.col("e_user").alias("user_id"), "error_ts", "click_ts"
    )


def write_batches_idempotent(stream_df: DataFrame, path: str, query_name: str):
    """foreachBatch parquet sink with exactly-once-per-batch semantics:
    each micro-batch writes to its own ``_batch_id=<id>`` partition with
    dynamic partition overwrite, so a replayed batch (restart between
    sink write and checkpoint commit — the at-least-once window every
    foreachBatch sink has) OVERWRITES its own partition instead of
    appending duplicates.  Readers see ``path`` as ordinary partitioned
    parquet and prune on ``_batch_id`` like any partition column.

    Intended for append-only streams (projections/filters/joins):
    batches partition the rows, so replay-overwrite is exactly-once.
    An *aggregation* in append output mode withholds unexpired windows
    (and in update mode re-emits keys across batches) — sink those to a
    transactional table or accept last-batch-wins reads instead.

    Scale: one write job per micro-batch, parallel across the batch's
    partitions; the overwrite touches only the replayed batch's
    directory.  (Production alternative: transactional table formats —
    same idea, ledger instead of directory.)"""
    from pyspark.sql import functions as F

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def count_min_stream(
    events: DataFrame, key: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Streaming Count-Min sketch over a key column: continuous heavy-
    hitter profiling with state BOUNDED BY CONSTRUCTION at depth*width
    cells — the rare streaming aggregation that needs no watermark to
    stay finite, because the grouped domain itself is capped.  Emits
    (row, bucket, cnt) updates; counts are monotone, so a reader takes
    the latest (or max) per cell and probes it exactly like the batch
    sketch (:func:`spear_spark.operators.sketch.cm_heavy_hitters`).
    Batch-equivalence: draining a bounded stream yields cell-for-cell
    the batch sketch of the same rows (tested)."""
    from spear_spark.operators.sketch import _cm_bucket

    k = F.col(key).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(k, r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        events.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hll_register_stream(events: DataFrame, key: str, m: int = 64) -> DataFrame:
    """Streaming HLL register table over a key column: like
    :func:`count_min_stream`, state is bounded by construction (m
    register rows, merge-by-MAX), so continuous distinct-count
    profiling needs no watermark.  Drain, then feed the registers to
    the same estimate formula as the batch sketch
    (:func:`spear_spark.operators.sketch.hll_distinct`); register
    maxima are monotone, so the latest update per register is the
    answer."""
    from spear_spark.operators.dedup import h64

    hv = h64(F.col(key).cast("string"))
    rest = F.shiftright(hv, 6) if m == 64 else None
    assert rest is not None, "streaming variant pins m=64 (shift by 6)"
    lowbit = rest.bitwiseAND(-rest)
    rho = F.when(rest == 0, F.lit(40)).otherwise(
        F.least(F.bit_count(lowbit - 1) + 1, F.lit(40))
    )
    return (
        events.select((hv % m).alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def bloom_words_stream(
    events: DataFrame,
    key: str,
    n_bits: int = 1 << 16,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Streaming Bloom word table over a key column — the continuous
    twin of :func:`spear_spark.operators.dedup.bloom_build`, closing
    the sketch family (CM counts, HLL registers, Bloom membership).
    Like the other two, state is bounded BY CONSTRUCTION (≤ n_bits/64
    word rows, merged by BIT_OR — monotone, so complete-mode output's
    latest update per word is the answer) and needs no watermark.
    Drain, append the (n_bits, k, seed) sentinel, and the result
    probes with the SAME ``bloom_probe`` as a batch-built filter —
    the membership set only grows as the stream runs, so a probe
    stays false-negative-free for every key seen up to the drain."""
    from spear_spark.operators.dedup import _bloom_words

    return _bloom_words(events, key, n_bits, k, seed)


def _cdc_versions(state_path: str) -> list[int]:
    """All committed state versions under ``state_path`` — the ONE
    place that parses the ``v=<n>`` directory layout (the reader takes
    max(); the merge takes max(v < batch_id))."""
    import glob
    import os

    vs = []
    for p in glob.glob(os.path.join(state_path, "v=*")):
        try:
            vs.append(int(os.path.basename(p).split("=", 1)[1]))
        except ValueError:
            continue
    return vs


def _latest_cdc_version(state_path: str) -> int | None:
    vs = _cdc_versions(state_path)
    return max(vs) if vs else None


def read_cdc_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Read the latest compacted CDC state written by
    :func:`cdc_state_stream` (None before the first batch commits).
    Tombstone rows are persisted in the state files (they must survive
    so late-arriving older upserts cannot resurrect deleted keys) and
    filtered here, at the read boundary."""
    import os

    v = _latest_cdc_version(state_path)
    if v is None:
        return None
    df = read_parquet(spark, os.path.join(state_path, f"v={v}"))
    if "_tombstone" not in df.columns:  # pre-tombstone format: live rows only
        return df
    return df.filter(~F.col("_tombstone")).drop("_tombstone")


def cdc_state_stream(
    changes: DataFrame,
    state_path: str,
    key_cols: list,
    order_cols: list,
    payload_cols: list,
    delete_col: str,
    query_name: str,
    checkpoint_path: str | None = None,
):
    """Streaming changelog compaction — the incremental twin of
    ``operators.cdc.cdc_latest_state``: each micro-batch is compacted
    with tombstones kept, merged latest-wins against the newest state
    version STRICTLY BELOW this batch id, and written (tombstones and
    all) to ``state_path/v=<batch_id>``.

    Correctness invariants (each one covers a reviewed failure mode):

    * replay safety — the merge base is ``max(v < batch_id)``, never
      the globally-latest version, so a replayed batch N (crash between
      state write and checkpoint commit) re-merges v<N with batch N and
      overwrites its own v=N byte-identically instead of wiping it;
    * tombstone persistence — deletes stay in the stored state as
      ``_tombstone`` rows, so a late-arriving upsert OLDER than an
      applied delete loses the max_by merge instead of resurrecting
      the key (readers filter tombstones, :func:`read_cdc_state`);
      production compaction would TTL tombstones past the source's
      max lateness, exactly like Kafka compacted-topic delete
      retention;
    * durable batch ids — the checkpoint location defaults to
      ``state_path/_checkpoint`` so restarts CONTINUE the batch-id
      sequence; without it every run would restart at batch 0 and
      corrupt existing state.

    Scale: per batch, one max_by aggregate over (batch ∪ previous
    state); state is re-written per version for the local file sink —
    at warehouse scale the same merge is one ``MERGE INTO`` on a
    transactional table and the compaction aggregate is unchanged.
    ``delete_col`` names a BOOLEAN column already on the stream (an
    expression would not survive the micro-batch boundary
    deterministically).
    """
    import os

    from spear_spark.operators.cdc import cdc_latest_state

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_latest = cdc_latest_state(
            batch_df,
            key_cols,
            order_cols,
            payload_cols,
            delete_expr=F.col(delete_col),
            keep_tombstones=True,
        )
        prev_vs = [v for v in _cdc_versions(state_path) if v < batch_id]
        if prev_vs:
            prev = read_parquet(spark, os.path.join(state_path, f"v={max(prev_vs)}"))
            if "_tombstone" not in prev.columns:
                # state written by the pre-tombstone format stored live
                # rows only, so _tombstone=false is a faithful migration
                prev = prev.withColumn("_tombstone", F.lit(False))
            merged_in = prev.unionByName(batch_latest)
        else:  # first batch (or replay of it): no earlier state exists
            merged_in = batch_latest
        state = cdc_latest_state(
            merged_in,
            key_cols,
            order_cols,
            payload_cols,
            delete_expr=F.col("_tombstone"),
            keep_tombstones=True,
        )
        state.write.mode("overwrite").parquet(
            os.path.join(state_path, f"v={batch_id}")
        )

    return (
        changes.writeStream.foreachBatch(merge)
        .queryName(query_name)
        .option(
            "checkpointLocation",
            checkpoint_path or os.path.join(state_path, "_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )


def sliding_rollup_stream(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """SLIDING-window rollup (size > slide ⇒ overlapping windows —
    each event contributes to size/slide windows): counts + exact
    decimal value sums per (window, event_type).  The trailing-metric
    twin of the tumbling q24 rollup; state per key expires as the
    watermark passes each window end, so memory is
    O(active windows × types) = O(size/slide × types) per time unit,
    independent of event volume.

    The window multiplication happens in the JVM Expand operator
    before the partial aggregate — the shuffle carries (window, type)
    partials, not size/slide copies of the events.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", size, slide).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type", "n", "value_sum",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — attach slowly-changing dimension
    attributes (user profile, document metadata, model registry row) to
    every streaming event.  The canonical lookup pattern Structured
    Streaming supports natively: the static side is re-read per
    micro-batch (so a refreshed dim table takes effect on the next
    batch without restart) and the join is stateless — no watermark, no
    state store, unlike stream-stream joins.  SURVEY §2.3 extension —
    the reference has no streaming surface.

    Scale shape: Spark broadcasts the static side when it fits
    (dim tables usually do); a big dim falls back to a per-batch
    shuffle join — still stateless.  ``how='left'`` keeps events with
    no dim row (nulls) rather than dropping them mid-pipeline;
    ``inner`` filters to enrichable events."""
    if how not in ("left", "inner"):
        raise ValueError("enrich_stream: how must be 'left' or 'inner'")
    return events.join(dim, key, how)


def daily_cm_cells_stream(
    events: DataFrame,
    key: str,
    ts_col: str = "ts",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming Count-Min cells (period, row, bucket, cnt) —
    the continuous producer for the :func:`spear_spark.operators.
    sketch.cm_rolling` lifecycle: maintain each day's sketch
    incrementally as events arrive, persist the tiny finalized tables,
    answer any sliding-window frequency query later without touching
    raw events again.  Unlike :func:`count_min_stream` (one global
    grid, watermark-free), the grouped domain here grows by d·w cells
    per day, so the event-time window + watermark bound the state:
    days older than the watermark finalize and evict.  ``period`` is
    the same integer epoch-day ordinal as the batch rolling family
    (``unix_micros(window.start) div 86_400_000_000``), so drained
    output feeds ``cm_rolling`` directly — batch-equivalence tested
    cell-for-cell against the batch per-day grid."""
    from spear_spark.operators.sketch import _cm_bucket

    k = F.col(key).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(k, r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(cells).alias("_c"))
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("_w"),
            F.col("_c.row").alias("row"),
            F.col("_c.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            "row",
            "bucket",
            "cnt",
        )
    )


def daily_hll_registers_stream(
    events: DataFrame,
    key: str,
    ts_col: str = "ts",
    m: int = HLL_M,
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming HLL registers (period, reg, max_rho) — the
    continuous producer for :func:`spear_spark.operators.sketch.
    hll_rolling`: each day's register table is maintained
    incrementally (m rows per day, watermark-evicted), and because
    HLL's MAX merge is idempotent, re-drains or overlapping replays
    cannot corrupt the rolling estimate — the property Count-Min's
    SUM path does not have.  Same epoch-day ordinal as the batch
    family; batch-equivalence tested register-for-register."""
    from spear_spark.operators.dedup import h64

    hv = h64(F.col(key).cast("string"))
    assert m == 64, "streaming variant pins m=64 (shift by 6)"
    rest = F.shiftright(hv, 6)
    lowbit = rest.bitwiseAND(-rest)
    rho = F.when(rest == 0, F.lit(40)).otherwise(
        F.least(F.bit_count(lowbit - 1) + 1, F.lit(40))
    )
    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), (hv % m).alias("reg"), rho.alias("rho"))
        .groupBy(F.window(F.col(ts_col), "1 day").alias("_w"), F.col("reg"))
        .agg(F.max("rho").alias("max_rho"))
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            "reg",
            "max_rho",
        )
    )


NOVEL_GRAMS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bucket", LongType()),
        StructField("n_pos", LongType()),
        StructField("n_novel", LongType()),
    ]
)
_NOVEL_GRAMS_STATE_SCHEMA = StructType(
    [StructField("seen", ArrayType(LongType()))]
)


def novel_grams_stream(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    buckets: int = 64,
) -> DataFrame:
    """Streaming FIRST-SEEN n-gram tracker — the continuous producer
    for :func:`spear_spark.operators.dedup.ngram_novelty_profile`'s
    question ("how much genuinely new content is arriving?") without
    re-scanning the corpus per batch: gram hashes shard over
    ``buckets`` via ``pmod``, each shard's ``applyInPandasWithState``
    state is the set of hashes it has ever seen, and every batch emits
    (doc_id, bucket, n_pos, n_novel) — this doc's positions landing in
    this shard, and how many sit on grams never seen in any earlier
    batch or in a lower-id doc of the same batch.  Summing over
    buckets per doc reproduces the batch profile EXACTLY when batches
    arrive in id order (the backfill drain shape) — equivalence-tested
    file-for-file.

    State design for scale: the seen-set is VOCABULARY-bounded (the
    same bound any exact first-seen tracker must pay), sharded evenly
    over ``buckets`` keys so no single state row holds the vocabulary;
    for truly unbounded gram spaces swap the exact set for the Bloom
    state of :func:`bloom_words_stream` (lossy: novelty becomes a
    deterministic UNDERcount, never an overcount).  The per-batch
    min-doc rule is computed inside the shard's pandas group, so
    within-batch replays of the same doc id are idempotent."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from spear_spark.operators.dedup import h64, ngram_list

    id_type = {f.name: f.dataType.typeName() for f in docs.schema.fields}.get(
        id_col
    )
    if id_type not in {"byte", "short", "integer", "long"}:
        # a string id would silently CAST to NULL and collapse every doc
        # into one NULL doc_id row; fail loudly instead (the
        # connected_components contract) — re-key string ids to dense
        # longs upstream (xxhash64 / an id table) before streaming.
        raise TypeError(
            f"novel_grams_stream requires an integral id column; "
            f"{id_col!r} has type {id_type!r} — re-key to long first"
        )
    grams = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(ngram_list(text_col, n)).alias("gram"),
    ).select(
        "doc_id",
        h64(F.col("gram")).alias("hv"),
    ).withColumn("bucket", F.pmod(F.col("hv"), F.lit(buckets)).cast("long"))

    def update(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            first_doc = pdf.groupby("hv")["doc_id"].min()
            is_first = pdf["doc_id"].values == first_doc.loc[pdf["hv"]].values
            unseen = ~pdf["hv"].isin(seen).values
            out = (
                pdf.assign(_novel=(is_first & unseen).astype("int64"))
                .groupby("doc_id", as_index=False)
                .agg(n_pos=("hv", "size"), n_novel=("_novel", "sum"))
            )
            seen |= set(int(h) for h in pdf["hv"].unique())
            state.update((list(seen),))
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"].astype("int64"),
                    "bucket": key[0],
                    "n_pos": out["n_pos"].astype("int64"),
                    "n_novel": out["n_novel"].astype("int64"),
                }
            )

    return grams.groupBy("bucket").applyInPandasWithState(
        update,
        NOVEL_GRAMS_SCHEMA,
        _NOVEL_GRAMS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


CHUNK_DEDUP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bucket", LongType()),
        StructField("n_chunks", LongType()),
        StructField("n_dup_chunks", LongType()),
        StructField("n_tokens", LongType()),
        StructField("dup_tokens", LongType()),
    ]
)
_CHUNK_DEDUP_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(StringType())),
        StructField("owners", ArrayType(LongType())),
    ]
)


def chunk_dedup_stream(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    modulus: int = 16,
    buckets: int = 64,
) -> DataFrame:
    """Streaming chunk-level dedup tracker — the continuous producer
    for :func:`spear_spark.operators.dedup.chunk_dedup_report`'s
    question ("how much of each arriving doc duplicates earlier
    content, at chunk granularity?") without re-scanning the corpus
    per batch: each arriving doc is CDC-chunked with the exact batch
    rule (:func:`~spear_spark.operators.text.cdc_chunks`, a
    stream-safe pure projection), chunk hashes shard over ``buckets``
    via ``pmod(h64(hash))``, and each shard's
    ``applyInPandasWithState`` state maps every chunk hash it has
    ever seen to the MINIMUM owner doc id.  Every batch emits
    (doc_id, bucket, n_chunks, n_dup_chunks, n_tokens, dup_tokens) —
    a chunk occurrence counts as duplicated iff its hash's owner
    (across all earlier batches, or a lower-id doc of the same batch)
    is a LOWER id, the exact batch min-id keep rule.  Summing over
    buckets per doc reproduces :func:`chunk_dedup_report` EXACTLY
    when batches arrive in id order (the backfill drain shape;
    equivalence-tested file-for-file) — the re-crawled page pages the
    monitor the moment it arrives, instead of at the next corpus
    sweep.

    State design for scale: the hash→owner map is CHUNK-VOCABULARY
    bounded (what any exact first-owner tracker must pay — the
    streaming Bloom state is the lossy fallback, turning dup shares
    into deterministic UNDERcounts), sharded evenly over ``buckets``
    keys so no single state row holds the map; state stores the full
    md5 string, not a re-hash, so stream and batch can never disagree
    via a second-level collision.  Replayed doc ids re-emit their
    rows (owners are MINs, so state is unharmed) — use the
    :func:`write_batches_idempotent` sink pattern."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from spear_spark.operators.dedup import h64
    from spear_spark.operators.text import cdc_chunks

    id_type = {f.name: f.dataType.typeName() for f in docs.schema.fields}.get(
        id_col
    )
    if id_type not in {"byte", "short", "integer", "long"}:
        raise TypeError(
            f"chunk_dedup_stream requires an integral id column; "
            f"{id_col!r} has type {id_type!r} — re-key to long first"
        )
    chunks = cdc_chunks(
        docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)),
        text_col,
        "doc_id",
        modulus=modulus,
    ).select(
        "doc_id",
        "n_tokens",
        "chunk_hash",
        F.pmod(h64(F.col("chunk_hash")), F.lit(buckets)).cast("long").alias(
            "bucket"
        ),
    )

    def update(key, pdfs, state):
        if state.exists:
            st_h, st_o = state.get
            owner = {h: int(o) for h, o in zip(st_h, st_o)}
        else:
            owner = {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            import numpy as np

            batch_min = pdf.groupby("chunk_hash")["doc_id"].min()
            bm = batch_min.loc[pdf["chunk_hash"]].to_numpy(dtype="int64")
            # exact int64 end-to-end: routing ids through float64 would
            # silently break the min-id rule past 2^53 (the repo's
            # double-bucketing trap) — the object-dtype map keeps the
            # stored owners as Python ints, never floats
            prior = pdf["chunk_hash"].map(owner)  # object; NaN where unseen
            known = prior.notna().to_numpy()
            pr = np.where(
                known, prior.fillna(0).astype("int64").to_numpy(), bm
            )
            eff = np.minimum(pr, bm)
            dup = eff < pdf["doc_id"].to_numpy(dtype="int64")
            nt = pdf["n_tokens"].astype("int64")
            out = (
                pdf.assign(
                    _dup=dup.astype("int64"),
                    _nt=nt,
                    _dt=nt.where(dup, 0),
                )
                .groupby("doc_id", as_index=False)
                .agg(
                    n_chunks=("chunk_hash", "size"),
                    n_dup_chunks=("_dup", "sum"),
                    n_tokens=("_nt", "sum"),
                    dup_tokens=("_dt", "sum"),
                )
            )
            for h, d in batch_min.items():
                o = owner.get(h)
                owner[h] = int(d) if o is None else min(o, int(d))
            state.update((list(owner.keys()), [int(v) for v in owner.values()]))
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"].astype("int64"),
                    "bucket": key[0],
                    "n_chunks": out["n_chunks"].astype("int64"),
                    "n_dup_chunks": out["n_dup_chunks"].astype("int64"),
                    "n_tokens": out["n_tokens"].astype("int64"),
                    "dup_tokens": out["dup_tokens"].astype("int64"),
                }
            )

    return chunks.groupBy("bucket").applyInPandasWithState(
        update,
        CHUNK_DEDUP_SCHEMA,
        _CHUNK_DEDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def daily_token_counts_stream(
    docs: DataFrame,
    text_col: str,
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming token counts (period, tok, c) — the continuous
    producer for the ingest-drift monitor: maintain each day's token
    distribution incrementally as documents arrive, persist the tiny
    finalized tables, and score any day (or any union of days) against
    a reference corpus later with :func:`spear_spark.operators.
    relevance.jsd_vs_reference` — without ever re-scanning raw text.
    Same integer epoch-day ``period`` ordinal as the daily CM/HLL
    producers (``unix_micros(window.start) div 86_400_000_000``), so
    all three daily families align on the key.

    Tokenization is :func:`spear_spark.operators.text.tokens` — the
    exact batch tokenizer — so a drained day equals the batch
    explode+count of that day's documents row-for-row
    (batch-equivalence tested).  Because the counts are additive
    int64s, unioning drained days and re-aggregating (SUM) is exact;
    like the CM SUM path (and unlike HLL's MAX), a *double* drain of
    the same day double-counts — use the idempotent
    :func:`write_batches_idempotent` sink pattern for replay safety.

    State design for scale: event-time window + watermark bound the
    state store to the open days' vocabularies; days older than the
    watermark finalize and evict.  The per-batch shuffle is the
    (period, tok) hash-aggregate — map-side partially combined, no
    raw-token exchange beyond the day's new rows."""
    from spear_spark.operators.text import tokens

    return (
        docs.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("_w"), F.col("tok")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            "tok",
            "c",
        )
    )

def daily_event_counts_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming event volumes (period, key, n) — the
    continuous producer for the volume-anomaly monitor: maintain each
    day's per-type counts incrementally as events arrive, persist the
    tiny finalized rows, and score any drained span with
    :func:`spear_spark.operators.stats.mad_outliers` (p99's exact
    math: modified z of a day's volume against ITS type's median) —
    the "ingest dropped 40% on day 17" page, without re-scanning raw
    events.  Same integer epoch-day ``period`` ordinal as the daily
    token/CM/HLL producers, so all the daily monitor tables align on
    the key.

    A drained day equals the batch groupBy count of that day's events
    row-for-row (batch-equivalence tested), and because the counts are
    additive int64s, drained shards re-aggregate exactly — but a
    *double* drain of the same day double-counts (the CM/token-count
    caveat, not HLL's idempotent MAX): use the
    :func:`write_batches_idempotent` sink pattern for replay safety.

    State design for scale: event-time window + watermark bound the
    state store to |open days| · |key domain| rows; the per-batch
    shuffle is a map-side-combined (day, key) hash-aggregate."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("_w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            key_col,
            "n",
        )
    )


SEMDEDUP_STREAM_SCHEMA = StructType(
    [StructField("drop_id", LongType()), StructField("keep_id", LongType())]
)
_SEMDEDUP_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("vecs", ArrayType(ArrayType(DoubleType()))),
        StructField("dropped", ArrayType(BooleanType())),
    ]
)


def _round6_half_up(x: float) -> float:
    """Exact Python twin of Spark's ``F.round(col, 6)`` on doubles:
    Scala rounds ``BigDecimal.decimal(d)`` (Double.toString, i.e. the
    SHORTEST decimal repr — same contract as Python ``repr(float)``)
    with HALF_UP.  ``floor(x*1e6+0.5)`` twins would diverge on
    representation boundaries; this one cannot."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def semdedup_stream(
    docs: DataFrame,
    vec_col: str,
    id_col: str,
    centroids,
    threshold: float = 0.9,
) -> DataFrame:
    """Streaming SemDeDup twin — the continuous producer for
    :func:`spear_spark.operators.dedup.semdedup`'s drop decisions
    without re-scanning the corpus per batch.  Centroids are FIXED
    inputs (the paper's deployment shape: fit Lloyd offline on a
    sample — ``kmeans_lloyd`` — then assign the firehose against the
    frozen index); each arriving vector is cell-assigned with the
    exact batch rule (:func:`~spear_spark.operators.similarity.
    ivf_assign_fixed`, a stream-safe pure projection), and every
    cell's ``applyInPandasWithState`` state is the (id, vector) set it
    has ever seen.  A new doc emits ``(drop_id, keep_id)`` when some
    earlier-id doc in its cell has cosine ≥ ``threshold``; keep_id is
    the MINIMUM such partner, and dropped docs STAY in state as
    partner candidates — exactly the batch pair rule, so a drained
    id-ordered stream equals ``semdedup``'s output row-for-row
    (equivalence-tested; the novel_grams_stream backfill contract).

    Out-of-id-order arrivals are NOT silently lost: when a new doc d
    matches a stored id a > d at ≥ ``threshold`` and a was not already
    dropped, the stream emits ``(drop_id=a, keep_id=d)`` at that
    moment — the drained drop SET always equals batch ``semdedup``'s
    regardless of arrival order (law-tested on a reversed stream).
    The weaker guarantee under disorder is only keep_id: a late-
    revealed drop records the partner that exposed it, which need not
    be the batch MINIMUM partner; id-ordered drains keep the row-for-
    row bitwise contract.  Zero-norm vectors raise a ``ValueError``
    naming the id (cosine undefined — the batch contract's ANSI
    divide error, surfaced legibly).

    State-schema note: the out-of-order fix added a ``dropped`` flag
    array to the per-cell state (round 11).  Spark state stores carry
    no schema migration — a checkpoint written by the 2-field version
    CANNOT be restarted under this one; re-drain from the source (the
    documented backfill shape) or start a fresh checkpoint when
    upgrading.

    Exactness: the cosine is computed per element in float64 with a
    LEFT-TO-RIGHT accumulation (``np.cumsum`` rows) — bitwise the
    batch ``F.aggregate`` fold — then rounded with
    :func:`_round6_half_up`, Spark's exact rounding twin, before the
    threshold test.  Replayed ids are skipped (idempotent).

    State design for scale: one state row per cell holding that cell's
    vectors — state is bounded by CELL geometry, not stream length,
    and the paper's regime (k ~ 50k at web scale) keeps cells small;
    raise k upstream when a cell outgrows its Σ|cell|² verify budget,
    the same knob as batch :func:`semdedup`.  Within a batch the
    per-cell work is one (new × seen) rounded-cosine block — the same
    arithmetic the batch pair join pays, arriving incrementally."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from spear_spark.operators.similarity import ivf_assign_fixed

    id_type = {f.name: f.dataType.typeName() for f in docs.schema.fields}.get(
        id_col
    )
    if id_type not in {"byte", "short", "integer", "long"}:
        raise TypeError(
            f"semdedup_stream requires an integral id column; {id_col!r} "
            f"has type {id_type!r} — re-key to long first"
        )
    thr = float(threshold)
    assigned = ivf_assign_fixed(
        docs.select(
            F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("_v")
        ),
        "_v",
        centroids,
    )

    def _row_dots(mat: np.ndarray, v: np.ndarray) -> np.ndarray:
        # left-to-right float64 fold per row (cumsum is sequential by
        # construction) — bitwise the JVM aggregate() accumulation
        return np.cumsum(mat * v, axis=1, dtype=np.float64)[:, -1]

    def update(key, pdfs, state):
        if state.exists:
            st_ids, st_vecs, st_dropped = state.get
            ids = [int(i) for i in st_ids]
            vecs = [np.asarray(v, dtype=np.float64) for v in st_vecs]
            was_dropped = [bool(b) for b in st_dropped]
        else:
            ids, vecs, was_dropped = [], [], []
        seen = set(ids)
        norms = [
            float(np.sqrt(np.cumsum(v * v, dtype=np.float64)[-1])) for v in vecs
        ]
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("vec_id")
        drops: list[tuple[int, int]] = []
        for vid, raw in zip(pdf["vec_id"], pdf["_v"]):
            d = int(vid)
            if d in seen:
                continue  # replayed id — idempotent
            v = np.asarray(raw, dtype=np.float64)
            nv = float(np.sqrt(np.cumsum(v * v, dtype=np.float64)[-1]))
            if nv == 0.0:
                # batch near_dedup_embedding documents the non-zero-norm
                # contract and fails as an ANSI divide error; fail as
                # loudly here instead of a decimal.InvalidOperation deep
                # in the state worker
                raise ValueError(
                    f"semdedup_stream: zero-norm vector id={d} — cosine "
                    "is undefined; clean zero vectors upstream"
                )
            keep = None
            if ids:
                mat = np.asarray(vecs, dtype=np.float64)
                cos = _row_dots(mat, v) / (np.asarray(norms) * nv)
                for idx, (a_id, c) in enumerate(zip(ids, cos)):
                    if _round6_half_up(float(c)) < thr:
                        continue
                    if a_id < d:
                        keep = a_id if keep is None else min(keep, a_id)
                    elif not was_dropped[idx]:
                        # out-of-id-order arrival: a stored LARGER id just
                        # met a qualifying smaller partner — batch would
                        # have dropped it, so emit the drop now instead of
                        # silently losing it (keep_id is this partner, not
                        # necessarily the batch minimum — the documented
                        # unordered-drain contract)
                        drops.append((a_id, d))
                        was_dropped[idx] = True
            if keep is not None:
                drops.append((d, keep))
            ids.append(d)
            vecs.append(v)
            norms.append(nv)
            was_dropped.append(keep is not None)
            seen.add(d)
        state.update(
            (
                [int(i) for i in ids],
                [[float(x) for x in v] for v in vecs],
                [bool(b) for b in was_dropped],
            )
        )
        if drops:
            yield pd.DataFrame(
                {
                    "drop_id": [a for a, _ in drops],
                    "keep_id": [b for _, b in drops],
                }
            ).astype("int64")

    return assigned.groupBy("_cell").applyInPandasWithState(
        update,
        SEMDEDUP_STREAM_SCHEMA,
        _SEMDEDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def daily_value_bins_stream(
    docs: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming binned value histogram (period, bin, c) — the
    continuous producer for the PSI drift monitor: maintain each day's
    value histogram incrementally as documents arrive, persist the
    tiny finalized rows (≤ n_bins per day), and score any day (or any
    union of days — counts are additive int64s) against a reference
    histogram later with :func:`spear_spark.operators.stats.
    psi_from_bins` — numeric-profile drift from persisted aggregates,
    never a raw re-scan.  The numeric twin of
    :func:`daily_token_counts_stream` (token-space JSD producer); same
    integer epoch-day ``period`` ordinal, so all the daily monitor
    tables align on the key.

    Binning is :func:`spear_spark.operators.stats.value_bin` — the
    exact batch rule — so a drained day equals the batch bin-count of
    that day's documents row-for-row (batch-equivalence tested), and
    PSI computed from the drained table equals
    ``psi_vs_reference`` on the raw day exactly.  NULL and NaN values
    are dropped (the shared batch predicate
    :func:`~spear_spark.operators.stats.finite_values` — a NaN would
    otherwise clamp silently into bin 0).  Like the CM/token producers
    (and
    unlike HLL's idempotent MAX), a *double* drain of the same day
    double-counts — use the :func:`write_batches_idempotent` sink
    pattern for replay safety.

    State design for scale: event-time window + watermark bound the
    state store to |open days| × n_bins rows; the per-batch shuffle is
    a map-side-combined (day, bin) hash-aggregate."""
    from spear_spark.operators.stats import finite_values, value_bin

    return (
        docs.filter(finite_values(F.col(value_col)))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("_w"),
            value_bin(F.col(value_col), lo, hi, n_bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            "bin",
            "c",
        )
    )


def centroid_cells_stream(
    vecs: DataFrame,
    vec_col: str,
    group_col: str,
    ts_col: str = "ts",
    dim: int = 64,
    scale: int = 1_000_000,
    watermark: str = "1 day",
) -> DataFrame:
    """Per-DAY streaming centroid cells ``(period, label, d, s, n)`` —
    the continuous producer for the :func:`spear_spark.operators.
    similarity.centroid_drift` lifecycle: maintain each day's
    per-(label, dim) quantized component sums incrementally as
    embedded documents arrive, persist the tiny finalized cell tables,
    and answer BOTH "has source X drifted?" and "has source X
    collapsed?" over any day range later by plain integer merge
    (SUM s, sq, n per (label, d)) +
    :func:`~spear_spark.operators.similarity.centroid_drift_from_cells`
    / :func:`~spear_spark.operators.similarity.
    centroid_dispersion_from_cells` — without re-embedding or
    re-scanning anything.  Exactness carries
    over verbatim: cells are associative int64 sums, so drained
    streaming output merges bit-identically to the batch
    :func:`~spear_spark.operators.similarity.centroid_cells` table
    (batch-equivalence law).

    State bound: |labels|·dim cells per open day — the event-time
    window + watermark finalize and evict days, the
    :func:`daily_cm_cells_stream` posture.  The quantize + explode
    front end is the SAME column expression as batch
    (:func:`~spear_spark.operators.similarity.quantized_vec`),
    including the loud NULL/wrong-length guard."""
    from spear_spark.operators.similarity import quantized_vec

    return (
        vecs.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.col(group_col).alias("label"),
            F.posexplode(
                quantized_vec(vec_col, dim, scale, op="centroid_cells_stream")
            ).alias("d", "_q"),
        )
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("_w"),
            "label",
            "d",
        )
        .agg(
            F.sum("_q").alias("s"),
            F.sum((F.col("_q") * F.col("_q")).cast("decimal(38,0)")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.expr("unix_micros(_w.start) div 86400000000").alias("period"),
            "label",
            "d",
            "s",
            "sq",
            "n",
        )
    )


BUDGET_GATE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("group", StringType()),
        StructField("tokens", LongType()),
        StructField("accepted", BooleanType()),
        StructField("cum_tokens", LongType()),
    ]
)
_BUDGET_GATE_STATE_SCHEMA = StructType(
    [StructField("spent", LongType()), StructField("blocked", BooleanType())]
)


def budget_gate_stream(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    group_col: str,
    budget: int,
) -> DataFrame:
    """Streaming per-group token-budget gate — the continuous twin of
    :func:`spear_spark.operators.sampling.token_budget_select`'s
    PREFIX rule: docs are admitted in doc-id order (within each
    micro-batch; across batches, cumulative state carries over) while
    the group's running token total fits ``budget``; the FIRST
    overflow blocks the group permanently, exactly the batch prefix
    contract — a later smaller doc is NOT pulled around the blocker.
    Emits every doc's verdict: ``(doc_id, group, tokens, accepted,
    cum_tokens)`` with cum_tokens the running total AFTER the doc (its
    would-be total when rejected at the blocking row, the spent total
    unchanged thereafter).

    Equivalence (law-tested): drained over an id-ordered backfill, the
    accepted set equals ``token_budget_select`` with a CONSTANT
    quality (whose tie-break is doc-id order) — the arrival-order gate
    and the batch prefix are one rule.

    State per group: two scalars (spent, blocked) — O(|groups|) total,
    the cheapest stateful operator in the module.  Rejected docs emit
    rows rather than vanishing (an audit that silently drops rows
    can't be reconciled against billing).  NULL/negative token counts
    raise inside the worker, the batch operator's guard."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    if budget < 0:
        raise ValueError("budget_gate_stream: budget must be >= 0")
    bud = int(budget)
    staged = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(tokens_col).cast("long").alias("tokens"),
        F.col(group_col).cast("string").alias("group"),
    )

    def update(key, pdfs, state):
        spent, blocked = state.get if state.exists else (0, False)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            if pdf["tokens"].isna().any() or (pdf["tokens"] < 0).any():
                raise ValueError(
                    "budget_gate_stream: NULL/negative tokens — the "
                    "prefix rule is undefined on such rows"
                )
            pdf = pdf.sort_values("doc_id", kind="mergesort")
            rows = []
            for rid, nt in zip(pdf["doc_id"], pdf["tokens"]):
                nt = int(nt)
                if not blocked and spent + nt <= bud:
                    spent += nt
                    rows.append((int(rid), key[0], nt, True, spent))
                else:
                    blocked = True
                    rows.append((int(rid), key[0], nt, False, spent + nt))
            state.update((int(spent), bool(blocked)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "group", "tokens", "accepted", "cum_tokens"],
            )

    return staged.groupBy("group").applyInPandasWithState(
        update,
        BUDGET_GATE_SCHEMA,
        _BUDGET_GATE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
