"""Deterministic sampling operators for training-data curation.

Training-mix rebalancing ("downsample web crawl to 10%, keep books at
50%") must be *reproducible*: re-running the pipeline on a different
cluster size, partition count, or row order has to select the same
rows.  Spark's ``df.sample`` / ``sampleBy`` are partition-seeded and
therefore not reproducible under repartitioning, so every operator here
derives its randomness from a key column via
:func:`spear_spark.functions.rand_like` (md5-based uniform, bit-identical
in Spark and DuckDB — see functions/__init__.py:58).

Scale: both operators are stateless projection+filter (no shuffle for
:func:`stratified_sample`; one bounded per-group top-k for
:func:`bottom_k_sample`), so they compose with any upstream scan and
stream at 100 TB.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spear_spark.config import stage
from spear_spark.functions import rand_like


def _rate_expr(strata_col: str, rates: Mapping[str, float], default_rate: float) -> Column:
    rate = F.lit(float(default_rate))
    for value, r in rates.items():
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return rate


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    default_rate: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Keep each row with a per-stratum probability, deterministically:
    row kept iff ``rand_like(key, seed) < rate(stratum)``.  The keep
    decision depends only on (key, seed, stratum), never on
    partitioning — the property that makes a 100 TB training-mix
    rebalance reproducible and incrementally recomputable."""
    return df.filter(rand_like(key_col, seed) < _rate_expr(strata_col, rates, default_rate))


def bottom_k_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Exactly ``k`` uniform rows per group (fewer if the group is
    smaller): the k smallest ``rand_like`` values per group — the
    deterministic, order-independent equivalent of per-group reservoir
    sampling (a bottom-k sketch).  One shuffle on ``group_col``; the
    per-group sort is bounded by the window top-k."""
    u = rand_like(key_col, seed)
    w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    source_col: str,
    weight_col: str,
    ref_weight: float,
    seed: int = 42,
) -> DataFrame:
    """Temperature-based source rebalancing (α = 0.5), the mix used by
    multi-corpus training sets: a source with total weight ``T`` (token
    or char count) is downsampled at ``rate = min(1, sqrt(ref_weight /
    T))`` — keep-probability ∝ T^(α−1), so sources contribute ∝ sqrt(T)
    instead of ∝ T and the head corpus stops drowning the tail.

    ``ref_weight`` replaces the usual global normalisation constant
    (Σ T_i^α): normalising requires summing *doubles across groups*,
    whose result depends on aggregation order and therefore diverges
    between engines; ``sqrt(ref/T)`` is one IEEE division of exact
    operands followed by one correctly-rounded sqrt, bit-identical
    everywhere.  The keep decision — ``rand_like(key, seed) < rate`` —
    is a pure function of (key, seed, source totals), independent of
    partitioning.

    Scale: two passes over the input, both cheap — the stats pass reads
    only (source, weight) columns (column pruning) and collapses
    map-side to |sources| rows; the filter pass broadcasts the tiny
    rate table.  No unbounded shuffle anywhere.
    """
    totals = df.groupBy(source_col).agg(
        F.sum(F.col(weight_col)).cast("bigint").alias("_tot")
    )
    rates = totals.select(
        source_col,
        F.least(
            F.lit(1.0), F.sqrt(F.lit(float(ref_weight)) / F.col("_tot").cast("double"))
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(rand_like(key_col, seed) < F.col("_rate"))
        .withColumn("mix_rate", F.round(F.col("_rate"), 6))
        .drop("_rate")
    )


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Weighted-without-replacement sampling via PRIORITY SAMPLING
    (Duffield-Lund-Thorup, JACM 2007): each row gets priority
    ``q = w / u`` with u uniform in (0, 1], and the k highest
    priorities win — inclusion probability grows with weight, and the
    resulting sample supports unbiased subset-sum estimation with
    ``w_hat = max(w, tau)`` (tau = the (k+1)-th priority).

    The ES exponential-key scheme (``-ln(u)/w``) is equivalent for
    selection but needs ``ln``, whose last ulp differs between JVM and
    C libm; ``w / u`` is one IEEE division of exactly-representable
    inputs (u = (md5_52bits + 1) / 2^52), so priorities — and
    therefore the selected set — are bit-identical in any engine and
    independent of partitioning.

    Scale: priorities are a stateless projection; global top-k plans
    as per-partition heaps + single merge (TakeOrderedAndProject), the
    grouped variant as a bounded window top-k.  Returns the sampled
    rows plus ``priority`` (rounded for display; selection uses the
    un-rounded value).  Ties (astronomically unlikely with 52-bit u)
    break on the key column for determinism.
    """
    h52 = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(seed), F.col(key_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    u = (h52 + F.lit(1)).cast("double") / F.lit(float(1 << 52))
    pri = F.col(weight_col).cast("double") / u
    scored = df.withColumn("_pri", pri)
    if group_col is None:
        picked = scored.orderBy(F.desc("_pri"), F.col(key_col)).limit(k)
    else:
        w = Window.partitionBy(group_col).orderBy(F.desc("_pri"), F.col(key_col))
        picked = scored.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        ).drop("_rn")
    return picked.withColumn("priority", F.round(F.col("_pri"), 6)).drop("_pri")


def gumbel_topk_sample(
    df: DataFrame,
    key_col: str,
    logw_col: str,
    k: int,
    group_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Weighted-without-replacement sampling from LOG-weights via the
    Gumbel-top-k trick (Vieira 2014; the resampling step of DSIR, Xie
    et al. 2023): each row gets key ``g = logw − ln(−ln u)`` with u
    uniform in (0, 1], and the k highest keys are a without-replacement
    sample ∝ exp(logw).  This is :func:`priority_sample`'s twin for
    the log domain — DSIR's ``log_weight`` spans hundreds of nats, so
    ``exp(logw)`` under/overflows and the w/u scheme cannot be used;
    the Gumbel key never leaves log space.

    Same determinism recipe as the sampling family: u = (md5-derived
    52-bit int + 1) / 2^52, a pure function of (seed, key), so the
    sample is partition-independent and engine-replayable.  The one
    FP caveat vs priority_sample: ``ln`` is correctly-rounded-to-1-ulp
    (not exact), so two engines could in principle order two keys
    within 1 ulp of each other differently — with continuous 52-bit
    Gumbels the boundary-tie probability is negligible, the same
    epsilon class as every rounded-double ranking in the repo.  Ties
    break on the key column.

    Scale: the key is a stateless projection; global top-k plans as
    per-partition heaps + single merge (TakeOrderedAndProject), the
    grouped variant as a bounded window top-k.  Returns the sampled
    rows plus ``gumbel_key`` (rounded for display; selection uses the
    un-rounded value)."""
    h52 = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(seed), F.col(key_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    u = (h52 + F.lit(1)).cast("double") / F.lit(float(1 << 52))
    g = F.col(logw_col).cast("double") - F.log(-F.log(u))
    scored = df.withColumn("_g", g)
    if group_col is None:
        picked = scored.orderBy(F.desc("_g"), F.col(key_col)).limit(k)
    else:
        w = Window.partitionBy(group_col).orderBy(F.desc("_g"), F.col(key_col))
        picked = scored.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        ).drop("_rn")
    return picked.withColumn("gumbel_key", F.round(F.col("_g"), 6)).drop("_g")


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    val_frac: float = 0.1,
    seed: int = 13,
    group_key=None,
) -> DataFrame:
    """Train/validation split that cannot leak duplicates across the
    boundary: the split decision hashes the CONTENT-GROUP key (md5 of
    normalized text), not the document id, so every copy of the same
    content lands in the same side — the failure mode this prevents
    (validation examples whose duplicates sit in train) silently
    inflates eval scores on any corpus with residual duplication.

    ``group_key`` raises the safety GRADE to match the audit's
    (:func:`~spear_spark.operators.dedup.split_leakage_report`): the
    default content-hash key only guarantees exact-duplicate safety —
    a fuzzily-duplicated corpus still leaks near-dups across the
    boundary.  Pass the connected-component label over near-dup pairs
    (``dedup.connected_components``, singletons coalesced to their own
    id, exactly the p131 audit's granularity) and the whole near-dup
    CLUSTER moves as one unit — law-tested: the CC-grade audit of a
    CC-keyed split is EMPTY, so the constructor's guarantee and the
    audit share one granularity.  NULL keys are rejected in-plan
    (``raise_error``): a NULL group would silently bucket together
    every unlabeled doc, the un-auditable failure mode.

    Deterministic and partition-independent: the group key feeds the
    same md5/2^52 uniform as the sampling family (:func:`rand_like`),
    so the split is reproducible at any cluster size and engine-
    portable for the oracle.

    Scale: pure projection — one hash + one threshold per row, no
    shuffle, no group materialization (the CC label input is itself
    an edge-set-sized computation, paid by the caller once and
    reusable by the audit).
    """
    from spear_spark.functions import rand_like

    if group_key is None:
        # coalesce BEFORE hashing: rand_like's concat skips NULLs while
        # a SQL '||' propagates them — without this, NULL-text docs
        # would split differently in Spark and the DuckDB oracle
        group = F.md5(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))))
    else:
        key = group_key if not isinstance(group_key, str) else F.col(group_key)
        group = F.when(
            key.isNull(),
            F.raise_error(
                F.lit("leakage_safe_split: group_key must be non-NULL")
            ).cast("string"),
        ).otherwise(key.cast("string"))
    u = rand_like(group, seed=seed)
    return df.select(
        F.col(id_col),
        group.alias("group_hash"),
        F.when(u < F.lit(float(val_frac)), F.lit("validation"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def stratified_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    fracs: Mapping[str, float],
    seed: int = 13,
    group_key=None,
) -> DataFrame:
    """N-way leakage-safe split — :func:`leakage_safe_split`
    generalized from train/validation to any named partition
    (train/validation/test, or k eval shards): the SAME content-group
    uniform is cut at the cumulative ``fracs`` thresholds, so every
    copy (or, with ``group_key``, every near-dup cluster member) of
    the same content lands in the same named split and every PAIR of
    splits is leak-free at the chosen granularity (law-tested).
    ``fracs`` maps split name → share, must sum to 1 (±1e-9); the
    LAST split in iteration order absorbs the residual interval, so
    float accumulation can never leave a row unassigned.  Splits are
    assigned in the mapping's iteration order — thresholds are
    Python-computed cumulative doubles embedded as plan literals,
    which is what makes the assignment bit-reproducible in any engine
    (the oracle embeds the identical literals).

    The two-way special case ``{"validation": f, "train": 1-f}`` is
    law-tested bitwise-equal to :func:`leakage_safe_split`.

    Scale: pure projection — one hash, one when-chain per row."""
    from spear_spark.functions import rand_like

    names = list(fracs)
    if len(names) < 2:
        raise ValueError("stratified_split: need at least 2 splits")
    if len(set(names)) != len(names):
        raise ValueError("stratified_split: duplicate split names")
    shares = [float(fracs[n]) for n in names]
    if any(s <= 0 for s in shares):
        raise ValueError("stratified_split: every share must be > 0")
    if abs(sum(shares) - 1.0) > 1e-9:
        raise ValueError(
            f"stratified_split: shares must sum to 1, got {sum(shares)!r}"
        )
    if group_key is None:
        group = F.md5(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))))
    else:
        key = group_key if not isinstance(group_key, str) else F.col(group_key)
        group = F.when(
            key.isNull(),
            F.raise_error(
                F.lit("stratified_split: group_key must be non-NULL")
            ).cast("string"),
        ).otherwise(key.cast("string"))
    u = rand_like(group, seed=seed)
    # cumulative thresholds as driver-computed double literals: the
    # oracle embeds the same values, so the cut points are identical
    # IEEE doubles in both engines
    out = None
    acc = 0.0
    for name, share in zip(names[:-1], shares[:-1]):
        acc += share
        cond = u < F.lit(acc)
        out = F.when(cond, F.lit(name)) if out is None else out.when(cond, F.lit(name))
    out = out.otherwise(F.lit(names[-1]))
    return df.select(
        F.col(id_col),
        group.alias("group_hash"),
        out.alias("split"),
    )


def _mix_counts(
    df: DataFrame, source_col: str, targets: Mapping[str, float]
) -> DataFrame:
    """Per-source (n_rows, _tgt) table for :func:`mix_reweight`.

    A target source with no rows must SURFACE (n_rows = 0, keep_rate
    NULL downstream), not vanish.  NOT a full-outer join (Spark cannot
    broadcast-hash a full outer — it silently plans a SortMergeJoin),
    and NOT a LEFT + LEFT-ANTI branch pair (the round-6 shape: its two
    branches consumed the un-checkpointed count aggregate separately,
    re-executing the corpus scan per consumer — measured 3.6× at bench
    scale).  Instead the |targets| seed rows are unioned INTO the count
    input with a zero marker: data rows contribute 1, seed rows 0, so
    ONE two-phase SUM yields every present source's exact count AND an
    n_rows = 0 row per absent target.

    The target table enters the plan as LITERALS — seed rows via
    ``inline`` of a literal struct array, the target-share attach via
    a literal map lookup (``try_element_at``: NULL, not an ANSI error,
    for non-target sources) — never ``createDataFrame``, whose
    Python→JVM conversion costs ~0.35 s PER CALL at any data size
    (measured; it was most of the round-6 p65 regression), and never a
    join: a driver-side Mapping is the same size class as a broadcast
    literal, so the attach is a zero-shuffle projection.  |targets| is
    bounded to keep the literal plan small (the srp_signature_exact
    plan-bloat discipline); a larger mixing plan should pass a
    DataFrame-valued target relation to a join-based variant instead."""
    if not targets:
        return (
            df.groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("_tgt", F.lit(0.0))
        )
    if len(targets) > 1024:
        raise ValueError(
            "mix_reweight: more than 1024 target sources would bloat the "
            "literal plan — aggregate your taxonomy or join a target table"
        )
    items = sorted(targets.items())
    seed_rows = F.array(
        *[
            F.struct(
                F.lit(s).cast(df.schema[source_col].dataType).alias(source_col),
                F.lit(0).cast("long").alias("_c"),
            )
            for s, _ in items
        ]
    )
    seed = df.sparkSession.range(1).select(F.inline(seed_rows))
    tmap = F.create_map(
        *[x for s, w in items for x in (F.lit(s), F.lit(float(w)))]
    )
    return (
        df.select(F.col(source_col), F.lit(1).cast("long").alias("_c"))
        .unionByName(seed)
        .groupBy(source_col)
        .agg(F.sum("_c").alias("n_rows"))
        .select(
            F.col(source_col),
            "n_rows",
            F.coalesce(
                F.try_element_at(tmap, F.col(source_col)), F.lit(0.0)
            ).alias("_tgt"),
        )
    )


def mix_reweight(
    df: DataFrame,
    source_col: str,
    targets: Mapping[str, float],
    decimals: int = 6,
) -> DataFrame:
    """Per-source keep rates that hit an EXPLICIT target mix with the
    largest achievable corpus: ``rate_s = (target_s / actual_s) /
    max_s'(target_s' / actual_s')`` — the binding source keeps 100% and
    everything else downsamples proportionally.  The planning half of
    mix curation (:func:`temperature_mix` is the implicit-α variant);
    feed the rates into a ``rand_like(key) < rate`` filter to execute.
    SURVEY §2.7 extension — the reference has no sampling operators.

    Returns one row per source: ``n_rows, actual_share, target_share,
    keep_rate, expected_rows``.

    Determinism: counts are exact int64; each rate is a short IEEE
    division chain of exact operands; the normalizing max is
    order-free (unlike a normalizing SUM, which is why the closed form
    divides by the max ratio rather than renormalizing shares).
    Sources absent from ``targets`` get target share 0 → rate 0.
    Target sources absent from ``df`` are NOT dropped: the target keys
    are seeded into the count input with a zero marker
    (:func:`_mix_counts`), so a missing source surfaces as an
    ``n_rows = 0`` row with a NULL ``keep_rate`` — the stated mix is
    unachievable and the caller can detect exactly which sources are
    short instead of silently planning around them.

    Scale: ONE two-phase count on the source key (|sources| rows);
    everything after is arithmetic on that tiny table — the
    normalizers are global-window aggregates over it (single task over
    the aggregate, never the corpus), so at 100 TB the planning query
    costs exactly one column-pruned scan, with no second pass and no
    checkpoint."""
    counts = _mix_counts(df, source_col, targets)
    # every ratio is guarded on n_rows > 0 — under ANSI (the engine
    # default) a bare division by a zero count would throw, and the
    # guard doubles as the missing-source NULL marker
    present = F.col("n_rows") > 0
    # normalizers (Σ n_rows, max target/actual ratio) as GLOBAL window
    # aggregates over the counts table, not a second aggregate pass:
    # the corpus scan feeds exactly ONE consumer, so nothing re-executes
    # and nothing needs a checkpoint (the round-6 branch shape ran the
    # count per consumer; a checkpoint fixes that but pays a
    # materialization job — measured 2× on this sub-second planning
    # query).  The single-task window is over the |sources| + |targets|
    # row AGGREGATE, never the corpus — budget_waterfill's audited
    # pattern, safe at any data size.
    w_all = Window.partitionBy()
    counts = counts.select(
        F.col(source_col),
        "n_rows",
        "_tgt",
        F.sum("n_rows").over(w_all).alias("_n_total"),
        F.max(
            F.when(
                (F.col("_tgt") > 0) & present,
                F.col("_tgt") / F.col("n_rows").cast("double"),
            )
        ).over(w_all).alias("_max_ratio"),
    )
    rate = F.when(
        (F.col("_tgt") > 0) & present,
        (F.col("_tgt") / F.col("n_rows").cast("double")) / F.col("_max_ratio"),
    ).when(~present & (F.col("_tgt") > 0), F.lit(None).cast("double")).otherwise(
        F.lit(0.0)
    )
    return counts.select(
        F.col(source_col),
        "n_rows",
        F.round(
            F.when(
                F.col("_n_total") > 0,
                F.col("n_rows") / F.col("_n_total").cast("double"),
            ).otherwise(F.lit(0.0)),
            decimals,
        ).alias("actual_share"),
        F.round(F.col("_tgt"), decimals).alias("target_share"),
        F.round(rate, decimals).alias("keep_rate"),
        F.when(present, F.floor(rate * F.col("n_rows").cast("double")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("expected_rows"),
    )


def budget_waterfill(
    df: DataFrame,
    source_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Integer waterfilling of a token budget across sources: every
    source keeps min(T_s, c) tokens where the cap ``c`` is the largest
    level whose total fits ``budget``; the integer remainder goes to
    the first capped sources in (T, source) order, one extra token
    each.  Σ alloc == min(budget, Σ T) EXACTLY — the allocation every
    mix plan needs before sampling docs to fill it (:func:`mix_reweight`
    answers "what rate hits a target mix"; this answers "how much of
    each source fits a fixed budget fairly").

    SURVEY §2.7 extension.  Returns (source, tokens, alloc,
    capped) ordered by source.

    Per-source totals must be NON-NEGATIVE and non-NULL — the exact
    law's uncapped-prefix argument breaks silently otherwise — and are
    validated with one bounded job over the checkpointed
    |sources|-row aggregate (which also keeps the corpus-sized count
    from executing twice).

    Determinism: pure int64 arithmetic end-to-end — totals are exact
    sums, the cap is one integer division, the remainder rule is a
    rank comparison.  No floating point anywhere.

    Scale shape: ONE two-phase sum on the source key; the waterfill
    itself is window math over the |sources|-row aggregate (single
    task by design, like fixed_width_histogram: the window input is
    the aggregated table, never the corpus)."""
    if budget < 0:
        raise ValueError("budget_waterfill: budget must be >= 0")
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("tokens", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = stage(
        df.groupBy(source_col)
        .agg(F.sum(F.col(weight_col)).cast("long").alias("tokens"))
        .withColumnRenamed(source_col, "source")
    )
    # fail loudly on NULL (all-NULL weights — F.sum drops NULLs) or
    # negative per-source totals: the Σalloc == min(budget, ΣT) law
    # relies on non-negative totals, so a bad source would silently
    # corrupt every allocation.  Bounded job over the tiny aggregate;
    # it doubles as the checkpoint materialization.
    bad_t = F.col("tokens").isNull() | (F.col("tokens") < 0)
    if totals.filter(bad_t).limit(1).count() > 0:
        raise ValueError(
            "budget_waterfill: per-source weight totals must be "
            "non-negative and non-NULL (a NULL/negative total breaks "
            "the exact allocation law)"
        )
    t = (
        totals.withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn("_i", F.row_number().over(Window.partitionBy().orderBy("tokens", "source")))
        .withColumn("_cum", F.sum("tokens").over(
            Window.partitionBy().orderBy("tokens", "source")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        # uncapped ⟺ capping everyone at MY size still fits the budget
        .withColumn(
            "_unc",
            (F.col("_cum") + F.col("tokens") * (F.col("_n") - F.col("_i")))
            <= F.lit(int(budget)),
        )
    )
    t = (
        t.withColumn("_s", F.coalesce(
            F.sum(F.when(F.col("_unc"), F.col("tokens"))).over(w_all), F.lit(0)))
        .withColumn("_m", F.sum((~F.col("_unc")).cast("long")).over(w_all))
        # int64 `div`/`%` — no FP anywhere in the allocation
        .withColumn("_cap", F.when(
            F.col("_m") > 0,
            F.expr(f"(CAST({int(budget)} AS BIGINT) - _s) div _m")).cast("long"))
        .withColumn("_rem", F.when(
            F.col("_m") > 0,
            F.expr(f"(CAST({int(budget)} AS BIGINT) - _s) % _m")).cast("long"))
        .withColumn("_rkc", F.sum((~F.col("_unc")).cast("long")).over(w_cum))
    )
    alloc = F.when(F.col("_unc"), F.col("tokens")).otherwise(
        F.least(
            F.col("tokens"),
            F.col("_cap") + F.when(F.col("_rkc") <= F.col("_rem"), 1).otherwise(0),
        )
    )
    return t.select(
        "source",
        "tokens",
        alloc.cast("long").alias("alloc"),
        (~F.col("_unc")).alias("capped"),
    ).orderBy("source")


def mix_schedule(
    spark,
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: Mapping[str, int],
    seed: int = 19,
    default_weight: int = 1,
    n_buckets: int = 256,
) -> DataFrame:
    """Weighted multi-source interleave for the training stream: order
    the corpus so every prefix contains each source in proportion to
    its integer weight (stride scheduling — Waldspurger & Weihl, OSDI
    '94).  Each doc gets a seeded shuffle rank WITHIN its source
    (:func:`spear_spark.operators.ids.seeded_shuffle_ranks`, so the
    intra-source order is itself a reproducible shuffle), then
    ``sched_key = src_rank * stride(source)`` with
    ``stride = lcm(weights) / weight`` — exact int64 arithmetic, no
    float pass values.  Sorting by ``(sched_key, group, src_rank)``
    yields the interleaved stream: a weight-3 source appears 3x as
    often as a weight-1 source in any window longer than one stride
    cycle, and the whole schedule is a pure function of (ids, seed,
    weights) — rerun-stable across cluster sizes.

    Returns ``(id, group, src_rank, sched_key)``; consumers sort by
    ``(sched_key, group, src_rank)`` (range-partitioned sort — no
    single-task stage) or feed it to the packing operators.

    Scale: the only shuffles are the rank helper's bounded-bucket
    window and the final sort; strides are broadcast literals.  With
    ranks <= corpus size (~1e12 at 100 TB) and strides <= lcm(weights),
    ``sched_key`` stays far inside int64 for any sane weight set (the
    guard below rejects lcm > 2^20).
    """
    from math import lcm

    from spear_spark.operators.ids import seeded_shuffle_ranks

    if not weights:
        raise ValueError("mix_schedule: weights must be non-empty")
    vals = list(weights.values()) + [default_weight]
    if any((not isinstance(v, int)) or v < 1 for v in vals):
        raise ValueError(
            f"mix_schedule: weights must be positive integers, got {weights} "
            f"(default {default_weight}) — scale rational weights to a "
            "common integer grid first"
        )
    big = lcm(*vals)
    if big > (1 << 20):
        raise ValueError(
            f"mix_schedule: lcm(weights) = {big} > 2^20 — reduce the weight "
            "grid so sched_key cannot overflow int64 at corpus scale"
        )
    stride = F.lit(big // default_weight)
    for g, wv in sorted(weights.items()):
        stride = F.when(F.col(group_col) == g, F.lit(big // wv)).otherwise(stride)
    ranks = seeded_shuffle_ranks(
        spark, df, id_col, (group_col,), seed=seed, n_buckets=n_buckets
    )
    return ranks.select(
        F.col(id_col),
        F.col(group_col),
        F.col("rank").alias("src_rank"),
        (F.col("rank") * stride).cast("bigint").alias("sched_key"),
    )


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    n: int,
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Per-group row caps under a DETERMINISTIC ranking: keep at most
    ``n`` rows per group, best-first by ``order_by`` — the per-host /
    per-domain document cap every web-corpus recipe applies ("at most
    N pages per site, highest quality first"), and
    :func:`priority_sample`'s deterministic-order twin (that one ranks
    by seeded random priority; this one by explicit columns).

    Contract: ``order_by`` must be a TOTAL order (tie-break on a
    unique id last) or the kept set is partitioning-dependent.

    Scale shape: the rank-then-filter window is WindowGroupLimit-
    eligible (row_number, default frame, constant filter), so each
    task keeps an n-row per-group heap BEFORE the exchange — a hot
    host shuffles at most n rows per upstream task, never its full
    row set, and the post-exchange sort is over the surviving ≤
    n × tasks rows per group (plan-pinned: partial + final
    WindowGroupLimit)."""
    if n < 1:
        raise ValueError("cap_per_group: n must be >= 1")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*group_cols).orderBy(*cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def token_budget_select(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    quality_col: str,
    budget: int,
    group_col: str | None = None,
) -> DataFrame:
    """Greedy quality-first document selection under a token budget:
    within each group, order by (quality DESC, id ASC) and keep the
    maximal PREFIX whose cumulative token count fits ``budget`` — the
    "which docs actually fill the allocation" step that follows
    :func:`budget_waterfill` (waterfill splits a global budget ACROSS
    sources; this picks the docs WITHIN each source's share).  Returns
    the selected rows as ``(group?, id, tokens, quality, cum_tokens)``.

    The contract is the PREFIX rule, not knapsack: cumulative tokens
    are monotone (tokens are validated >= 0), so ``cum <= budget`` is a
    clean prefix of the quality order — deterministic, auditable, and
    O(1) to re-verify per row.  A top-quality doc larger than the
    remaining budget therefore BLOCKS the tail (documented, law-tested)
    — skip-greedy "fill around it" semantics are sequential state that
    neither parallelizes nor audits; if oversized docs are routine,
    pre-filter them (``tokens <= budget``) or chunk them first
    (:func:`~spear_spark.operators.text.chunk_documents`).

    Contract: tokens NON-NULL and >= 0, quality NON-NULL and non-NaN
    (in-plan raise) — a NULL would silently reorder the greedy walk.

    Scale shape: ONE window over (group | quality DESC, id) — per-group
    sorts parallelize across groups, and group = source/lang/day is the
    normal corpus shape.  For one giant group, run the two-phase form:
    an approx quality-quantile threshold bounds the candidate set to
    ~budget tokens, the exact window then runs over candidates only —
    the same trick :func:`cap_per_group` documents."""
    if budget < 0:
        raise ValueError("token_budget_select: budget must be >= 0")
    t = F.col(tokens_col).cast("long")
    qual = F.col(quality_col).cast("double")
    guard = F.when(
        t.isNull() | (t < 0) | qual.isNull() | F.isnan(qual),
        F.raise_error(
            F.lit(
                "token_budget_select: NULL/negative tokens or NULL/NaN "
                "quality — the greedy prefix is undefined on such rows"
            )
        ).cast("long"),
    ).otherwise(t)
    gcols = [group_col] if group_col else []
    staged = df.select(
        *gcols,
        F.col(id_col),
        guard.alias("tokens"),
        qual.alias("quality"),
    )
    cum = F.sum("tokens").over(
        Window.partitionBy(*gcols)
        .orderBy(F.desc("quality"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return staged.select(
        *gcols, id_col, "tokens", "quality", cum.alias("cum_tokens")
    ).filter(F.col("cum_tokens") <= F.lit(int(budget)))
