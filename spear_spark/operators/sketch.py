"""Mergeable frequency/cardinality sketches for 100 TB corpus profiling:
Count-Min heavy hitters and an HLL-style distinct counter.

Both are DETERMINISTIC by construction — every hash derives from md5 and
every estimate is computed in exact integer arithmetic with a single
final IEEE division — so the DuckDB oracle reproduces them bit-for-bit
(no engine-specific HLL++ registers, no libm transcendentals whose last
ulp differs between the JVM and C: the HLL register exponents sum as
exact ``2^(40-M)`` integers, and trailing zeros come from
``bit_count((x & -x) - 1)``, never ``floor(log2(x))`` which can land on
39.999... in double math).

Scale structure (the reason sketches exist): both sketches are built by
a single explode + two-phase aggregate whose GROUPED STATE IS BOUNDED —
Count-Min at d*w cells, HLL at m registers — regardless of input size.
Partial aggregation collapses each partition to <= that many rows
map-side, the exchange moves only sketch cells, and sketches from
disjoint shards MERGE (cell-wise SUM / register-wise MAX), which is the
100 TB contract: profile each partition, merge the tiny sketches.
Merge caveat: Count-Min's SUM merge requires the shards to be DISJOINT
(a row in two shards is counted twice — see :func:`cm_merge`); HLL's
MAX merge is idempotent, so overlapping register tables merge safely.
Spark's own approx_count_distinct is the same idea but its HLL++
register layout is engine-internal and can't be oracle-checked exactly.

Reference parity: the reference engine has no sketch operators
(spear-core SURVEY §2.4 ends at scalar/agg functions); this module is a
north-star extension for training-data profiling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spear_spark.config import stage
from spear_spark.operators.dedup import h64
from spear_spark.operators.text import tokens

# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 1024  # buckets per row


def _cm_bucket(tok: Column, row: int, width: int) -> Column:
    """Row-specific bucket: md5 of a row-tagged token, mod width.
    Tagging with ``row:`` gives CM_DEPTH independent hash functions
    from one md5."""
    return h64(F.concat(F.lit(f"{row}:"), tok)) % width


def count_min_sketch(
    df: DataFrame,
    text_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build the (row, bucket, cnt) sketch table over all token
    OCCURRENCES in the corpus (not distinct tokens — Count-Min counts
    frequencies).  At most depth*width rows regardless of corpus size:
    the explode fans out tokens, the struct-array explode replicates
    each token into its ``depth`` (row, bucket) cells, and the groupBy
    collapses to the bounded cell grid with map-side partials."""
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(F.col("tok"), r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        toks.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_heavy_hitters(
    df: DataFrame,
    text_col: str,
    min_count: int,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Tokens whose Count-Min estimate (min over rows of the bucket
    count — an overestimate, never an undercount) reaches ``min_count``,
    with the exact count alongside so the one-sided error is visible:
    ``est >= exact`` always, and no true heavy hitter is missed.

    The candidate set here is the corpus's distinct tokens (exact
    streaming top-k candidate tracking is a different operator); the
    join probes the bounded sketch per (token, row) and takes the
    row-wise MIN.  Returns (tok, est, exact) ordered by est desc.

    One corpus pass, not two: the sketch is built FROM the per-token
    counts (Count-Min is linear, so summing counts into cells equals
    counting occurrences into cells), and the counts relation — used
    by both the sketch and the probes — is staged with a lazy
    ``localCheckpoint`` so the token explode + shuffle runs once.
    The sketch-side explode then fans out depth × |vocab| rows, not
    depth × |occurrences|.
    """
    exact = stage(
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(F.col("tok"), r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    sketch = (
        exact.select(F.col("exact").alias("_c"), F.explode(cells).alias("_cell"))
        .groupBy(F.col("_cell.row").alias("row"), F.col("_cell.bucket").alias("bucket"))
        .agg(F.sum("_c").alias("cnt"))
    )
    probes = exact.select(
        "tok",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket(F.col("tok"), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_p"),
    ).select("tok", "exact", F.col("_p.row").alias("row"), F.col("_p.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.filter(F.col("est") >= min_count)
        .select("tok", "est", "exact")
        .orderBy(F.desc("est"), "tok")
    )


# ---------------------------------------------------------------------------
# HLL-style distinct counter (deterministic, integer-exact registers)
# ---------------------------------------------------------------------------

HLL_M = 64  # registers (power of two)
HLL_ALPHA = 0.709  # alpha_64 from the HLL paper (m = 64)
_RHO_CAP = 40  # clamp so 2^(40 - rho) sums stay far inside int64


def hll_register_table(df: DataFrame, key: Column, m: int = HLL_M) -> DataFrame:
    """Per-register max rank: idx = h % m picks the register, and the
    rank is trailing-zeros(h // m) + 1 (the 'position of the first 1
    bit' statistic), computed with exact bit math:
    ``bit_count((x & -x) - 1)`` — ``x & -x`` isolates the lowest set
    bit and the popcount of (that - 1) is its index.  GROUPED STATE =
    m rows; register tables from disjoint shards merge by MAX."""
    hv = h64(key)
    rest = F.shiftright(hv, 6) if m == 64 else (hv / m).cast("bigint")
    lowbit = rest.bitwiseAND(-rest)
    rho = F.when(rest == 0, F.lit(_RHO_CAP)).otherwise(
        F.least(F.bit_count(lowbit - 1) + 1, F.lit(_RHO_CAP))
    )
    return (
        df.select((hv % m).alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def linear_counting_table(m: int = HLL_M) -> list[float]:
    """m * ln(m / V) for V = 0..m, precomputed in Python: the HLL
    small-range (linear counting) correction as a LOOKUP TABLE, so no
    engine ever evaluates ln() — the JVM's and C's libm can disagree in
    the last ulp, but interpolating the same Python float literal into
    both the Spark plan and the DuckDB oracle is exact by construction
    (V has only m+1 possible values).  V=0 slot is a placeholder (the
    raw estimate is used there)."""
    import math

    return [0.0] + [m * math.log(m / v) for v in range(1, m + 1)]


def _hll_est_expr(m: int) -> Column:
    """The HLL estimate expression over ``s_present`` / ``n_present``
    aggregate columns — alpha·m² / Σ 2^(−M_j) with the linear-counting
    small-range branch.  One definition shared by the corpus-global
    (:func:`hll_distinct`) and per-group (:func:`hll_distinct_by`)
    estimators so the exactness discipline (integer register sum, one
    IEEE division, table-lookup correction) cannot drift between
    them."""
    raw = (
        F.lit(HLL_ALPHA * m * m)
        * F.lit(float(2**_RHO_CAP))
        / (
            F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(2**_RHO_CAP)
        ).cast("double")
    )
    v = F.lit(m) - F.col("n_present")  # empty registers
    lc = F.element_at(
        F.array(*[F.lit(x) for x in linear_counting_table(m)]), (v + 1).cast("int")
    )
    return F.when((v > 0) & (raw <= F.lit(2.5 * m)), lc).otherwise(raw)


def hll_distinct(df: DataFrame, key: Column, m: int = HLL_M) -> DataFrame:
    """Single-row DataFrame (est_distinct double): the HLL estimate
    alpha * m^2 / sum_j 2^(-M_j) with the standard small-range
    correction (linear counting m*ln(m/V) over V empty registers when
    the raw estimate is <= 2.5m — without it the raw estimator is ~3x
    high when n << m).

    Exactness: the denominator is the integer sum_j 2^(40 - M_j)
    (missing registers contribute M_j = 0), so the raw estimate is one
    IEEE division of exact integers — bit-identical in any engine —
    and the correction branch compares that deterministic double
    against the exact literal 2.5m, then reads a precomputed float
    from :func:`linear_counting_table`; the oracle interpolates the
    identical literals, so even the approximate estimator is
    hash-exact cross-engine."""
    regs = hll_register_table(df, key, m)
    # missing registers (never hit) count as M_j = 0 -> 2^40 each
    present = regs.agg(
        # shiftleft with a Column shift amount needs the SQL form (the
        # Python wrapper only takes a literal int); COALESCE: SUM over
        # an empty register table is NULL, which must read as 0 so an
        # empty input estimates 0.0 (v = m -> linear counting ln(1))
        # instead of NULL
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return present.select(F.round(_hll_est_expr(m), 3).alias("est_distinct"))


def hll_register_table_by(
    df: DataFrame, group_col: str, key: Column, m: int = HLL_M
) -> DataFrame:
    """Per-GROUP HLL register table (group, reg, max_rho) — the
    cardinality-profile variant a 100 TB curation run asks of the
    sketch family ("distinct users per event type", "distinct
    fingerprints per source").  Same exact bit math as
    :func:`hll_register_table`; GROUPED STATE = |groups| · m rows, and
    tables from overlapping or disjoint shards merge by per-(group,
    reg) MAX (HLL's merge is idempotent — see the module header)."""
    hv = h64(key)
    rest = F.shiftright(hv, 6) if m == 64 else (hv / m).cast("bigint")
    lowbit = rest.bitwiseAND(-rest)
    rho = F.when(rest == 0, F.lit(_RHO_CAP)).otherwise(
        F.least(F.bit_count(lowbit - 1) + 1, F.lit(_RHO_CAP))
    )
    return (
        df.select(F.col(group_col), (hv % m).alias("reg"), rho.alias("rho"))
        .groupBy(group_col, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_distinct_by(
    df: DataFrame, group_col: str, key: Column, m: int = HLL_M
) -> DataFrame:
    """Per-group distinct estimate (group, est_distinct) from the
    per-group register table — :func:`hll_distinct`'s grouped twin,
    sharing its exact estimate expression (:func:`_hll_est_expr`), so
    the approximate estimator stays hash-exact cross-engine per group.
    Groups with no rows produce no row (grouped-aggregate semantics).
    Scale: one (group, reg)-keyed two-phase aggregate, then one
    |groups|·m → |groups| aggregate — everything downstream of the
    scan is bounded by the group count."""
    regs = hll_register_table_by(df, group_col, key, m)
    per = regs.groupBy(group_col).agg(
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return per.select(
        F.col(group_col), F.round(_hll_est_expr(m), 3).alias("est_distinct")
    )


def count_min_sketch_by(
    df: DataFrame,
    group_col: str,
    text_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Per-GROUP Count-Min sketch (group, row, bucket, cnt):
    :func:`count_min_sketch`'s grouped twin for per-source/per-day
    token-frequency profiles.  GROUPED STATE = |groups| · depth · width
    cells; per-(group, row, bucket) SUM merges tables from DISJOINT
    shards exactly (same linearity — and the same disjointness
    contract — as :func:`cm_merge`)."""
    toks = df.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(F.col("tok"), r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        toks.select(F.col(group_col), F.explode(cells).alias("_c"))
        .groupBy(group_col, F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_grid_from_counts(
    counts: DataFrame,
    group_cols: list[str],
    tok_col: str = "tok",
    count_col: str = "exact",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build a (``*group_cols``, row, bucket, cnt) Count-Min grid FROM
    a token-counts relation instead of raw occurrences — Count-Min is
    linear, so summing per-token counts into cells equals counting
    occurrences into cells, and the fan-out is depth × |vocab| rows
    instead of depth × |occurrences|.  This is the shared staging step
    of :func:`cm_heavy_hitters`/:func:`cm_heavy_hitters_by`, the
    health report, and any one-pass pipeline that already aggregated
    (group, token) counts; pass ``group_cols=[]`` for a global
    sketch."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cm_bucket(F.col(tok_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        counts.select(
            *[F.col(g) for g in group_cols],
            F.col(count_col).alias("_c"),
            F.explode(cells).alias("_cell"),
        )
        .groupBy(
            *group_cols,
            F.col("_cell.row").alias("row"),
            F.col("_cell.bucket").alias("bucket"),
        )
        .agg(F.sum("_c").alias("cnt"))
    )


def cm_heavy_hitters_by(
    df: DataFrame,
    group_col: str,
    text_col: str,
    pct: int = 1,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Per-GROUP Count-Min heavy hitters: tokens whose sketch estimate
    reaches ``pct`` percent of THEIR GROUP'S total occurrences, with
    the exact count alongside — :func:`cm_heavy_hitters`'s grouped twin
    ("which tokens dominate each source?"), sharing its one-pass
    staging: the (group, tok) exact counts are computed once,
    lazily checkpointed, and feed the group-keyed sketch (Count-Min is
    linear), the probes, AND the per-group totals — the corpus-sized
    token explode runs exactly once.  The threshold is the integer
    comparison ``est * 100 >= pct * group_total`` (no FP).  Returns
    (group, tok, est, exact) ordered within group by est desc.

    Scale: grouped sketch state = |groups| · depth · width; the probe
    join is per-(group, row, bucket) on the bounded sketch; group
    totals are a |groups|-row broadcast."""
    exact = stage(
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), _cm_bucket(F.col("tok"), r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    sketch = (
        exact.select(
            F.col(group_col), F.col("exact").alias("_c"), F.explode(cells).alias("_cell")
        )
        .groupBy(
            group_col, F.col("_cell.row").alias("row"), F.col("_cell.bucket").alias("bucket")
        )
        .agg(F.sum("_c").alias("cnt"))
    )
    totals = exact.groupBy(group_col).agg(F.sum("exact").alias("_total"))
    probes = exact.select(
        F.col(group_col), "tok", "exact", F.explode(cells).alias("_p")
    ).select(
        F.col(group_col),
        "tok",
        "exact",
        F.col("_p.row").alias("row"),
        F.col("_p.bucket").alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), [group_col, "row", "bucket"])
        .groupBy(group_col, "tok", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.join(F.broadcast(totals), group_col)
        .filter(F.col("est") * 100 >= F.lit(pct) * F.col("_total"))
        .select(F.col(group_col), "tok", "est", "exact")
        .orderBy(group_col, F.desc("est"), "tok")
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count-Min sketch tables built over DISJOINT shards with
    the same (depth, width): Count-Min is linear, so cell-wise SUM of
    the (row, bucket, cnt) grids equals the sketch of the union —
    exactly (law-tested, and driver-certified by p78: the merged
    shard sketches hash-match a whole-corpus oracle rebuild).  This is
    the 100 TB lifecycle this module's header promises: profile each
    shard/day independently, merge the ≤ depth·width-row tables, query
    once.  Scale: a union of bounded tables + one bounded two-phase
    aggregate.

    DISJOINTNESS IS THE CALLER'S CONTRACT, not a checkable property:
    Count-Min counts occurrences, so a row that appears in two input
    shards is counted twice in the merged sketch — the cell grid holds
    no provenance to detect the overlap (unlike HLL registers, whose
    MAX merge is idempotent and overlap-safe).  Merging overlapping
    windows (e.g. sliding daily sketches over a 7-day span) silently
    over-counts by exactly the overlap's occurrences — law-tested in
    test_operators (the documented over-count is asserted, not just
    warned about).  Shard by partition, day, or a key hash — never by
    predicates that can both select the same row."""
    if not sketches:
        raise ValueError("cm_merge: need at least one sketch table")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def hll_merge(*tables: DataFrame) -> DataFrame:
    """Merge HLL register tables built with the same m: register-wise
    MAX equals the register table of the union — exactly (the rho of
    a union's register is the max over shards by definition).  Same
    bounded shape as :func:`cm_merge`."""
    if not tables:
        raise ValueError("hll_merge: need at least one register table")
    merged = tables[0]
    for t in tables[1:]:
        merged = merged.unionByName(t)
    return merged.groupBy("reg").agg(F.max("max_rho").alias("max_rho"))


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge Bloom word tables (``dedup.bloom_build``) built with the
    SAME (n_bits, k, seed): word-wise BIT_OR equals the filter of the
    union key set — exactly.  Parameter agreement is VALIDATED via the
    embedded word_idx=-1 sentinels (one bounded job over the tiny
    tables): OR-ing filters with different geometries would produce a
    structure that silently yields false negatives, the one failure a
    Bloom filter must never have.  The shared sentinel survives the
    BIT_OR unchanged, so the merged table probes through
    ``dedup.bloom_probe`` directly."""
    if not filters:
        raise ValueError("bloom_merge: need at least one filter table")
    # validate each input INDIVIDUALLY before the union: a sentinel-less
    # table (e.g. raw bloom_words_stream output before the sentinel is
    # appended) unioned with a built filter would leave exactly one
    # distinct sentinel — a union-level check passes even though the
    # sentinel-less input's (n_bits, k, seed) was never attested, which
    # is precisely the silent-false-negative case the guard exists to
    # prevent.  |filters| bounded driver fetches of ≤2 rows each.
    sentinels = []
    for i, f in enumerate(filters):
        s = [
            r["bits"]
            for r in f.filter(F.col("word_idx") == -1).distinct().limit(2).collect()
        ]
        if len(s) != 1:
            raise ValueError(
                f"bloom_merge: input {i} carries {len(s)} geometry "
                "sentinels (expected exactly one word_idx=-1 row) — a "
                "sentinel-less word table cannot attest its (n_bits, k, "
                "seed), so merging it risks silent false negatives"
            )
        sentinels.append(s[0])
    if len(set(sentinels)) != 1:
        raise ValueError(
            "bloom_merge: filters were built with different (n_bits, k, "
            f"seed) (sentinels {sentinels}) — OR-ing mismatched geometries "
            "would produce silent false negatives"
        )
    merged = filters[0]
    for f in filters[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def cm_rolling(
    daily: DataFrame,
    window: int,
    period_col: str = "period",
    densify: bool = False,
) -> DataFrame:
    """Rolling Count-Min profiles from per-period sketch tables — the
    sliding-window lifecycle :func:`cm_merge` alone cannot provide:
    its contract is DISJOINT shards, so a 7-day rolling profile can't
    be assembled by merging overlapping multi-day sketches, but it CAN
    be assembled from per-PERIOD sketches (``count_min_sketch_by``
    grouped on an integer period ordinal): periods partition the rows,
    so every set of distinct periods is disjoint by construction and
    the per-cell SUM is exact.

    Input: (period, row, bucket, cnt) with ``period`` an integer
    ordinal (e.g. epoch-day ``unix_micros(ts) div 86_400_000_000`` —
    integer math, so no timezone or double-precision drift can desync
    an oracle).  Output: the same shape where period p's cells are the
    EXACT sketch of raw rows in periods (p-window+1 .. p] — law-tested
    against a direct sketch of the window's rows.

    By default emitted periods are the periods OBSERVED in the input:
    a gap period (no rows that day) gets no output row even though a
    window ending there would be non-empty — rolling profiles answer
    "the 7 days ending on each day WITH data".  ``densify=True``
    answers the calendar-aligned question instead: every integer
    period in [min, max] of the observed range emits its window's
    cells, so a gap day still reports the trailing-window sketch of
    the days before it.  (A period whose WHOLE window is empty — a gap
    longer than the window — has an empty sketch and naturally emits
    no cells under either mode.)

    Scale: each of the ≤ |periods|·d·w input cells fans out × window
    into one bounded two-phase aggregate; the period restriction is a
    broadcast semi-join on a |periods|-row table (densify: the same
    table built by exploding a sequence over the 1-row min/max
    aggregate — no driver collect).  Nothing downstream of the daily
    sketch build touches the corpus, which is the point — profile each
    day once, keep the tiny tables, answer any rolling query later."""
    if window < 1:
        raise ValueError(f"cm_rolling: window must be >= 1, got {window}")
    contrib = daily.select(
        F.explode(
            F.sequence(F.col(period_col), F.col(period_col) + (window - 1))
        ).alias(period_col),
        "row",
        "bucket",
        "cnt",
    )
    rolled = contrib.groupBy(period_col, "row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    keep = _emit_periods(daily, period_col, densify)
    return rolled.join(F.broadcast(keep), period_col, "semi")


def _emit_periods(daily: DataFrame, period_col: str, densify: bool) -> DataFrame:
    """The period set a rolling profile emits: observed periods, or —
    densified — every integer period in [min, max] of the observed
    range, built by exploding a sequence over the 1-row min/max
    aggregate (stays a DataFrame end-to-end; no driver collect)."""
    if not densify:
        return daily.select(period_col).distinct()
    return daily.agg(
        F.min(period_col).alias("_lo"), F.max(period_col).alias("_hi")
    ).select(F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias(period_col))


def cm_probe_by(
    sketch: DataFrame,
    probes: DataFrame,
    group_col: str,
    tok_col: str = "tok",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-query a grouped Count-Min sketch table (group, row,
    bucket, cnt) for each (group, token) probe row: est = min over
    rows of the bucket count — the standard CM read, an overestimate
    and never an undercount.  Returns (group, tok, est); probes whose
    group is absent from the sketch return no row (nothing was
    profiled there), probes whose group exists return est >= 0
    regardless of whether the token was ever seen: the cell lookup is
    a LEFT join with empty cells read as 0, so a never-seen token
    whose buckets all happen to be empty answers est = 0 exactly like
    a single-machine CM array would (an inner join would silently drop
    it from the MIN).

    Scale: the sketch is the BOUNDED side (≤ |groups|·d·w rows) and is
    broadcast; the probe set may be arbitrarily large and never
    shuffles — the group-existence gate is a broadcast semi join, each
    probe row fans out × depth, left-hash-joins against the broadcast
    grid, and collapses back with a map-side-combinable MIN."""
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cm_bucket(F.col(tok_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    fan = probes.join(
        F.broadcast(sketch.select(group_col).distinct()), group_col, "semi"
    ).select(
        F.col(group_col), F.col(tok_col), F.explode(cells).alias("_p")
    ).select(
        F.col(group_col),
        F.col(tok_col),
        F.col("_p.row").alias("row"),
        F.col("_p.bucket").alias("bucket"),
    )
    return (
        fan.join(F.broadcast(sketch), [group_col, "row", "bucket"], "left")
        .groupBy(group_col, tok_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("bigint"))).alias("est"))
    )


def cm_inner_product_by(
    sketch: DataFrame, group_col: str, depth: int = CM_DEPTH
) -> DataFrame:
    """Pairwise token-DISTRIBUTION overlap between groups via Count-Min
    inner products — the multiset complement to :func:`hll_overlap_by`
    (which answers "how many distinct keys do A and B share?"; this
    answers "how much occurrence MASS do their token distributions
    share"): for every unordered group pair (a < b),
    ``est_inner = min over rows r of Σ_bucket cnt_a[r,·]·cnt_b[r,·]``
    — the classic CM join-size / inner-product estimator (Cormode &
    Muthukrishnan 2005): a one-sided OVERestimate of the exact
    Σ_tok f_a(tok)·f_b(tok), never an undercount, with collision error
    shrinking as 1/width.  Returns the complete (group_a, group_b,
    est_inner) matrix, lexicographic within the pair; pairs sharing no
    non-empty cell in some hash row read exactly 0 (an empty cell
    contributes a zero product, so a missing row-group means that
    row's inner product is 0 and the MIN is 0 — matching the
    single-machine array semantics).

    Scale: the sketch table is BOUNDED (≤ |groups|·d·w rows) — the
    pair products are a broadcast self-join on (row, bucket), at most
    d·w·|groups|² tiny integer rows, collapsed by one two-phase SUM
    then a |pairs|-row MIN; the corpus is never touched (build the
    grouped sketch once, answer any pair later).  ``est_inner`` is
    int64: at extreme per-group counts (> ~3·10⁹ occurrences landing
    in one cell pair) switch the product to decimal(38,0) on both
    engines before trusting the sum."""
    s = stage(sketch)
    a = s.select(
        F.col(group_col).alias("ga"), "row", "bucket", F.col("cnt").alias("_ca")
    )
    b = s.select(
        F.col(group_col).alias("gb"), "row", "bucket", F.col("cnt").alias("_cb")
    )
    per_row = (
        a.join(F.broadcast(b), ["row", "bucket"])
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb", "row")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    per_pair = per_row.groupBy("ga", "gb").agg(
        F.min("_ip").alias("_min"), F.count(F.lit(1)).alias("_nr")
    )
    groups = s.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.alias("x")
        .join(F.broadcast(groups.alias("y")), F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    return pairs.join(F.broadcast(per_pair), ["ga", "gb"], "left").select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.when(F.col("_nr") == depth, F.col("_min"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("est_inner"),
    )


def hll_rolling(
    daily: DataFrame,
    window: int,
    period_col: str = "period",
    densify: bool = False,
) -> DataFrame:
    """Rolling HLL register tables from per-period tables
    (``hll_register_table_by`` grouped on an integer period ordinal) —
    :func:`cm_rolling`'s cardinality twin: period p's registers are
    the per-(reg) MAX over periods (p-window+1 .. p], which equals the
    register table of the window's union BY DEFINITION (a union
    register's rho is the max over shards), so the rolling merge is
    exact — and, unlike Count-Min's SUM, MAX is idempotent, so this
    holds even if the per-period inputs were themselves built from
    overlapping sources.

    Same shape and contracts as :func:`cm_rolling`: integer periods,
    output restricted to observed periods (or, with ``densify=True``,
    every calendar period in the observed [min, max] range — a gap day
    still reports its trailing window), each of the ≤ |periods|·m
    input rows fans out × window into one bounded two-phase aggregate.
    Feed the result's per-period registers to the ``_hll_est_expr``
    pipeline (see ``hll_distinct_by``) for "7-day rolling distinct
    users per day"."""
    if window < 1:
        raise ValueError(f"hll_rolling: window must be >= 1, got {window}")
    contrib = daily.select(
        F.explode(
            F.sequence(F.col(period_col), F.col(period_col) + (window - 1))
        ).alias(period_col),
        "reg",
        "max_rho",
    )
    rolled = contrib.groupBy(period_col, "reg").agg(
        F.max("max_rho").alias("max_rho")
    )
    keep = _emit_periods(daily, period_col, densify)
    return rolled.join(F.broadcast(keep), period_col, "semi")


def hll_rolling_distinct(
    daily: DataFrame,
    window: int,
    period_col: str = "period",
    m: int = HLL_M,
    densify: bool = False,
) -> DataFrame:
    """(period, est_distinct): the rolling-window distinct estimate
    per observed period — :func:`hll_rolling`'s registers fed through
    the shared exact estimate expression, so "7-day rolling distinct
    users" carries the same cross-engine hash-exactness discipline as
    every other HLL surface in this module.  ``densify=True`` emits
    calendar-gap periods too (their window still has registers unless
    the whole window is empty — see :func:`cm_rolling`)."""
    regs = hll_rolling(daily, window, period_col, densify=densify)
    per = regs.groupBy(period_col).agg(
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    return per.select(
        F.col(period_col), F.round(_hll_est_expr(m), 3).alias("est_distinct")
    )


def hll_overlap_by(
    df: DataFrame, group_col: str, key: Column, m: int = HLL_M
) -> DataFrame:
    """Pairwise overlap estimates between groups' key sets via HLL
    inclusion-exclusion: for every unordered group pair (a < b),
    ``est_overlap = max(0, est(a) + est(b) - est(a ∪ b))`` — the
    standard answer to "how many users/fingerprints do sources A and B
    share?" without ever joining the raw sets.  The union estimate
    comes from per-(pair, reg) MAX over the two groups' registers
    (HLL's union is exact at the register level; only the cardinality
    readout is approximate), and every estimate goes through the
    shared exact `_hll_est_expr`, so the whole matrix is
    deterministic and oracle-pairable.  Negative inclusion-exclusion
    noise clamps to 0 (identically in both engines).

    Returns (group_a, group_b, est_a, est_b, est_union, est_overlap),
    one row per unordered pair, both groups' names sorted
    lexicographically within the pair.

    Scale: ONE corpus scan builds the |groups|·m register table;
    everything after — the |groups|²/2-pair fan-out, the per-pair
    register MAX, the estimates — runs over bounded relations
    (pairs × m rows total).  For |groups| in the thousands the
    pair fan-out is still only ~10⁶·m tiny rows; the corpus itself
    is never touched again."""
    regs = stage(hll_register_table_by(df, group_col, key, m))
    per = regs.groupBy(group_col).agg(
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    est = per.select(F.col(group_col), F.round(_hll_est_expr(m), 3).alias("est"))
    groups = regs.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.alias("x")
        .join(F.broadcast(groups.alias("y")), F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    union_regs = pairs.join(
        F.broadcast(regs),
        (F.col(group_col) == F.col("ga")) | (F.col(group_col) == F.col("gb")),
    ).groupBy("ga", "gb", "reg").agg(F.max("max_rho").alias("max_rho"))
    union_est = (
        union_regs.groupBy("ga", "gb")
        .agg(
            F.coalesce(
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_RHO_CAP} - max_rho)")),
                F.lit(0).cast("bigint"),
            ).alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .select("ga", "gb", F.round(_hll_est_expr(m), 3).alias("est_union"))
    )
    ea = est.select(F.col(group_col).alias("ga"), F.col("est").alias("est_a"))
    eb = est.select(F.col(group_col).alias("gb"), F.col("est").alias("est_b"))
    return (
        union_est.join(F.broadcast(ea), "ga")
        .join(F.broadcast(eb), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                ),
                3,
            ).alias("est_overlap"),
        )
    )
