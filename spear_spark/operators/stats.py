"""Distribution statistics over grouped data: exact and approximate
quantiles.

Exact per-group quantiles (``F.percentile``, linear interpolation —
the same R-7 rule DuckDB's ``quantile_cont`` uses) need the full group
in memory on one task, which is fine when groups are bounded (per-
language, per-source, per-day slices of a corpus) — the groups
parallelize across the cluster even though each is single-task.

For *global* quantiles at 100 TB, exact computation would concentrate
the whole dataset onto one task: use :func:`group_quantiles_approx`
(``percentile_approx`` — a mergeable t-digest-style sketch computed
with map-side partials, constant memory per task) and accept the
documented rank error.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spear_spark.config import stage


def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    qs: Sequence[float],
    decimals: int = 6,
) -> DataFrame:
    """Exact per-group quantiles, one output column ``q<pct>`` per
    requested quantile, plus ``n_rows``.  Rounded so FP interpolation
    is comparable across engines."""
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(float(q))), decimals).alias(
            f"q{int(round(q * 100)):02d}"
        )
        for q in qs
    ]
    return df.groupBy(*group_cols).agg(*aggs, F.count(F.lit(1)).alias("n_rows"))


def group_quantiles_approx(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    qs: Sequence[float],
    accuracy: int = 10000,
) -> DataFrame:
    """Approximate per-group quantiles via the mergeable
    ``percentile_approx`` sketch (rank error ≤ 1/accuracy) — the scale
    path: partial sketches merge map-side, so memory per task is
    O(accuracy), independent of group size."""
    aggs = [
        F.percentile_approx(F.col(value_col), F.lit(float(q)), F.lit(accuracy)).alias(
            f"q{int(round(q * 100)):02d}"
        )
        for q in qs
    ]
    return df.groupBy(*group_cols).agg(*aggs, F.count(F.lit(1)).alias("n_rows"))


def skew_profile(df, key_col: str, top: int = 20):
    """Join-key skew diagnostic: the ``top`` heaviest keys with their
    row counts and share of the table — the first thing to run before
    a 100 TB shuffle join misbehaves.  A key holding >1% of rows
    (share column) is a salting / AQE-skew-join candidate; the
    suggested salt factor is ceil(cnt / median_partition_target).

    Scale: one two-phase count on the key, then a global top-k that
    plans as per-partition heaps (TakeOrderedAndProject) — the profile
    never materializes the full key histogram on the driver."""
    from pyspark.sql import functions as F

    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col(key_col),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_total").cast("double"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("cnt"), F.col(key_col))
        .limit(top)
    )


def fixed_width_histogram(
    df: DataFrame,
    value_col: str,
    width: float,
    decimals: int = 6,
) -> DataFrame:
    """Fixed-width histogram with cumulative shares: bucket =
    ``floor(value / width)``, returning per-bucket ``lo, hi, n, share,
    cum_share``.  The corpus-profiling primitive behind length /
    score distribution dashboards and pre-packing capacity planning.

    Scale shape: the bucketing is a pure projection, the count a
    two-phase aggregate on a small key domain, and the cumulative sum
    a window over the bucket axis — O(buckets) rows, safe to compute
    on a single task regardless of input size (the window input IS the
    aggregated histogram, not the data).
    """
    return hist_decorate(histogram_counts(df, value_col, width), width, decimals)


def histogram_counts(df: DataFrame, value_col: str, width: float) -> DataFrame:
    """The MERGEABLE core of :func:`fixed_width_histogram`: the raw
    (bucket, n) table — integer counts on a fixed bucket grid, so
    tables from DISJOINT shards merge exactly by per-bucket SUM
    (:func:`hist_merge`), completing the merge lifecycle the sketch
    family has for Count-Min (SUM) and HLL (MAX).  The ratio columns
    (share/cum_share) are NOT mergeable and are recomputed from the
    merged counts by :func:`hist_decorate`."""
    return (
        df.select(F.floor(F.col(value_col) / F.lit(width)).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hist_merge(*counts: DataFrame) -> DataFrame:
    """Merge (bucket, n) histogram-count tables built with the SAME
    bucket width over DISJOINT shards: per-bucket SUM equals the
    counts of the union — exactly (integer bin counts are
    associative-commutative).  Same disjointness contract as
    ``sketch.cm_merge`` (a row in two shards is counted twice; widths
    are the caller's contract — bucket indices carry no width
    provenance).  Scale: a union of O(buckets)-row tables + one
    bounded two-phase aggregate."""
    if not counts:
        raise ValueError("hist_merge: need at least one counts table")
    merged = counts[0]
    for c in counts[1:]:
        merged = merged.unionByName(c)
    return merged.groupBy("bucket").agg(F.sum("n").alias("n"))


def hist_decorate(
    counts: DataFrame, width: float, decimals: int = 6
) -> DataFrame:
    """Attach lo/hi edges and share/cum_share ratios to a (bucket, n)
    counts table — the presentation step of
    :func:`fixed_width_histogram`, applied AFTER any
    :func:`hist_merge`.  The window input is the aggregated histogram
    (O(buckets) rows), never the data."""
    from pyspark.sql.window import Window as W

    total = W.partitionBy()
    order = W.partitionBy().orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return counts.select(
        "bucket",
        (F.col("bucket") * F.lit(width)).cast("double").alias("lo"),
        ((F.col("bucket") + 1) * F.lit(width)).cast("double").alias("hi"),
        "n",
        F.round(F.col("n") / F.sum("n").over(total), decimals).alias("share"),
        F.round(
            F.sum("n").over(order) / F.sum("n").over(total), decimals
        ).alias("cum_share"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: Sequence[float],
    lo: float,
    hi: float,
    n_bins: int,
    decimals: int = 6,
) -> DataFrame:
    """Per-group quantiles from a fixed-width histogram — the
    DETERMINISTIC mergeable scale path.  ``percentile_approx``'s GK
    sketch is partition-layout-dependent (same data, different
    partitioning → different estimate), so it can never be
    oracle-paired; a histogram is order-free (integer bin counts are
    associative-commutative-exact), giving run-stable, cross-engine-
    exact estimates with error bounded by the bin width
    ``(hi-lo)/n_bins``.

    Rule: bin = clamp(floor((v-lo)/w), 0, n_bins-1) (values outside
    [lo, hi] clamp into the edge bins — pick bounds from a prior
    :func:`winsorized_stats`/:func:`fixed_width_histogram` pass);
    estimate for quantile q = UPPER edge of the first bin whose
    cumulative count reaches ceil(q·n) (type-1 rank; q ∈ (0, 1]).
    NULL values are dropped before binning (``n_rows`` counts only
    non-NULL values) — without the explicit filter a NULL bin would
    sort FIRST in Spark's cumulative window but LAST in DuckDB's,
    silently skewing every estimate by the NULL count.
    |estimate − true type-1 quantile| ≤ w whenever the true value lies
    inside [lo, hi] (pinned by a contract test against the exact
    order statistic).

    Scale shape: ONE two-phase count on (group, bin) — ≤ n_bins rows
    per group — then window math and a broadcast cross join with the
    |qs|-row quantile table over that aggregate; nothing downstream of
    the aggregate ever sees corpus-sized data.  Returns (group, q,
    est, n_rows) ordered by (group, q)."""
    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError("histogram_quantiles: each q must be in (0, 1]")
    if n_bins < 1 or not hi > lo:
        raise ValueError("histogram_quantiles: need n_bins >= 1 and hi > lo")
    from pyspark.sql.window import Window as W

    w = (float(hi) - float(lo)) / int(n_bins)
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(w))
            .cast("long"),
            F.lit(0),
        ),
        F.lit(int(n_bins) - 1),
    )
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), bin_.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = W.partitionBy("grp").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy("grp")
    cum = counts.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n_rows", F.sum("c").over(w_all)
    )
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in sorted(qs)], "q double")
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n_rows")))
        .groupBy(F.col("grp").alias(group_col), "q")
        .agg(
            F.round(
                F.lit(float(lo)) + (F.min("bin") + F.lit(1)) * F.lit(w), decimals
            ).alias("est"),
            F.max("n_rows").alias("n_rows"),
        )
        .orderBy(group_col, "q")
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float = 0.05,
    hi: float = 0.95,
    decimals: int = 6,
) -> DataFrame:
    """Per-group winsorization audit: clamp ``value_col`` to the
    group's exact [lo, hi] quantiles and report mean before/after plus
    the clamp counts — the outlier-robust normalization pass quality
    filters run before thresholding heavy-tailed signals (doc length,
    perplexity) whose raw means a handful of giants dominate.

    The reference has no quantile operator (SURVEY §2.7 extension);
    quantile semantics are the R-7 interpolation both ``F.percentile``
    and DuckDB's ``quantile_cont`` implement.

    Scale shape: one two-phase aggregate per group for the bounds
    (exact percentile is per-group single-task — fine for bounded
    group domains like source/lang; use group_quantiles_approx
    upstream for unbounded ones), then the bounds table (one row per
    group) broadcasts back for the clamp — the data itself shuffles
    ONCE for the final per-group means.  Means are rounded: the
    clamped sum is an unordered double reduction."""
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(F.col(value_col), F.lit(float(lo))).alias("_qlo"),
        F.percentile(F.col(value_col), F.lit(float(hi))).alias("_qhi"),
    )
    v = F.col(value_col).cast("double")
    clamped = F.least(F.greatest(v, F.col("_qlo")), F.col("_qhi"))
    return (
        df.join(F.broadcast(bounds), list(group_cols))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg(v), decimals).alias("mean_raw"),
            F.round(F.avg(clamped), decimals).alias("mean_winsor"),
            F.sum((v < F.col("_qlo")).cast("long")).alias("n_clamped_lo"),
            F.sum((v > F.col("_qhi")).cast("long")).alias("n_clamped_hi"),
            F.round(F.min("_qlo"), decimals).alias("q_lo"),
            F.round(F.min("_qhi"), decimals).alias("q_hi"),
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    threshold: float = 2.0,
    decimals: int = 6,
) -> DataFrame:
    """Rows whose ``value_col`` deviates ≥ ``threshold`` sample
    standard deviations from their group mean — the per-stratum
    anomaly flag (absurdly long/short docs per language, price
    outliers per segment).  The reference has no statistical
    aggregates beyond count/sum/min/max/avg (SURVEY §2.5 —
    extension).

    Scale shape: the (mean, stddev) pairs are ONE two-phase aggregate
    over the group key; the one-row-per-group stats table broadcasts
    back, so the detection pass is a map-side probe + filter with no
    second data shuffle.  Groups with zero variance (or a single row)
    emit no outliers rather than dividing by zero."""
    stats = df.groupBy(*group_cols).agg(
        F.avg(F.col(value_col).cast("double")).alias("_mu"),
        F.stddev_samp(F.col(value_col).cast("double")).alias("_sd"),
    )
    z = (F.col(value_col).cast("double") - F.col("_mu")) / F.col("_sd")
    return (
        df.join(F.broadcast(stats), list(group_cols))
        .filter(F.col("_sd").isNotNull() & (F.col("_sd") > 0))
        .select(
            *group_cols,
            F.col(id_col),
            F.col(value_col),
            F.round(z, decimals).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) >= F.lit(float(threshold)))
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    threshold: float = 3.5,
    decimals: int = 6,
) -> DataFrame:
    """Robust per-group outliers via the modified z-score
    ``0.6745 · (x − median) / MAD`` (Iglewicz & Hoaglin's rule, flag
    at |score| ≥ 3.5) — :func:`zscore_outliers`'s robust twin: a
    handful of extreme values inflates the mean/stddev until they MASK
    each other (law-tested), while the median and the median absolute
    deviation have a 50% breakdown point, so the same extremes score
    in the hundreds.  The curation use: corrupt-document detection per
    language/source where corruption itself distorts the moments.

    Returns (group..., id, value, mscore) for |mscore| ≥ threshold,
    rounded to ``decimals``; groups with MAD = 0 (over half the values
    identical) emit no outliers rather than dividing by zero.

    Scale shape: two exact-percentile aggregates (median, then MAD
    over broadcast-joined deviations) and a broadcast probe — two
    corpus passes.  At 100 TB use :func:`mad_outliers_approx` — the
    same two passes over mergeable histogram bins; the exact form
    here is the oracle-pairable contract."""
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    med = df.groupBy(*g).agg(F.percentile(v, F.lit(0.5)).alias("_med"))
    dev = df.join(F.broadcast(med), g).select(
        *g,
        F.col(id_col),
        F.col(value_col),
        (v - F.col("_med")).alias("_delta"),
        F.abs(v - F.col("_med")).alias("_ad"),
    )
    mad = dev.groupBy(*g).agg(F.percentile(F.col("_ad"), F.lit(0.5)).alias("_mad"))
    score = F.round(F.lit(0.6745) * F.col("_delta") / F.col("_mad"), decimals)
    return (
        dev.join(F.broadcast(mad), g)
        .filter(F.col("_mad") > 0)
        .select(*g, F.col(id_col), F.col(value_col), score.alias("mscore"))
        .filter(F.abs(F.col("mscore")) >= F.lit(float(threshold)))
    )


def _hist_median_est(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    n_bins: int,
    out_name: str,
) -> DataFrame:
    """Per-group approximate median from a fixed-width histogram —
    the :func:`histogram_quantiles` rule (type-1 rank, upper bin
    edge, NULLs dropped, out-of-range values clamped into the edge
    bins) specialized to q = 0.5 and generalized to a composite group
    key.  Returns one row per group: (group..., out_name)."""
    from pyspark.sql.window import Window as W

    g = list(group_cols)
    w = (float(hi) - float(lo)) / int(n_bins)
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.greatest(F.floor((v - F.lit(float(lo))) / F.lit(w)).cast("long"), F.lit(0)),
        F.lit(int(n_bins) - 1),
    )
    counts = (
        df.filter(v.isNotNull())
        .select(*g, bin_.alias("_bin"))
        .groupBy(*g, "_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = W.partitionBy(*g).orderBy("_bin").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy(*g)
    return (
        counts.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_n", F.sum("_c").over(w_all))
        .filter(F.col("_cum") >= F.ceil(F.lit(0.5) * F.col("_n")))
        .groupBy(*g)
        .agg(
            (F.lit(float(lo)) + (F.min("_bin") + F.lit(1)) * F.lit(w)).alias(out_name)
        )
    )


def mad_outliers_approx(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    id_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    threshold: float = 3.5,
    decimals: int = 6,
) -> DataFrame:
    """:func:`mad_outliers`'s mergeable 100 TB form — the histogram-bin
    swap its docstring prescribes.  Both percentile passes (the group
    median, then the MAD over absolute deviations) run as fixed-width
    histogram medians (:func:`histogram_quantiles` rule: integer bin
    counts are associative-commutative-exact, so unlike
    ``percentile_approx``'s partition-layout-dependent GK sketch the
    result is run-stable and oracle-pairable), with error ≤ one bin
    width per pass whenever the true statistic lies inside the range:
    values bin over [lo, hi], deviations over [0, hi−lo], both with
    ``n_bins`` bins.

    Degenerate groups need no special case here: the MAD estimate is
    an upper bin edge, so it is floored at one deviation-bin width —
    the resolution-floor regularization practitioners add as +ε —
    and a constant group's |deviation| ≤ one value-bin width scores
    ≈ 0.6745, never reaching any sane threshold.

    Scale shape: two (group, bin) two-phase counts (each ≤ n_bins rows
    per group after the partial), two broadcast probes — two corpus
    scans, nothing downstream of an aggregate sees corpus-sized data,
    and every intermediate is mergeable across shards.  Returns the
    same (group..., id, value, mscore) shape as :func:`mad_outliers`.
    """
    if n_bins < 1 or not hi > lo:
        raise ValueError("mad_outliers_approx: need n_bins >= 1 and hi > lo")
    g = list(group_cols)
    v = F.col(value_col).cast("double")
    med = _hist_median_est(df, value_col, g, lo, hi, n_bins, "_med")
    dev = df.join(F.broadcast(med), g).select(
        *g,
        F.col(id_col),
        F.col(value_col),
        (v - F.col("_med")).alias("_delta"),
        F.abs(v - F.col("_med")).alias("_ad"),
    )
    mad = _hist_median_est(
        dev, "_ad", g, 0.0, float(hi) - float(lo), n_bins, "_mad"
    )
    score = F.round(F.lit(0.6745) * F.col("_delta") / F.col("_mad"), decimals)
    return (
        dev.join(F.broadcast(mad), g)
        .select(*g, F.col(id_col), F.col(value_col), score.alias("mscore"))
        .filter(F.abs(F.col("mscore")) >= F.lit(float(threshold)))
    )


def group_ecdf(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    decimals: int = 6,
) -> DataFrame:
    """Per-group empirical CDF / percentile rank WITHOUT a per-group
    row sort: P(X <= v) for every distinct (group, value) — the
    quantile-normalization primitive ("is this doc long for ITS
    source?") that `percent_rank() OVER (PARTITION BY group ORDER BY
    v)` answers with a full per-group sort of every ROW on one task.
    Here rows collapse first into a two-phase (group, value) count, the
    cumulative SUM runs over the per-group DISTINCT-VALUE relation —
    bounded by the value domain, not the row count — and the group
    total broadcasts back.  Returns (group..., value, n, cum_n, ecdf)
    with ecdf = cum_n / total rounded to ``decimals``.

    Contract: meant for discrete / integer-grained values (lengths,
    counts, bucketed scores) where the per-group distinct-value set is
    domain-bounded.  For continuous doubles quantize first
    (:func:`histogram_quantiles`'s binning) or the distinct relation
    degenerates back to row-grain — the same contract DuckDB-style
    engines assume for ECDF over histograms."""
    from pyspark.sql.window import Window as W

    g = list(group_cols)
    counts = df.groupBy(*g, value_col).agg(F.count(F.lit(1)).alias("n"))
    w_cum = (
        W.partitionBy(*g)
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum_n", F.sum("n").over(w_cum))
    tot = counts.groupBy(*g).agg(F.sum("n").alias("_total"))
    return (
        cum.join(F.broadcast(tot), g)
        .select(
            *g,
            F.col(value_col),
            "n",
            "cum_n",
            F.round(F.col("cum_n") / F.col("_total"), decimals).alias("ecdf"),
        )
    )


def psi_vs_reference(
    df: DataFrame,
    ref: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    n_bins: int,
    eps: float = 1e-6,
    decimals: int = 6,
) -> DataFrame:
    """Per-group Population Stability Index against a reference corpus
    — the classic scorecard-monitoring drift metric
    (PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i), rule of thumb: < 0.1 stable,
    0.1–0.25 drifting, > 0.25 shifted) over BINNED VALUE distributions
    (lengths, quality scores, token counts), complementing the
    token-space JSD monitor (:func:`spear_spark.operators.relevance.
    jsd_vs_reference`): JSD asks "is the vocabulary drifting?", PSI
    asks "is this numeric profile drifting?" — the pair covers both
    monitor axes a curation dashboard tracks.

    Binning is the :func:`histogram_quantiles` clamp rule (fixed-width
    over [lo, hi], out-of-range values clamped into the edge bins,
    NULLs AND NaNs dropped — :func:`finite_values`, or a double
    column's NaNs would silently clamp into bin 0) so the bin counts
    are associative-commutative
    integers — mergeable across shards, run-stable, oracle-pairable.
    Empty bins take the standard ``eps`` substitution on the SHARE
    (p = greatest(count/total, eps)), making every term finite and the
    whole statistic a deterministic function of the two count tables;
    identical distributions give exactly 0.0 (p == q per bin → every
    term is 0.0 before any rounding).

    Scale shape: two two-phase (…, bin) counts (each ≤ n_bins rows per
    group after the partial), the complete bin grid is generated per
    group (groups × n_bins rows — bounded by geometry, not data), the
    reference bin table and both totals broadcast back, one bounded
    per-group SUM.  Nothing downstream of an aggregate sees data-sized
    rows.  Returns ``(group…, psi)`` rounded to ``decimals``; the
    per-bin double terms sum unordered, so treat the last digit as
    epsilon-tolerant (the JSD family's documented caveat — ROUND(…, 6)
    absorbs association noise in practice).
    """
    if n_bins < 1 or not hi > lo:
        raise ValueError("psi_vs_reference: need n_bins >= 1 and hi > lo")
    g = list(group_cols)
    gc = (
        df.filter(finite_values(F.col(value_col)))
        .select(*g, value_bin(F.col(value_col), lo, hi, n_bins).alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rc = (
        ref.filter(finite_values(F.col(value_col)))
        .select(value_bin(F.col(value_col), lo, hi, n_bins).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return psi_from_bins(gc, g, rc, n_bins, eps=eps, decimals=decimals)


def finite_values(c: Column) -> Column:
    """NULL- and NaN-dropping predicate for the binned drift producers
    (:func:`psi_vs_reference` and the streaming
    :func:`~spear_spark.streaming.daily_value_bins_stream` — one
    definition so batch and stream cannot drift): a NaN fed to
    :func:`value_bin` would silently land in bin 0 ((NaN−lo)/w stays
    NaN, floor+cast yields NULL, greatest/least clamp it to 0), skewing
    the lowest bin and diverging from any oracle that errors on
    CAST(NaN AS BIGINT).  The cast makes ``isnan`` total over integer
    columns (never NaN after cast)."""
    return c.isNotNull() & ~F.isnan(c.cast("double"))


def value_bin(c: Column, lo: float, hi: float, n_bins: int) -> Column:
    """The fixed-width clamp binning rule shared by the histogram
    family (:func:`histogram_quantiles` / :func:`mad_outliers_approx`
    / :func:`psi_vs_reference` / the streaming daily-bins producer):
    floor((v − lo)/w) clamped into [0, n_bins); NULL passes through
    (callers drop or route NULLs explicitly)."""
    w = (float(hi) - float(lo)) / int(n_bins)
    v = c.cast("double")
    return F.least(
        F.greatest(
            F.floor((v - F.lit(float(lo))) / F.lit(w)).cast("long"), F.lit(0)
        ),
        F.lit(int(n_bins) - 1),
    )


def psi_from_bins(
    bin_counts: DataFrame,
    key_cols: Sequence[str],
    ref_bins: DataFrame,
    n_bins: int,
    bin_col: str = "bin",
    c_col: str = "c",
    eps: float = 1e-6,
    decimals: int = 6,
) -> DataFrame:
    """:func:`psi_vs_reference`'s math over PRE-AGGREGATED
    ``(key…, bin, count)`` tables — the drift-from-persisted-tables
    form (the :func:`~spear_spark.operators.relevance.jsd_vs_reference`
    posture): score a drained streaming day, a shard's profile, or any
    stored histogram against a reference histogram without re-scanning
    raw data.  Composes with
    :func:`spear_spark.streaming.daily_value_bins_stream`'s drained
    daily tables (batch-equivalence tested there).  Same grid /
    eps-floor / rounding conventions as :func:`psi_vs_reference` —
    the raw-data form delegates here, so the two can never drift.

    Contract: rows must be UNIQUE per (key…, bin) with bins inside
    [0, n_bins) — exactly what :func:`value_bin` produces (it clamps);
    re-aggregate (SUM) unioned shards first, and never mix tables
    built with different bin geometries (bin indices carry no
    provenance, the :func:`hist_merge` caveat)."""
    keys = list(key_cols)
    gc = bin_counts.select(
        *keys, F.col(bin_col).alias("_bin"), F.col(c_col).alias("_gc")
    )
    rc = ref_bins.select(F.col(bin_col).alias("_rbin"), F.col(c_col).alias("_rc"))
    # the grid side re-aliases every column: totals and the grid both
    # stem from `bin_counts`, and some leaf plans (memory-sink views,
    # drained streaming tables) defeat Spark's same-exprId self-join
    # deduplication (the jsd_vs_reference convention)
    tks = [f"_k{i}" for i in range(len(keys))]
    gtot = (
        gc.groupBy(*keys)
        .agg(F.sum("_gc").alias("_gn"))
        .select(*[F.col(k).alias(a) for k, a in zip(keys, tks)], "_gn")
    )
    rtot = rc.agg(F.sum("_rc").alias("_rn"))
    # complete bin grid per key: keys × [0, n_bins) — geometry-bounded
    grid = gtot.select(
        *tks,
        "_gn",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_bins) - 1))).alias("_gbin"),
    )
    p = F.greatest(
        F.coalesce(F.col("_gc"), F.lit(0)).cast("double") / F.col("_gn"),
        F.lit(float(eps)),
    )
    q = F.greatest(
        F.coalesce(F.col("_rc"), F.lit(0)).cast("double") / F.col("_rn"),
        F.lit(float(eps)),
    )
    term = (p - q) * F.log(p / q)
    on = [F.col(a).eqNullSafe(F.col(k)) for a, k in zip(tks, keys)]
    on.append(F.col("_gbin") == F.col("_bin"))
    joined = grid.join(gc, on, "left").join(
        F.broadcast(rc), F.col("_gbin") == F.col("_rbin"), "left"
    )
    return (
        joined.crossJoin(F.broadcast(rtot))
        .groupBy(*tks)
        .agg(F.round(F.sum(term), decimals).alias("psi"))
        .select(*[F.col(a).alias(k) for a, k in zip(tks, keys)], "psi")
    )


def ks_vs_reference(
    df: DataFrame,
    ref: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    decimals: int = 6,
    max_ref_points: int | None = 100_000,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov statistic against a
    reference corpus: KS = max over observed values of
    |ECDF_group(v) − ECDF_ref(v)| — the UNBINNED nonparametric member
    of the drift-monitor triad (token-space JSD
    :func:`~spear_spark.operators.relevance.jsd_vs_reference`, binned
    PSI :func:`psi_vs_reference`, unbinned KS here): PSI answers with
    a fixed grid and eps convention, KS needs neither — it is exact
    arithmetic (two integer-count divisions, one subtraction, one
    order-free MAX per group), so the statistic carries no tuning
    parameters and no FP-association tolerance.

    Mechanics without a per-group row sort (the :func:`group_ecdf`
    posture): rows collapse into two-phase (group, value) / (value)
    counts; the evaluation points are each group's distinct values ∪
    the reference's distinct values (broadcast — value domains are
    bounded for the discrete/integer-grained columns this contract
    covers, same as :func:`group_ecdf`); each side's ECDF at every
    point comes from one cumulative-MAX window over the per-group
    DISTINCT-VALUE relation — state bounded by the value domain, not
    the row count.  NULLs are dropped on both sides.  Returns
    ``(group…, ks)`` rounded to ``decimals``.

    The bounded-domain contract is ENFORCED, not just documented: the
    reference-side cumulative window is unpartitioned (SinglePartition
    by construction), so a continuous-double column — where "distinct
    values" ≈ row count — would silently degenerate into one task
    sorting a data-sized relation at scale.  ``max_ref_points``
    (default 100k) is a loud ceiling on the reference's distinct-value
    count, checked inside the plan (no extra driver action): exceeding
    it raises at execution with a pointer to the binned
    :func:`psi_vs_reference` fallback.  ``None`` disables the guard
    for a deliberate over-ceiling run."""
    from pyspark.sql.window import Window as W

    g = list(group_cols)
    tks = [f"_k{i}" for i in range(len(g))]
    gc = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*g, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = W.partitionBy(*g).orderBy(value_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    gcum = gc.select(
        *[F.col(k).alias(a) for k, a in zip(g, tks)],
        F.col(value_col).alias("_gv"),
        F.sum("_c").over(w_cum).alias("_gcum"),
        F.sum("_c").over(W.partitionBy(*g)).alias("_gn"),
    )
    rc = (
        ref.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    rcum = rc.select(
        F.col(value_col).alias("_rv"),
        F.sum("_c")
        .over(W.orderBy(value_col).rowsBetween(W.unboundedPreceding, 0))
        .alias("_rcum"),
    )
    # the total rides with the distinct-point count so the bounded-
    # domain contract fails loudly INSIDE the plan: _rn is only usable
    # when the reference domain respects the ceiling
    rtot_raw = rc.agg(
        F.sum("_c").alias("_rn0"), F.count(F.lit(1)).alias("_npts")
    )
    if max_ref_points is not None:
        rtot = rtot_raw.select(
            F.when(
                F.col("_npts") > int(max_ref_points),
                F.raise_error(
                    F.format_string(
                        "ks_vs_reference: reference value domain has %s "
                        "distinct values (> max_ref_points=%s) — the "
                        "unpartitioned cumulative window would single-task "
                        "a data-sized relation; bin the column and use "
                        "psi_vs_reference, or pass max_ref_points=None "
                        "deliberately",
                        F.col("_npts"),
                        F.lit(int(max_ref_points)),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("_rn0"))
            .alias("_rn")
        )
    else:
        rtot = rtot_raw.select(F.col("_rn0").alias("_rn"))
    # evaluation grid: each group's values ∪ the reference's values
    # (both distinct relations — domain-bounded by contract)
    gkeys = gcum.select(*tks).distinct()
    pts = (
        gcum.select(*tks, F.col("_gv").alias("_v"))
        .unionByName(
            gkeys.crossJoin(F.broadcast(rcum.select(F.col("_rv").alias("_v"))))
        )
        .distinct()
    )
    # ECDF at each point = cumulative count of the LAST value <= point,
    # via a forward-fill MAX over the joined point/value relation
    # (join on names: pts carries tks and _v; each side's distinct-value
    # cum table matches on value equality, missing points fill forward)
    w_ff = W.partitionBy(*tks).orderBy("_v").rowsBetween(
        W.unboundedPreceding, 0
    )
    joined = pts.join(
        gcum.withColumnRenamed("_gv", "_v"), [*tks, "_v"], "left"
    ).join(F.broadcast(rcum.withColumnRenamed("_rv", "_v")), ["_v"], "left")
    filled = joined.select(
        *tks,
        "_v",
        F.max("_gcum").over(w_ff).alias("_gF"),
        F.max("_rcum").over(w_ff).alias("_rF"),
        F.max("_gn").over(W.partitionBy(*tks)).alias("_gN"),
    )
    diff = F.abs(
        F.coalesce(F.col("_gF"), F.lit(0)).cast("double") / F.col("_gN")
        - F.coalesce(F.col("_rF"), F.lit(0)).cast("double") / F.col("_rn")
    )
    return (
        filled.crossJoin(F.broadcast(rtot))
        .groupBy(*tks)
        .agg(F.round(F.max(diff), decimals).alias("ks"))
        .select(*[F.col(a).alias(k) for a, k in zip(tks, g)], "ks")
    )


def filter_agreement(
    df: DataFrame,
    flag_a: str,
    flag_b: str,
    decimals: int = 6,
) -> DataFrame:
    """Agreement between two per-document boolean filters as a
    confusion table + Cohen's kappa — the "do my two quality gates
    agree beyond chance?" diagnostic a curation pipeline runs before
    swapping one filter for another (a raw 95% overlap means nothing
    when one filter passes 95% of everything; kappa corrects for the
    marginals).  One row: ``(n, n_both, n_a_only, n_b_only,
    n_neither, po, pe, kappa)`` with po observed agreement, pe the
    chance agreement of the two marginals, kappa = (po−pe)/(1−pe)
    (degenerate identical marginals — pe == 1, only possible with
    po == 1 — read 1.0 by convention).

    Contract: flags must be NON-NULL booleans (``gopher_rules``' keep
    is total by construction; coalesce anything else) — a NULL would
    silently vanish from every cell and skew the marginals, so NULLs
    raise via an in-plan guard instead.

    Scale shape: ONE two-phase global aggregate of four conditional
    counts; everything after is scalar arithmetic on the 1-row result.
    All shares derive from exact int64 counts (single double ops,
    rounded, −0.0-canonicalized) — hash-exact cross-engine."""
    a, b = F.col(flag_a), F.col(flag_b)
    guard = F.when(
        a.isNull() | b.isNull(),
        F.raise_error(
            F.lit(
                "filter_agreement: NULL flag — coalesce both filter "
                "columns to booleans first"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    agg = df.select(a.alias("_a"), b.alias("_b"), guard.alias("_g")).agg(
        F.sum("_g").alias("n"),
        F.sum((F.col("_a") & F.col("_b")).cast("long")).alias("n_both"),
        F.sum((F.col("_a") & ~F.col("_b")).cast("long")).alias("n_a_only"),
        F.sum((~F.col("_a") & F.col("_b")).cast("long")).alias("n_b_only"),
        F.sum((~F.col("_a") & ~F.col("_b")).cast("long")).alias("n_neither"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n_both") + F.col("n_neither")) / n
    pa = (F.col("n_both") + F.col("n_a_only")) / n
    pb = (F.col("n_both") + F.col("n_b_only")) / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    kappa = F.when(pe == 1.0, F.lit(1.0)).otherwise((po - pe) / (1 - pe))
    return agg.select(
        "n",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        (F.round(po, decimals) + F.lit(0.0)).alias("po"),
        (F.round(pe, decimals) + F.lit(0.0)).alias("pe"),
        (F.round(kappa, decimals) + F.lit(0.0)).alias("kappa"),
    )


def _or_fold(conds):
    """OR-fold a non-empty list of boolean Columns."""
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def filter_agreement_matrix(
    df: DataFrame,
    flags: Sequence[str],
    decimals: int = 6,
) -> DataFrame:
    """Pairwise Cohen's kappa over a whole FILTER ENSEMBLE — the
    k-filter generalization of :func:`filter_agreement`: real curation
    stacks run several gates at once (Gopher rules, a model quality
    score, lang-id confidence, a dedup flag) and the question before
    pruning the stack is which gates are redundant (kappa ≈ 1) and
    which disagree beyond chance (kappa ≈ 0).  One row per unordered
    pair, in the caller's flag order: ``(filter_a, filter_b, n,
    n_both, n_a_only, n_b_only, n_neither, po, pe, kappa)`` — each row
    is law-tested identical to :func:`filter_agreement` on that pair.

    Contract: flags must be NON-NULL booleans (in-plan raise, the
    :func:`filter_agreement` guard) and 2 ≤ k ≤ 12 — the single-pass
    aggregate carries 3·k(k−1)/2 conditional sums, so the cap bounds
    plan size (the srp plan-bloat discipline), and 12 filters is
    already a 66-row matrix.

    Scale shape: ONE two-phase global aggregate over ONE corpus scan
    (k² never multiplies the scan — all pair cells are conditional
    sums in the same Aggregate); the matrix rows come from exploding
    a literal struct array over the 1-row result, a driver-sized
    projection.  All shares are single double ops on exact int64
    counts, rounded, −0.0-canonicalized — hash-exact cross-engine."""
    flags = list(flags)
    if not 2 <= len(flags) <= 12:
        raise ValueError(
            f"filter_agreement_matrix: need 2..12 flags, got {len(flags)}"
        )
    if len(set(flags)) != len(flags):
        raise ValueError("filter_agreement_matrix: duplicate flag names")
    k = len(flags)
    cols = [F.col(f) for f in flags]
    guard = F.when(
        _or_fold([c.isNull() for c in cols]),
        F.raise_error(
            F.lit(
                "filter_agreement_matrix: NULL flag — coalesce every "
                "filter column to booleans first"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    staged = df.select(
        *[c.alias(f"_f{i}") for i, c in enumerate(cols)], guard.alias("_g")
    )
    # one F.expr parse per aggregate (3·k(k−1)/2 + 1 Py4J calls) vs
    # ~8 Column-operator round-trips each — same expressions, same
    # plan, a fraction of the driver construction time
    aggs = [F.expr("sum(_g) AS n")]
    for i in range(k):
        for j in range(i + 1, k):
            a, b = f"_f{i}", f"_f{j}"
            aggs += [
                F.expr(f"sum(CAST(({a} AND {b}) AS BIGINT)) AS _b_{i}_{j}"),
                F.expr(f"sum(CAST(({a} AND NOT {b}) AS BIGINT)) AS _ao_{i}_{j}"),
                F.expr(f"sum(CAST((NOT {a} AND {b}) AS BIGINT)) AS _bo_{i}_{j}"),
            ]
    one = staged.agg(*aggs)
    # Stage every pair's derived scalars as FLAT columns in one
    # projection before assembling the struct array: inlining the
    # po/pe/kappa trees (pe alone is referenced 3× per pair) into 15
    # structs inside a Generate blows whole-stage codegen past the
    # 64 KB method limit (observed InternalCompilerException fallback);
    # over flat references the explode is a trivial method.
    #
    # Both post-aggregate projections are built as SQL STRINGS parsed
    # once in the JVM (selectExpr/expr), not as Column-object trees:
    # the pair loop otherwise issues thousands of Py4J round-trips
    # (~15 Column calls × 4 columns × k(k−1)/2 pairs) and the
    # DataFrame construction alone cost ~2.3 s of driver time per
    # bench run at k=9 — pure fn-phase overhead the executors never
    # see.  The parsed expressions are identical, so the analyzed
    # plan (and the result) is unchanged.
    derived = []
    for i in range(k):
        for j in range(i + 1, k):
            b, ao, bo = f"_b_{i}_{j}", f"_ao_{i}_{j}", f"_bo_{i}_{j}"
            neither = f"(n - {b} - {ao} - {bo})"
            po = f"(({b} + {neither}) / CAST(n AS DOUBLE))"
            pa = f"(({b} + {ao}) / CAST(n AS DOUBLE))"
            pb = f"(({b} + {bo}) / CAST(n AS DOUBLE))"
            pe = f"({pa} * {pb} + (1 - {pa}) * (1 - {pb}))"
            kappa = (
                f"(CASE WHEN {pe} = 1.0D THEN 1.0D "
                f"ELSE ({po} - {pe}) / (1 - {pe}) END)"
            )
            derived += [
                f"{neither} AS _ne_{i}_{j}",
                f"(round({po}, {decimals}) + 0.0D) AS _po_{i}_{j}",
                f"(round({pe}, {decimals}) + 0.0D) AS _pe_{i}_{j}",
                f"(round({kappa}, {decimals}) + 0.0D) AS _ka_{i}_{j}",
            ]
    flat = one.selectExpr("*", *derived)
    def _slit(name: str) -> str:
        # flag names become SQL string literals in the struct labels
        return name.replace("\\", "\\\\").replace("'", "\\'")

    pair_structs = ", ".join(
        f"struct('{_slit(flags[i])}' AS filter_a, '{_slit(flags[j])}' AS filter_b, "
        f"n AS n, _b_{i}_{j} AS n_both, _ao_{i}_{j} AS n_a_only, "
        f"_bo_{i}_{j} AS n_b_only, _ne_{i}_{j} AS n_neither, "
        f"_po_{i}_{j} AS po, _pe_{i}_{j} AS pe, _ka_{i}_{j} AS kappa)"
        for i in range(k)
        for j in range(i + 1, k)
    )
    return flat.select(
        F.explode(F.expr(f"array({pair_structs})")).alias("_p")
    ).select("_p.*")



def score_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    decimals: int = 6,
    score_decimals: int | None = None,
) -> DataFrame:
    """ROC AUC of a continuous score against a boolean reference label
    via the tie-corrected Mann-Whitney statistic — the third member of
    the filter-evaluation family (:func:`filter_agreement` answers "do
    two BINARY gates agree"; this answers "how well does a CONTINUOUS
    score rank kept docs above dropped ones before I pick a
    threshold").  AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻)
    over positive/negative pairs.  One row (per group):
    ``(group?, n_pos, n_neg, n_scores, auc)``; ``auc`` is NULL when a
    side is empty (undefined, not 0/1 — a silent default would read as
    a perfect/worthless score).

    Computed over the SCORE-VALUE HISTOGRAM, never pairs or per-row
    ranks: group scores to (value, n_pos, n_neg) cells, one ordered
    cumulative pass over the cells, then 2·Σ_v pos_v·(2·cumneg_<v +
    neg_v) is an exact integer numerator (ties get the ½ credit via
    the ·2 scaling — no FP until the final division).  The multiply
    runs in decimal(38,0): int64 would overflow at n_pos·n_neg >
    ~4.6e18, i.e. routine at corpus scale.

    Contract: labels must be NON-NULL booleans and scores NON-NULL and
    non-NaN (in-plan raise, the :func:`filter_agreement` discipline) —
    a vanished row skews the pair space silently.

    Scale shape: ONE two-phase aggregate on (group, score) — map-side
    partials collapse the corpus to |distinct scores| cells before the
    exchange — then a window over the CELL table.  With a continuous
    score every value is distinct and the cell table is data-sized:
    pass ``score_decimals`` to pre-round the score onto a bounded grid
    (≤ 2·10^d + 1 cells for scores in [-1, 1]), which makes the window
    input geometry-bounded at any corpus size.  The catalog scores
    (p09) are already 6-dp-rounded, so their grid is bounded by
    construction."""
    from pyspark.sql.window import Window as W

    s = F.col(score_col).cast("double")
    if score_decimals is not None:
        s = F.round(s, score_decimals)
    y = F.col(label_col)
    guard = F.when(
        y.isNull() | s.isNull() | F.isnan(s),
        F.raise_error(
            F.lit(
                "score_auc: NULL label or NULL/NaN score — coalesce or "
                "filter rows first (a vanished row skews the pair space)"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    gcols = [group_col] if group_col else []
    cells = (
        df.select(*gcols, s.alias("_s"), y.cast("boolean").alias("_y"), guard.alias("_g"))
        .groupBy(*gcols, "_s")
        .agg(
            F.sum(F.when(F.col("_y"), F.col("_g")).otherwise(0)).alias("_pos"),
            F.sum(F.when(~F.col("_y"), F.col("_g")).otherwise(0)).alias("_neg"),
        )
    )
    w = (
        W.partitionBy(*gcols)
        .orderBy("_s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum_neg_below = F.sum("_neg").over(w) - F.col("_neg")
    dec = "decimal(38,0)"
    term = F.col("_pos").cast(dec) * (
        cum_neg_below.cast(dec) * 2 + F.col("_neg").cast(dec)
    )
    agg = (
        cells.select(*gcols, "_pos", "_neg", term.alias("_t"))
        .groupBy(*gcols)
        .agg(
            F.sum("_pos").alias("n_pos"),
            F.sum("_neg").alias("n_neg"),
            F.count(F.lit(1)).alias("n_scores"),
            F.sum("_t").alias("_num"),
        )
    )
    denom = 2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(F.col("_num").cast("double") / denom, decimals) + F.lit(0.0),
    )
    return agg.select(*gcols, "n_pos", "n_neg", "n_scores", auc.alias("auc"))


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    decimals: int = 6,
    score_decimals: int | None = None,
) -> DataFrame:
    """Full operating-point sweep of a quality score against a boolean
    reference: one row per distinct score value ``t`` with the
    confusion counts and precision/recall/F1 of the rule
    ``keep iff score >= t`` — the "pick the threshold" readout that
    completes the filter-eval family (:func:`score_auc` says whether
    the score ranks well AT ALL; this says what each cut actually
    costs).  Columns: ``(threshold, tp, fp, fn, tn, precision,
    recall, f1)``; recall/f1 are NULL when positives are absent
    entirely (undefined, not 0).

    Same engine as :func:`score_auc`: the corpus collapses to the
    score-value histogram via ONE two-phase aggregate; a single
    descending cumulative window over the CELL table yields every
    TP/FP simultaneously (never one pass per candidate threshold —
    the naive sweep is O(thresholds · corpus)).  All counts are exact
    int64; ratios are single rounded divisions.

    Contract and scale shape as :func:`score_auc` — labels non-NULL
    boolean, scores non-NULL/non-NaN (in-plan raise);
    ``score_decimals`` bounds the cell grid for continuous scores."""
    from pyspark.sql.window import Window as W

    s = F.col(score_col).cast("double")
    if score_decimals is not None:
        s = F.round(s, score_decimals)
    y = F.col(label_col)
    guard = F.when(
        y.isNull() | s.isNull() | F.isnan(s),
        F.raise_error(
            F.lit(
                "threshold_sweep: NULL label or NULL/NaN score — "
                "coalesce or filter rows first"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    cells = (
        df.select(s.alias("_s"), y.cast("boolean").alias("_y"), guard.alias("_g"))
        .groupBy("_s")
        .agg(
            F.sum(F.when(F.col("_y"), F.col("_g")).otherwise(0)).alias("_pos"),
            F.sum(F.when(~F.col("_y"), F.col("_g")).otherwise(0)).alias("_neg"),
        )
    )
    w_ge = (
        W.partitionBy()
        .orderBy(F.desc("_s"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy()
    staged = cells.select(
        F.col("_s").alias("threshold"),
        F.sum("_pos").over(w_ge).alias("tp"),
        F.sum("_neg").over(w_ge).alias("fp"),
        (F.sum("_pos").over(w_all) - F.sum("_pos").over(w_ge)).alias("fn"),
        (F.sum("_neg").over(w_all) - F.sum("_neg").over(w_ge)).alias("tn"),
    )
    p_total = F.col("tp") + F.col("fn")
    precision = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast(
        "double"
    )
    recall = F.when(
        p_total > 0, F.col("tp").cast("double") / p_total.cast("double")
    )
    f1 = F.when(
        p_total > 0,
        (2 * F.col("tp")).cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    )
    return staged.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        (F.round(precision, decimals) + F.lit(0.0)).alias("precision"),
        (F.round(recall, decimals) + F.lit(0.0)).alias("recall"),
        (F.round(f1, decimals) + F.lit(0.0)).alias("f1"),
    )


def source_quality_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str,
    decimals: int = 6,
    score_decimals: int | None = None,
) -> DataFrame:
    """Per-source curation dashboard: for each group, the reference
    filter's keep RATE, the mean score, and the score's within-group
    AUC against the filter — the one-scan readout a curation run
    consults before dropping or down-weighting a source ("src7 keeps
    40%, scores low, AND the cheap score can't even rank its docs" is
    three different problems).  One row per group: ``(group, n_docs,
    keep_rate, mean_score, n_pos, n_neg, auc)``; auc NULL when a side
    is empty (the :func:`score_auc` convention).

    Composition: the confusion-side columns are ONE two-phase
    aggregate on the group key; the AUC is :func:`score_auc` grouped
    (the cell histogram on (group, score)); the two bounded aggregates
    join on the group key — the corpus is scanned once per aggregate,
    nothing is row-joined.  Guards inherit from :func:`score_auc`
    (NULL label / NULL-NaN score raise in-plan).

    ``mean_score`` sums the score on the exact integer micro-grid
    (scores are 6-dp grid values by the catalog contract) before ONE
    final division — association-order-proof, the p159 discipline."""
    s = F.col(score_col).cast("double")
    if score_decimals is not None:
        s = F.round(s, score_decimals)
    y = F.col(label_col)
    guard = F.when(
        y.isNull() | s.isNull() | F.isnan(s),
        F.raise_error(
            F.lit(
                "source_quality_report: NULL label or NULL/NaN score — "
                "coalesce or filter rows first"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    # scores arrive on a 6-dp grid (the catalog contract): lift them
    # onto the exact integer micro-grid BEFORE summation — a double
    # SUM of grid values is association-order-dependent and can
    # straddle a rounding midpoint (the p159 flake class)
    base = (
        df.select(
            F.col(group_col).alias("group"),
            F.round(s * F.lit(1_000_000.0), 0).cast("long").alias("_sm"),
            y.cast("boolean").alias("_y"),
            guard.alias("_g"),
        )
        .groupBy("group")
        .agg(
            F.sum("_g").alias("n_docs"),
            F.sum(F.col("_y").cast("long")).alias("_n_keep"),
            F.sum("_sm").alias("_score_sum_m"),
        )
    )
    rates = base.select(
        "group",
        "n_docs",
        (
            F.round(
                F.col("_n_keep").cast("double") / F.col("n_docs").cast("double"),
                decimals,
            )
            + F.lit(0.0)
        ).alias("keep_rate"),
        (
            F.round(
                F.col("_score_sum_m").cast("double")
                / (F.col("n_docs").cast("double") * F.lit(1_000_000.0)),
                decimals,
            )
            + F.lit(0.0)
        ).alias("mean_score"),
    )
    auc = score_auc(
        df, score_col, label_col, group_col, decimals, score_decimals
    ).select(F.col(group_col).alias("group"), "n_pos", "n_neg", "auc")
    return rates.join(auc, "group")


def score_calibrate(
    df: DataFrame,
    score_col: str,
    group_col: str,
    out_col: str = "pct",
    decimals: int = 6,
) -> DataFrame:
    """Per-group percentile calibration of a score: each row gains its
    within-group cumulative fraction (``cume_dist`` — share of the
    group scoring ≤ it), so ONE percentile threshold transfers across
    sources whose raw-score distributions disagree — the fix for
    "quality ≥ 0.5 keeps 90% of src3 and 4% of src9" when what the mix
    plan wants is "keep every source's top half".  Appends ``out_col``
    to the input row (all original columns preserved).

    The p149 dashboard DIAGNOSES mis-calibration (keep rates swing
    across sources at a fixed cut); this REPAIRS it.  Ties share the
    cume_dist value (both engines define it as count(peers ≤ v)/n), so
    the output is engine-exact after rounding.

    Contract: scores NON-NULL and non-NaN (in-plan raise — NaN sorts
    above everything in Spark and poisons every rank below it).

    Scale shape: ONE window per group ordered by score — per-group
    sorts parallelize across groups (the :func:`~spear_spark.
    operators.sampling.token_budget_select` posture).  For a single
    giant group, bin first (:func:`group_ecdf` over the histogram) and
    interpolate — documented, not silently substituted."""
    from pyspark.sql.window import Window as W

    if "_cal_s" in df.columns:
        raise ValueError(
            "score_calibrate: input already has a column named "
            "'_cal_s' (the operator's staging name) — rename it first"
        )
    if out_col in df.columns:
        raise ValueError(
            f"score_calibrate: input already has a column named "
            f"{out_col!r} — withColumn would silently overwrite it; "
            f"pass a different out_col or rename the input column"
        )
    s = F.col(score_col).cast("double")
    guard = F.when(
        s.isNull() | F.isnan(s),
        F.raise_error(
            F.lit(
                "score_calibrate: NULL/NaN score — coalesce or filter "
                "rows first"
            )
        ).cast("double"),
    ).otherwise(s)
    w = W.partitionBy(group_col).orderBy("_cal_s")
    return (
        df.withColumn("_cal_s", guard)
        .withColumn(
            out_col,
            F.round(F.cume_dist().over(w), decimals) + F.lit(0.0),
        )
        .drop("_cal_s")
    )


def fleiss_kappa(
    df: DataFrame,
    flags: Sequence[str],
    decimals: int = 6,
) -> DataFrame:
    """Fleiss' kappa over k >= 3 boolean raters/filters — the
    multi-rater generalization closing the agreement family
    (:func:`filter_agreement` two raters, :func:`filter_agreement_matrix`
    pairwise, this the ENSEMBLE as a whole): one chance-corrected
    number for "do my k quality gates behave like one gate or like k
    coins", the go/no-go before treating a filter ensemble's majority
    vote as a label.  One row: ``(n_items, k, p_bar, p_e, kappa)``
    with P̄ the mean per-item agreement, Pe the chance agreement of
    the pooled marginals, kappa = (P̄−Pe)/(1−Pe) (1.0 by convention
    when Pe == 1 — unanimous constant raters).

    Exact core: per item only ``t = #true`` matters; P_i =
    (t² + (k−t)² − k)/(k(k−1)), so Σt and Σt² (exact int64 sums)
    determine everything — ONE two-phase aggregate over ONE scan, no
    per-category explosion.  NULL flags raise in-plan (the family
    contract).

    Scale shape: identical to :func:`filter_agreement` — a global
    3-sum aggregate; everything after is scalar arithmetic on the
    1-row result."""
    flags = list(flags)
    if len(flags) < 3:
        raise ValueError(
            "fleiss_kappa: need k >= 3 raters (use filter_agreement "
            "for two)"
        )
    if len(set(flags)) != len(flags):
        raise ValueError("fleiss_kappa: duplicate flag names")
    k = len(flags)
    cols = [F.col(f) for f in flags]
    guard = F.when(
        _or_fold([c.isNull() for c in cols]),
        F.raise_error(
            F.lit(
                "fleiss_kappa: NULL flag — coalesce every rater column "
                "to booleans first"
            )
        ).cast("long"),
    ).otherwise(F.lit(1))
    t = None
    for c in cols:
        t = c.cast("long") if t is None else t + c.cast("long")
    agg = df.select(t.alias("_t"), guard.alias("_g")).agg(
        F.sum("_g").alias("n_items"),
        F.sum("_t").alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).alias("_st2"),
    )
    n = F.col("n_items").cast("double")
    kk = float(k)
    st = F.col("_st").cast("double")
    st2 = F.col("_st2").cast("double")
    # Σ P_i = Σ (t² + (k−t)² − k) / (k(k−1)) = (2·Σt² − 2k·Σt + n·k² − n·k) / (k(k−1))
    p_bar = (2.0 * st2 - 2.0 * kk * st + n * kk * kk - n * kk) / (
        n * kk * (kk - 1.0)
    )
    p_true = st / (n * kk)
    p_e = p_true * p_true + (1.0 - p_true) * (1.0 - p_true)
    kappa = F.when(p_e == 1.0, F.lit(1.0)).otherwise(
        (p_bar - p_e) / (1.0 - p_e)
    )
    return agg.select(
        "n_items",
        F.lit(k).alias("k"),
        (F.round(p_bar, decimals) + F.lit(0.0)).alias("p_bar"),
        (F.round(p_e, decimals) + F.lit(0.0)).alias("p_e"),
        (F.round(kappa, decimals) + F.lit(0.0)).alias("kappa"),
    )


def volume_autocorr(
    df: DataFrame,
    ts_col: str,
    max_lag: int = 7,
    decimals: int = 6,
) -> DataFrame:
    """Autocorrelation of the DAILY EVENT VOLUME at lags 1..max_lag —
    the seasonality detector behind ingest monitoring: a strong lag-7
    peak says the feed breathes weekly (so a Monday dip is rhythm, not
    an incident), while a collapsed lag-1 says day-to-day volume is
    noise and the p99-style anomaly thresholds need widening.  One row
    per lag: ``(lag, n_pairs, r)`` — Pearson r over (day t, day t+lag)
    count pairs restricted to days BOTH present (gaps pair with
    nothing; they are the p99 family's business); r is NULL when fewer
    than 2 pairs or a side has zero variance.

    Exactness: daily counts are exact int64; all five correlation sums
    run in decimal(38,0) (day counts at corpus scale reach 10⁹, whose
    products overflow int64), so only the final sqrt/division floats —
    identical op order in the oracle.

    Scale shape: ONE two-phase count on the epoch-day key collapses
    the corpus to the day table (≤ a few thousand rows for years);
    the lag join is a self-join of that BOUNDED table on period+lag
    (via one explode of the 1..max_lag literal array), and the
    correlation is an aggregate per lag over ≤ |days| rows."""
    if max_lag < 1:
        raise ValueError("volume_autocorr: max_lag must be >= 1")
    # FLOOR division on the epoch-day bucket (exact integer form:
    # pmod is non-negative, so e - pmod(e, L) is exactly divisible) —
    # Spark `div` truncates toward zero, which would merge days -0
    # and +0 for pre-1970 timestamps while the DuckDB oracle's `//`
    # floors them apart.
    days = stage(
        df.select(
            F.expr(
                f"(unix_micros({ts_col})"
                f" - pmod(unix_micros({ts_col}), 86400000000))"
                " div 86400000000"
            ).alias("_p")
        )
        .groupBy("_p")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    lags = F.explode(
        F.array(*[F.lit(i) for i in range(1, int(max_lag) + 1)])
    ).alias("lag")
    left = days.select(F.col("_p"), F.col("_n").alias("_x")).select(
        "*", lags
    )
    right = days.select(
        F.col("_p").alias("_p2"), F.col("_n").alias("_y")
    )
    pairs = left.join(
        right, F.col("_p2") == F.col("_p") + F.col("lag")
    )
    dec = "decimal(38,0)"
    x, y = F.col("_x").cast(dec), F.col("_y").cast(dec)
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    k = F.col("n_pairs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    num = k * sxy - sx * sy
    vx = k * sxx - sx * sx
    vy = k * syy - sy * sy
    r = F.when(
        (F.col("n_pairs") >= 2) & (vx > 0.0) & (vy > 0.0),
        F.round(num / F.sqrt(vx * vy), decimals) + F.lit(0.0),
    )
    return agg.select("lag", "n_pairs", r.alias("r")).orderBy("lag")


def volume_gini(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Gini coefficient of volume concentration across groups — the
    one-number mixture-imbalance readout (0 = perfectly even, →1 = one
    source is the corpus): the first thing a mix plan (p101) or
    balanced-shard pass (p53) checks before and after rebalancing, and
    the monitor that notices one crawler quietly becoming half the
    feed.  One row: ``(n_groups, total, gini)``; gini is NULL for a
    single group (undefined spread).

    Computed from the sorted closed form Σ(2i − n − 1)·xᵢ / (n·Σx)
    with ranks ordered (volume, group) — deterministic ties — and the
    numerator an exact int64 sum over the GROUP table (weights are
    counts or non-negative int64 weights; in-plan raise otherwise),
    so the single final division is the only FP op.

    Scale shape: ONE two-phase count/sum on the group key collapses
    the corpus to the |groups|-row table; the rank window and the
    closed-form sum run over that bounded table (the
    fixed_width_histogram posture)."""
    from pyspark.sql.window import Window as W

    if weight_col is None:
        w = F.count(F.lit(1)).alias("_x")
    else:
        # Per-ROW guard before the sum: SUM silently skips NULL and
        # cast('long') silently truncates fractional weights, so both
        # must raise here for the documented contract to hold.
        wd = F.col(weight_col).cast("double")
        row_bad = (
            F.col(weight_col).isNull()
            | F.isnan(wd)
            | (wd < 0.0)
            | (wd != F.floor(wd))
        )
        guarded_w = F.when(
            row_bad,
            F.raise_error(
                F.lit(
                    "volume_gini: NULL/NaN/negative/fractional weight "
                    "— the closed form needs non-negative integer "
                    "volumes"
                )
            ).cast("long"),
        ).otherwise(F.col(weight_col).cast("long"))
        w = F.sum(guarded_w).alias("_x")
    per = df.groupBy(F.col(group_col).alias("_g")).agg(w)
    bad = F.col("_x").isNull() | (F.col("_x") < 0)
    guarded = per.select(
        "_g",
        F.when(
            bad,
            F.raise_error(
                F.lit(
                    "volume_gini: NULL/negative group weight — the "
                    "closed form needs non-negative volumes"
                )
            ).cast("long"),
        )
        .otherwise(F.col("_x"))
        .alias("_x"),
    )
    wr = W.partitionBy().orderBy("_x", "_g")
    wall = W.partitionBy()
    ranked = guarded.select(
        "_x",
        F.row_number().over(wr).alias("_i"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    )
    term = (2 * F.col("_i") - F.col("_n") - 1).cast("long") * F.col("_x")
    agg = ranked.groupBy().agg(
        F.min("_n").alias("n_groups"),
        F.sum("_x").alias("total"),
        F.sum(term).alias("_num"),
    )
    gini = F.when(
        (F.col("n_groups") >= 2) & (F.col("total") > 0),
        F.round(
            F.col("_num").cast("double")
            / (F.col("n_groups").cast("double") * F.col("total").cast("double")),
            decimals,
        )
        + F.lit(0.0),
    )
    return agg.select("n_groups", "total", gini.alias("gini"))
