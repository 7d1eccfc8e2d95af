"""One-pass per-group corpus health report — the grouped capstone of
the sketch family: per source, document counts and token-length
quantiles, total token occurrences, an HLL distinct-token estimate,
the number of Count-Min heavy hitters, and the corpus-repeated n-gram
share (the Lee-et-al boilerplate signal), all derived from ONE corpus
scan.

A 100 TB curation run asks exactly this before touching a mixture:
"which sources are tiny / low-diversity / boilerplate-dominated /
short-doc-skewed?"  Answering it with six separate operators means six
corpus scans; here the tokenizer runs once into a lazily checkpointed
doc-grain (group, doc_id, token-array) staging, and every downstream
branch — lengths, exact counts, HLL registers, the CM cell grid, the
probes, the repeated-gram tally — reads that bounded relation or a
checkpointed aggregate of it (plan-pinned: the final plan contains no
parquet scan at all; the corpus is read exactly once, inside the
staging checkpoint job).

Exactness discipline matches the rest of the sketch family (every
hash is md5-derived, the HLL estimate is `sketch._hll_est_expr`'s
integer-register form, the heavy-hitter threshold is the integer
``est * 100 >= pct * total`` comparison, quantiles are exact
percentiles rounded to 6 decimals, dup_frac is a ratio of exact
integer position counts), so the whole report is hash-exact against a
DuckDB rebuild despite containing two approximate sketches.

Reference parity: the grouped generalization of the reference's
aggregation surface (spear-core/src/main/scala/spear/expressions/
aggregates/basic.scala:12-126); the sketch columns are a north-star
extension the reference lacks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spear_spark.config import stage
from spear_spark.operators.dedup import h64, ngram_positions
from spear_spark.operators.sketch import (
    CM_DEPTH,
    CM_WIDTH,
    HLL_M,
    _hll_est_expr,
    cm_grid_from_counts,
    cm_probe_by,
    hll_register_table_by,
)
from spear_spark.operators.text import tokens


def corpus_health_report(
    df: DataFrame,
    group_col: str,
    text_col: str,
    doc_id_col: str,
    pct: int = 1,
    qs: Sequence[float] = (0.5, 0.9),
    m: int = HLL_M,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    ngram_n: int = 8,
) -> DataFrame:
    """Per-group profile: (group, n_docs, total_tokens,
    est_distinct_toks, n_heavy, dup_frac, q<pct>_len...), one row per
    group.

    - ``n_docs`` / ``q*_len``: document count and exact token-length
      quantiles (rounded to 6 decimals) over docs with >= 1 token,
      read straight off the doc-grain staging (length = array size; no
      per-doc re-aggregation of exploded tokens).
    - ``total_tokens``: token occurrences (sum of exact counts).
    - ``est_distinct_toks``: per-group HLL estimate over the DISTINCT
      token set — the (group, tok) counts table IS that set, so the
      register build reads the bounded counts, not the corpus.
    - ``n_heavy``: tokens whose per-group Count-Min estimate reaches
      ``pct`` percent of the group's occurrences (CM is linear, so the
      group-keyed sketch is summed FROM the counts; probes go through
      :func:`sketch.cm_probe_by` against the broadcast grid).  Groups
      with no heavy hitters report 0.
    - ``dup_frac``: share of the group's ``ngram_n``-gram POSITIONS
      sitting on grams repeated >= 2 times CORPUS-wide (across groups,
      across docs, or within one — multiplicity counts), i.e. the
      per-group rollup of :func:`dedup.repeated_ngram_profile`'s
      signal — column-agreement law-tested against it.  NULL for a
      group whose docs are all shorter than ``ngram_n`` tokens.

    Scale: after the one corpus scan, every relation is bounded or
    linear-in-staging — doc lengths collapse to |groups| rows
    map-side, the counts table is vocabulary-sized with bounded sketch
    state (|groups|·m registers, |groups|·d·w cells), the gram tally
    is (group, hash)-grained with its corpus total computed as a
    second two-phase SUM joined back (never a window over the hash —
    a boilerplate gram would make the hottest hash partition one
    task), and the final assembly joins |groups|-row aggregates
    broadcast-side."""
    arrs = stage(
        df.select(
            F.col(group_col),
            F.col(doc_id_col).alias("_doc"),
            tokens(text_col).alias("_t"),
        )
    )
    counts = stage(
        arrs.select(F.col(group_col), F.explode("_t").alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )

    q_aggs = [
        F.round(F.percentile(F.col("len"), F.lit(float(q))), 6).alias(
            f"q{int(round(q * 100)):02d}_len"
        )
        for q in qs
    ]
    # length = array size; the >0 filter keeps the historical contract
    # (a tokenless doc is not a document for length stats).
    doc_stats = (
        arrs.select(F.col(group_col), F.size("_t").alias("len"))
        .filter(F.col("len") > 0)
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"), *q_aggs)
    )

    totals = counts.groupBy(group_col).agg(F.sum("exact").alias("total_tokens"))

    regs = hll_register_table_by(counts, group_col, F.col("tok"), m)
    hll = (
        regs.groupBy(group_col)
        .agg(
            F.coalesce(
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 40 - max_rho)")),
                F.lit(0).cast("bigint"),
            ).alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .select(
            F.col(group_col), F.round(_hll_est_expr(m), 3).alias("est_distinct_toks")
        )
    )

    grid = cm_grid_from_counts(counts, [group_col], depth=depth, width=width)
    est = cm_probe_by(
        grid, counts.select(group_col, "tok"), group_col, depth=depth, width=width
    )
    heavy = (
        est.join(F.broadcast(totals), group_col)
        .filter(F.col("est") * 100 >= F.lit(pct) * F.col("total_tokens"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_heavy"))
    )

    # Repeated-gram share: (group, hash) exact counts off the staged
    # token arrays; the corpus total per hash is a second two-phase SUM
    # joined back shuffle_hash (build side = vocabulary-sized totals).
    gh = stage(
        ngram_positions(arrs, [F.col(group_col)], F.col("_t"), ngram_n)
        .select(F.col(group_col), h64(F.col("gram")).alias("hv"))
        .groupBy(group_col, "hv")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gtot = gh.groupBy("hv").agg(F.sum("c").alias("_total"))
    dup = (
        gh.join(gtot.hint("shuffle_hash"), "hv")
        .groupBy(group_col)
        .agg(
            F.sum("c").alias("_npos"),
            F.sum(
                F.when(F.col("_total") >= 2, F.col("c")).otherwise(F.lit(0))
            ).alias("_ndup"),
        )
        .select(
            F.col(group_col),
            F.when(
                F.col("_npos") > 0, F.round(F.col("_ndup") / F.col("_npos"), 6)
            ).alias("dup_frac"),
        )
    )

    qcols = [f"q{int(round(q * 100)):02d}_len" for q in qs]
    return (
        doc_stats.join(F.broadcast(totals), group_col)
        .join(F.broadcast(hll), group_col)
        .join(F.broadcast(heavy), group_col, "left")
        .join(F.broadcast(dup), group_col, "left")
        .select(
            F.col(group_col),
            "n_docs",
            "total_tokens",
            "est_distinct_toks",
            F.coalesce(F.col("n_heavy"), F.lit(0).cast("bigint")).alias("n_heavy"),
            "dup_frac",
            *qcols,
        )
    )


def journey_ngrams(
    events,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    gap_minutes: int = 30,
    n: int = 3,
    top: int = 20,
):
    """Most common event-type SEQUENCES (n-grams) within sessions —
    the journey-pattern miner behind funnel design: funnels (q79) test
    a HYPOTHESIZED sequence; this surfaces the sequences users
    actually walk, with session counts so a pattern repeated by one
    looping user can't impersonate a common path.  Sessions follow the
    standard gap rule (> ``gap_minutes`` of silence per user starts a
    new session, the q40/q83 convention); ordering ties break on
    ``id_col`` so the sequences are deterministic cross-engine.
    Returns the ``top`` rows: ``(gram, n_occurrences, n_sessions)``,
    count-desc then gram.

    Contract: event types NON-NULL and free of the ``'>'`` separator
    (in-plan raise — concat_ws would silently skip a NULL, collapsing
    ``a>NULL>b`` into ``a>b``, and an embedded ``'>'`` would collide
    distinct sequences).

    Scale shape: two windows per user partition (lag for the session
    flag + cumulative sum for the session id — users parallelize),
    lead projections for the gram, ONE two-phase aggregate on the gram
    key (distinct-session via a pre-aggregated (gram, session) pair
    table, never count-distinct over raw rows), and a TakeOrdered heap
    for the top-k."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    if n < 2:
        raise ValueError("journey_ngrams: n must be >= 2")
    gap_us = int(gap_minutes) * 60_000_000
    # In-plan guard (the loud-guard convention): a NULL event type
    # would be silently SKIPPED by concat_ws — collapsing "a>NULL>b"
    # into "a>b" while the oracle's || propagates NULL — and a '>'
    # inside a type would collide distinct sequences into one gram.
    t = F.col(type_col).cast("string")
    t_guard = F.when(
        t.isNull() | t.contains(">"),
        F.raise_error(
            F.lit(
                "journey_ngrams: NULL event type or '>' inside a "
                "type — coalesce/clean the type column first (the "
                "gram separator must be unambiguous)"
            )
        ).cast("string"),
    ).otherwise(t)
    wu = W.partitionBy(user_col).orderBy(ts_col, id_col)
    flagged = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        t_guard.alias("_t"),
        (
            (
                F.unix_micros(F.col(ts_col))
                - F.lag(F.unix_micros(F.col(ts_col))).over(wu)
            )
            > gap_us
        )
        .cast("long")
        .alias("_new"),
    )
    ws = W.partitionBy("_u").orderBy("_ts", "_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = flagged.withColumn(
        "_sid", F.coalesce(F.sum("_new").over(ws), F.lit(0))
    )
    wg = W.partitionBy("_u", "_sid").orderBy("_ts", "_id")
    parts = [F.col("_t")] + [F.lead("_t", i).over(wg) for i in range(1, n)]
    grams = sess.select(
        F.col("_u"),
        F.col("_sid"),
        F.concat_ws(">", *parts).alias("gram"),
        parts[-1].isNotNull().alias("_full"),
    ).filter(F.col("_full"))
    per_session = grams.groupBy("gram", "_u", "_sid").agg(
        F.count(F.lit(1)).alias("_occ")
    )
    return (
        per_session.groupBy("gram")
        .agg(
            F.sum("_occ").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_sessions"),
        )
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(top)
    )
