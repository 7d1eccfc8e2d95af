"""Iterative graph algorithms over edge DataFrames.

The reference is batch-relational only (SURVEY §2.7); together with
``dedup.connected_components`` (Kiveris large-star/small-star) this
module covers the iterative-algorithm family a curation pipeline needs
— influence/centrality scoring here, duplicate clustering there.

Scale shape: each iteration is ONE join (ranks ⋈ edges on the source
node) + ONE aggregate (contributions summed per destination) — the
textbook distributed PageRank data flow.  The edge list is checkpointed
once; in the broadcast regime the per-source mass (out-degree or weight
sum) folds into the tiny broadcast vector so the probe side is the raw
edge relation and nothing edge-sized ever moves.  Iterations are
bounded (fixed count), and per-iteration ``localCheckpoint`` truncates
the lineage for LONG chains exactly like connected components does.

Cross-engine determinism: contributions are summed in unordered
parallel, so each iteration ends with a ROUND to ``iter_decimals``
(default 9) — both engines converge on identical rounded vectors
before FP-association noise (~1e-16/step) can amplify; the final
output rounds once more to the usual 6.

Both public variants share ``_iterate`` — the bcast threshold, the
lineage-truncation policy, and the rounding discipline live in exactly
one place, so the weighted and unweighted engines cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spear_spark.config import stage


def _iterate(
    e: DataFrame,
    mul_w: bool,
    iters: int,
    damping: float,
    iter_decimals: int,
    decimals: int,
    broadcast_ranks: bool | None,
    label: str,
    tol: float | None = None,
    check_every: int = 1,
    info: dict | None = None,
) -> DataFrame:
    """Shared PageRank iteration core over a CHECKPOINTED edge relation
    ``e`` with columns (src, dst[, w]).  ``mul_w``: per-edge term is
    ``(rank / mass) · w`` (weighted) vs ``rank / mass`` (unweighted,
    mass = out-degree) — association order preserved per variant so
    both stay bit-identical with their DuckDB oracles.

    ``tol=None`` (the oracle-pairable regime) runs exactly ``iters``
    rounds with no driver round-trips.  With ``tol`` set, ``iters``
    becomes the bounded-rounds guard: every ``check_every``-th vector
    is checkpointed and its max-abs delta against the previously
    CHECKED vector measured with one bounded 1-row action; iteration
    stops at the first checked residual below ``tol`` and raises
    RuntimeError if the guard is exhausted (mirroring
    ``dedup.connected_components``' non-convergence contract).
    ``check_every > 1`` amortizes the driver synchronization over a
    lazily-chained depth-k DAG — the gap residual bounds cumulative
    movement, so the stop rule stays sound, just coarser."""
    nodes = stage(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError(f"{label}: empty edge list — no nodes to rank")
    # the rank vector is one row per node — tiny next to the edge list
    # (web-scale ratios run 50-100 edges/node).  Broadcasting it turns
    # the per-iteration join into a map-side hash probe with NO edge
    # shuffle; the contribution aggregate still combines map-side.
    # Past ~5M nodes the vector outgrows executor memory — fall back
    # to the shuffle join (edges stay partitioned on src, so only the
    # rank side moves).
    bcast = n < 5_000_000 if broadcast_ranks is None else broadcast_ranks
    # per-source mass (out-degree or weight sum) is ≤ one row per node
    # — same size class as the rank vector; checkpoint it so the
    # aggregate over the full edge list doesn't re-execute every round
    mass_agg = F.sum("w") if mul_w else F.count(F.lit(1))
    out_m = stage(e.groupBy("src").agg(mass_agg.alias("m")))
    if bcast:
        # broadcast regime: fold rank/mass into the broadcast vector
        # itself, so the probe side is the RAW checkpointed edge list —
        # no (edges ⋈ mass) materialization (a full second edge copy,
        # ~1.3s at bench scale), no co-partitioning (a map-side hash
        # probe needs none)
        ej = e
    else:
        # one src partitioning for the per-iteration shuffle join,
        # reused every round — only the rank side moves
        ej = stage(e.join(out_m, "src").repartition("src"))

    # F.round (HALF_UP) matches SQL ROUND on positive values; Python's
    # round() is banker's and would diverge on exact half boundaries
    base = (1.0 - damping) / n
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / F.lit(float(n)), iter_decimals).alias("rank")
    )
    prev_checked = ranks
    iters_run = 0
    converged = tol is None
    resid = None
    for _i in range(iters):
        if bcast:
            # rank/mass is divided ONCE per source node in the tiny
            # broadcast table instead of once per edge.  Explicit
            # aliases: from iteration 2 on, ranks' lineage already
            # contains out_m, making bare refs an ambiguous self-join.
            rd = (
                ranks.alias("_r")
                .join(
                    F.broadcast(out_m.alias("_d")),
                    F.col("_r.node") == F.col("_d.src"),
                )
                .select(
                    F.col("_d.src").alias("src"),
                    (F.col("_r.rank") / F.col("_d.m")).alias("c"),
                )
            )
            term = (F.col("c") * F.col("w")) if mul_w else F.col("c")
            edge_contrib = ej.join(F.broadcast(rd), "src").select(
                F.col("dst").alias("node"), term.alias("c")
            )
        else:
            term = (
                (F.col("rank") / F.col("m")) * F.col("w")
                if mul_w
                else F.col("rank") / F.col("m")
            )
            edge_contrib = ej.join(ranks, ej.src == ranks.node).select(
                F.col("dst").alias("node"), term.alias("c")
            )
        # shared aggregate tail — the regimes differ only in how the
        # per-edge contribution column is produced
        contribs = edge_contrib.groupBy("node").agg(F.sum("c").alias("cs"))
        ranks = (
            nodes.join(
                F.broadcast(contribs) if bcast else contribs, "node", "left"
            )
            .select(
                "node",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce(F.col("cs"), F.lit(0.0)),
                    iter_decimals,
                ).alias("rank"),
            )
        )
        iters_run = _i + 1
        if tol is None:
            if iters > 8:
                # lineage truncation matters only for LONG iteration
                # chains (the CC regime); for the typical fixed 5-10
                # rounds the pipelined depth-k DAG is cheaper than k
                # serial checkpoint materializations, and it leaves no
                # cached blocks behind in long-lived sessions
                ranks = stage(ranks)
            continue
        if iters_run % check_every and iters_run != iters:
            continue  # lazily chain until the next residual check
        # the residual action doubles as the checkpoint materialization
        # (one job per CHECK, not per iteration); renamed columns keep
        # the shared-lineage self-join unambiguous
        ranks = stage(ranks)
        pc = prev_checked.select(
            F.col("node").alias("_pn"), F.col("rank").alias("_pr")
        )
        resid = (
            ranks.join(pc, F.col("node") == F.col("_pn"))
            .agg(F.max(F.abs(F.col("rank") - F.col("_pr"))).alias("r"))
            .first()["r"]
        )
        if info is not None:
            info.setdefault("residuals", []).append(resid)
        prev_checked = ranks
        if resid < tol:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"{label}: residual {resid!r} has not reached tol={tol} within "
            f"{iters} iterations — raise max_iters or loosen tol"
        )
    if info is not None:
        info["iterations"] = iters_run
    return ranks.select("node", F.round("rank", decimals).alias("rank"))


def _prep_unweighted_edges(
    edges: DataFrame, src: str, dst: str, edges_distinct: bool
) -> DataFrame:
    """Shared edge prep for the unweighted variants: normalize column
    names, dedup unless the caller guarantees uniqueness, and
    checkpoint FIRST — the relation feeds nodes, the mass aggregate,
    and the per-iteration join, so an un-checkpointed edge subtree
    (often a join + distinct, duplicated under a symmetrize union)
    re-executes once per consumer (measured 3× on p59's bipartite
    build: 13s → 4s at bench scale)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not edges_distinct:
        e = e.distinct()
    return stage(e)


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int = 5,
    damping: float = 0.85,
    iter_decimals: int = 9,
    decimals: int = 6,
    broadcast_ranks: bool | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list.  Dangling
    nodes keep their base rank.  Edges are de-duplicated (``distinct``
    on (src, dst)) — unweighted simple-graph semantics; multi-edge/
    weighted graphs use :func:`pagerank_weighted`.  A
    caller that can GUARANTEE (src, dst) is already duplicate-free
    passes ``edges_distinct=True`` to skip the dedup shuffle — at 100 TB
    the edge distinct is a full-corpus exchange, and upstream builds
    often get it free (e.g. a symmetrized union of a distinct bipartite
    pair set is distinct by construction; dedup narrow int keys BEFORE
    widening to string node ids — measured 3.5× on the p59 build).

    ``broadcast_ranks`` picks the per-iteration join strategy: True
    broadcasts the rank vector (map-side hash probe, zero edge
    movement), False shuffles it against the src-partitioned edges
    (the >5M-node regime where the vector outgrows executor memory),
    None (default) auto-selects on the node count.  Both paths produce
    identical rounded vectors — pinned by test_operators.

    Returns (node, rank) with rank rounded to ``decimals``.
    Raises ``ValueError`` on an empty edge list (no graph, no ranks).
    """
    e = _prep_unweighted_edges(edges, src, dst, edges_distinct)
    return _iterate(
        e, False, iters, damping, iter_decimals, decimals, broadcast_ranks,
        "pagerank",
    )


def pagerank_converged(
    edges: DataFrame,
    src: str,
    dst: str,
    tol: float = 1e-6,
    max_iters: int = 50,
    damping: float = 0.85,
    iter_decimals: int = 9,
    decimals: int = 6,
    broadcast_ranks: bool | None = None,
    edges_distinct: bool = False,
    check_every: int = 1,
    info: dict | None = None,
) -> DataFrame:
    """Tolerance-terminated PageRank: iterate until the max-abs rank
    delta between consecutive CHECKED vectors drops below ``tol`` —
    what a real centrality run does, where :func:`pagerank`'s fixed
    iteration count is a benchmark/oracle artifact.  SURVEY §2.7
    extension (the reference is batch-relational only,
    spear-core/src/main/scala/spear/plans/logical/LogicalPlan.scala
    has no iterative operator family).

    Shares :func:`pagerank`'s exact iteration map (same ``_iterate``
    core, same per-round rounding), so the returned vector is
    IDENTICAL to ``pagerank(iters=k)`` for the ``k`` it stopped at —
    pinned by tests, and the escape hatch for oracle pairing.

    Convergence mechanics: damping contracts the iteration by a
    factor ≤ ``damping`` per round, so residuals decay geometrically
    and the needed rounds scale with ``log(tol) / log(damping)`` —
    data-size-independent.  Each residual is ONE bounded driver
    action (a 1-row max-abs-delta aggregate over the node-keyed join
    of consecutive vectors); ``check_every > 1`` amortizes that
    synchronization across lazily-chained rounds for clusters where
    driver round-trips dominate (the gap residual bounds cumulative
    movement, so stopping stays sound).  A non-converging run (e.g. a
    2-cycle of the rounded map under too-tight ``tol``) raises
    RuntimeError at ``max_iters`` instead of silently returning a
    moving vector — same contract as ``dedup.connected_components``.

    ``info`` (optional dict) receives ``iterations`` (rounds actually
    run) and ``residuals`` (checked residual series) for callers that
    audit convergence.  Returns (node, rank) rounded to ``decimals``.
    """
    if tol <= 0:
        raise ValueError("pagerank_converged: tol must be > 0")
    if max_iters < 1:
        raise ValueError("pagerank_converged: max_iters must be >= 1")
    if check_every < 1:
        raise ValueError("pagerank_converged: check_every must be >= 1")
    e = _prep_unweighted_edges(edges, src, dst, edges_distinct)
    return _iterate(
        e, False, max_iters, damping, iter_decimals, decimals,
        broadcast_ranks, "pagerank_converged", tol=tol,
        check_every=check_every, info=info,
    )


def pagerank_weighted(
    edges: DataFrame,
    src: str,
    dst: str,
    weight_col: str,
    iters: int = 5,
    damping: float = 0.85,
    iter_decimals: int = 9,
    decimals: int = 6,
    broadcast_ranks: bool | None = None,
    edges_aggregated: bool = False,
) -> DataFrame:
    """Weighted PageRank: each node's rank splits across its out-edges
    ∝ edge weight — the variant :func:`pagerank` scopes out
    (SURVEY §2.7 extension; the reference is batch-relational only).  Parallel
    edges are summed into one weighted edge first, so a multigraph's
    multiplicity IS its weight; a caller whose (src, dst) is already
    unique (e.g. a symmetrized union of a grouped bipartite pair
    table, the p71 build) passes ``edges_aggregated=True`` to skip
    that full-edge exchange — the mirror of pagerank's
    ``edges_distinct``.

    Weights must be POSITIVE and are validated with one bounded job
    that runs AFTER the edge relation is checkpointed (a zero/
    negative/NaN weight sum would silently null out a source's entire
    contribution — fail loudly instead).  Ordering matters: the
    validation action is what materializes the lazy checkpoint, so the
    caller's edge-build subtree executes exactly ONCE — validating the
    raw relation first would run it twice (once for the check, again
    when the checkpoint materializes).  On the aggregating path the
    raw-edge defects are folded into the same single pass: the
    aggregate also tracks per-group null counts and the raw minimum
    weight, so a NULL hidden among positive parallel edges (F.sum
    drops NULLs) or a negative summed away by a larger positive
    sibling still fails loudly.

    Same scale shape and determinism discipline as :func:`pagerank`
    (shared ``_iterate`` core); the per-edge contribution is computed
    as ``(rank / W_src) · w`` — the division happens once per source
    in the broadcast table; the oracle mirrors this exact association
    order.

    Returns (node, rank) rounded to ``decimals``."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # Explicit NaN test everywhere below: Spark ORDERS NaN greater
    # than any double, so a bare ~(w > 0) would let NaN straight
    # through (and NaN survives SUM but hides from MIN, which treats
    # it as largest — hence both columns are checked).
    msg = (
        "pagerank_weighted: edge weights must be positive (a zero/"
        "negative/NULL/NaN weight silently destroys rank mass)"
    )
    if edges_aggregated:
        # checkpoint FIRST, validate on the checkpointed relation —
        # the bounded validation job doubles as the materialization
        e = stage(e)
        bad_w = F.isnan("w") | F.col("w").isNull() | (F.col("w") <= 0)
        if e.filter(bad_w).limit(1).count() > 0:
            raise ValueError(msg)
    else:
        # one aggregation pass carries the defect evidence along:
        #   _nulls — raw NULLs F.sum would silently drop,
        #   _minw  — raw negatives a larger positive sibling could
        #            sum away (raw NaN poisons the SUM itself).
        e = stage(
            e.groupBy("src", "dst")
            .agg(
                F.sum("w").alias("w"),
                (F.count(F.lit(1)) - F.count("w")).alias("_nulls"),
                F.min("w").alias("_minw"),
            )
        )
        bad_w = (
            (F.col("_nulls") > 0)
            | F.col("w").isNull()
            | F.isnan("w")
            | (F.col("_minw") <= 0)
        )
        if e.filter(bad_w).limit(1).count() > 0:
            raise ValueError(msg)
        e = e.drop("_nulls", "_minw")
    return _iterate(
        e, True, iters, damping, iter_decimals, decimals, broadcast_ranks,
        "pagerank_weighted",
    )
