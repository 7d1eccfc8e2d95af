"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine` / :func:`dot` — pure-Column vector math via
  ``zip_with`` + ``aggregate`` (JVM-side fold, no Python).
* :func:`cosine_topk` — brute-force top-k against a driver-side query
  vector: broadcast-by-literal, one narrow projection + TakeOrdered.
  The exact baseline every ANN variant is measured against.
* :func:`knn_join_blocked` — top-1 neighbor per vector within a
  blocking key (label / LSH bucket / IVF cell): turns O(n²) into
  O(Σ block²).
* :func:`lsh_bucket` — random-hyperplane LSH (sign bits of fixed
  seeded projections) for scale-path candidate generation; buckets
  co-locate likely neighbors so the pair join is block-local.

Scale: brute force is O(n·d) per query — fine for batched scoring
(broadcast the query batch, one pass over 100 TB).  For repeated
online queries, LSH/IVF bucketing bounds each lookup to one bucket's
vectors; the bucket id is computable at write time and used as a
partition/cluster key so queries prune partitions.

Cosine values are rounded to 6dp before ranking so ordering is stable
across summation orders (FP addition is not associative; two engines
or two partitionings may differ in the last ulp).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spear_spark.config import stage


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), decimals)


def vec_lit(v: Sequence[float]) -> Column:
    """Driver-side query vector as a literal array (broadcast by plan)."""
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k for one query vector.  Plans as a
    single projection over the scan + TakeOrderedAndProject."""
    q = vec_lit(query)
    out = df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries_df: DataFrame,
    q_id: str,
    q_vec: str,
    k: int = 10,
) -> DataFrame:
    """Top-k per query for a *batch* of query vectors in one corpus
    pass: broadcast the query set, score every (corpus, query) pair,
    rank per query.  The realistic 100 TB shape — Q queries cost one
    scan, not Q scans; corpus norms are computed once per row, not per
    pair.  Returns (q_id, id, cos_sim, rnk)."""
    base = df.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"), norm(F.col(vec_col)).alias("_cn")
    )
    qs = queries_df.select(
        F.col(q_id).alias("_qid"), F.col(q_vec).alias("_qv"), norm(F.col(q_vec)).alias("_qn")
    )
    scored = (
        base.crossJoin(F.broadcast(qs))
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            F.col("_qid"),
            F.col("_cid"),
            F.round(dot(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("_qid").orderBy(F.col("cos_sim").desc(), F.col("_cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("_qid").alias(q_id), F.col("_cid").alias(id_col), "cos_sim", "rnk")
    )


def knn_join_blocked(
    df: DataFrame, vec_col: str, id_col: str, block_col: str, k: int = 1
) -> DataFrame:
    """Top-k nearest neighbor per vector within its block.
    Returns (id, nn_id, cos_sim[, rank when k>1])."""
    a = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("ida"), F.col(vec_col).alias("va")
    )
    b = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("idb"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, "blk").filter(F.col("ida") != F.col("idb"))
    scored = pairs.select(
        F.col("ida"), F.col("idb"), cosine(F.col("va"), F.col("vb")).alias("cos_sim")
    )
    w = W.partitionBy("ida").orderBy(F.col("cos_sim").desc(), F.col("idb"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
    out = ranked.select(
        F.col("ida").alias(id_col), F.col("idb").alias("nn_id"), "cos_sim",
        *(["rnk"] if k > 1 else []),
    )
    return out


def knn_join_blocked_vectorized(
    df: DataFrame, vec_col: str, id_col: str, block_col: str, k: int = 1
) -> DataFrame:
    """BLAS-vectorized blocked kNN via applyInPandas: one numpy matmul
    per block instead of per-pair array allocation.  ~10-100× faster
    than the Column-fold version — this is the case where built-in
    operators genuinely can't express the computation efficiently
    (pairwise dense linear algebra), so an Arrow-batched grouped UDF is
    the right tool.

    Scale: one shuffle on the block key; per-block work is an in-memory
    B×B matmul, so the block size must be bounded (that's the job of
    the blocking key — IVF cell / LSH bucket / category).  Results are
    identical to the fold version: cosine rounded to 6dp, ties broken
    by neighbor id.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("nn_id", df.schema[id_col].dataType),
            StructField("cos_sim", DoubleType()),
        ]
        + ([StructField("rnk", LongType())] if k > 1 else [])
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((v * v).sum(axis=1))
        cos = np.round((v @ v.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(cos, -np.inf)
        rows = []
        for r in range(len(ids)):
            # order by (-cos, nn_id): lexsort keys are applied last-first
            order = np.lexsort((ids, -cos[r]))[: min(k, len(ids) - 1)]
            for rank, c in enumerate(order, start=1):
                rows.append(
                    (ids[r], ids[c], float(cos[r, c])) + ((rank,) if k > 1 else ())
                )
        cols = [id_col, "nn_id", "cos_sim"] + (["rnk"] if k > 1 else [])
        return pd.DataFrame(rows, columns=cols)

    return df.select(block_col, id_col, vec_col).groupBy(block_col).applyInPandas(
        per_block, out_schema
    )


def ivf_assign(
    df: DataFrame, vec_col: str, n_cells: int = 16, seed: int = 11, sample: float = 1.0
) -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) index: KMeans centroids partition the vector
    space into cells; each vector is assigned its nearest centroid.
    Returns (df + ``_cell`` column, centroids).

    Scale: fit on a sample (centroids are a driver-side artifact of a
    few KB), assign with one narrow projection, then *write partitioned
    by cell* — queries probe only the nearest cells, pruning the scan
    itself.  This is the batch twin of FAISS's IVF-Flat."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    train = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    if sample < 1.0:
        train = train.sample(sample, seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    assigned = model.transform(
        df.withColumn("features", array_to_vector(F.col(vec_col).cast("array<double>")))
    )
    return assigned.drop("features").withColumnRenamed("prediction", "_cell"), centroids


def ann_topk_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k via IVF: score only the ``n_probe`` cells whose
    centroids are nearest the query.  Recall/cost is tuned by
    n_probe/n_cells; with cell-partitioned storage the non-probed cells
    are never read."""
    import numpy as np

    assigned, centroids = ivf_assign(df, vec_col, n_cells, seed)
    c = np.asarray(centroids)
    q = np.asarray(list(query))
    probe = np.argsort(((c - q) ** 2).sum(axis=1))[:n_probe].tolist()
    return cosine_topk(
        assigned.filter(F.col("_cell").isin(probe)), vec_col, id_col, query, k
    )


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8, seed: int = 7) -> Column:
    """Random-hyperplane LSH bucket id (0..2^n_planes-1): sign bits of
    fixed seeded projections.  Deterministic given (dim, n_planes, seed)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0)
    for i in range(n_planes):
        proj = dot(vec_col, F.array(*[F.lit(float(x)) for x in planes[i]]))
        bucket = bucket + F.when(proj > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's LSH
    bucket in at least one of ``n_tables`` independent hash tables
    (standard OR-amplification: per-table miss probability is
    independent, so recall ≈ 1-(1-p)^L while the candidate set stays
    ~L·n/2^n_planes).  At scale the per-table bucket ids are
    precomputed write-time columns used as partition keys, so a query
    reads only its L buckets.  The candidate filter is one OR-of-
    equalities projection — no explode, no shuffle."""
    import numpy as np

    dim = len(query)
    cond = None
    for t in range(n_tables):
        table_seed = seed + 7919 * t  # distinct deterministic seed per table
        rng = np.random.default_rng(table_seed)
        planes = rng.standard_normal((n_planes, dim))
        qb = sum(2**i for i in range(n_planes) if float(np.dot(planes[i], query)) > 0)
        eq = lsh_bucket(F.col(vec_col), dim, n_planes, table_seed) == qb
        cond = eq if cond is None else (cond | eq)
    return cosine_topk(df.filter(cond), vec_col, id_col, query, k)


def l2sq(a: Column, b: Column, decimals: int = 6) -> Column:
    """Squared L2 distance between two array columns, rounded so the
    sequential-fold sum is comparable across engines."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
        decimals,
    )


# k*dim above which the literal-centroid assignment expression stops
# being a win: past ~2k nodes the generated method exceeds the JVM's
# 64KB codegen limit, Spark falls back to INTERPRETED eval, and the
# O(n*k*d) per-row fold runs ~100x slower — measured 0.9s (k=8) ->
# 6.4s (k=80) on the SAME 2000x64 corpus, which made the r13 semdedup
# 10x scale-up super-linear (17-20x) until the vectorized path below.
_VECTORIZED_ASSIGN_CELLS = 2048


def _ivf_assign_vectorized(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    chunk_budget: int = int(2e7),
) -> DataFrame:
    """Arrow-vectorized IVF assignment: the centroid matrix rides the
    closure once (k x d float64, KB-to-MB scale) and each Arrow batch
    computes ALL distances as one BLAS call — ||x-c||² expanded to
    x·x - 2 x·c + c·c so the n x k distance block is a single matmul,
    clipped at 0 (the expansion can go -1e-14 for exact-duplicate
    vectors; the direct form can't go negative).  Same contract as the
    literal path: round(d², 6dp) then argmin with first-index
    tie-break (``np.argmin`` takes the first minimum — the documented
    lowest-index rule).  The one behavioral delta is the rounding rule
    AT an exact 5e-7 boundary of d² (numpy rounds half-even, the JVM
    half-up) — measure-zero, the :func:`nearest_cells` epsilon
    posture, and law-tested equal to the literal path on real data.

    This is the SemDeDup-paper-regime path (k=50k at web scale): the
    literal expression tree is linear in k*d and hits interpreted
    fallback, while BLAS does n*k*d multiply-adds at memory bandwidth.
    Row chunks bound the n x k block to ~160 MB regardless of k."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    if C.ndim != 2 or C.shape[0] == 0:
        raise ValueError("ivf_assign_fixed: centroids must be a non-empty k x d matrix")
    c_sq = (C * C).sum(axis=1)

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        # NULL check must precede the np.asarray conversion: float(None)
        # inside the comprehension raises a bare TypeError that would
        # otherwise mask this descriptive error.
        if vs.isna().any():
            raise ValueError(
                "ivf_assign_fixed: NULL vector in batch — filter or impute "
                "NULL embeddings upstream"
            )
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vs], dtype=np.float64
        )
        if len(X) == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        if X.ndim != 2 or X.shape[1] != C.shape[1]:
            raise ValueError(
                f"ivf_assign_fixed: vector dim mismatch or ragged vectors in "
                f"batch (got shape {X.shape}, centroids {C.shape})"
            )
        out = np.empty(len(X), dtype=np.int32)
        step = max(1, int(chunk_budget) // C.shape[0])  # ~160MB f64 n x k block
        for i in range(0, len(X), step):
            xs = X[i : i + step]
            d2 = (xs * xs).sum(axis=1)[:, None] - 2.0 * (xs @ C.T) + c_sq[None, :]
            d2 = np.round(np.maximum(d2, 0.0), 6)
            out[i : i + step] = np.argmin(d2, axis=1)
        return pd.Series(out)

    return df.withColumn("_cell", _assign(F.col(vec_col)))


def ivf_assign_fixed(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    impl: str = "auto",
) -> DataFrame:
    """IVF cell assignment against *fixed* centroids (vs the KMeans fit
    in :func:`ivf_assign`): cell = argmin rounded squared L2 distance,
    ties to the lower centroid index — fully deterministic, so the
    assignment (and therefore the partition layout it drives) is
    oracle-checkable and reproducible across runs and engines.

    Two implementations behind one contract (``impl`` = ``"auto"`` |
    ``"literal"`` | ``"vectorized"``):

    * ``literal`` — pure-Column: the k x d centroid matrix unrolls as
      literals into one projection, no shuffle, no Python; exact
      sequential-fold arithmetic, the oracle-replayable form.  Right
      up to ~2k expression nodes, after which codegen falls back to
      interpreted eval and per-row cost explodes (see
      ``_VECTORIZED_ASSIGN_CELLS``).
    * ``vectorized`` — Arrow-batched numpy BLAS
      (:func:`_ivf_assign_vectorized`): the paper-regime path for
      large k where the literal tree is unplannable.  Same rounding +
      tie-break contract, law-tested equal.

    ``auto`` picks by k*d.  Still one narrow projection either way; at
    scale the ``_cell`` column becomes the write-partitioning key so
    probes prune the scan."""
    k = len(centroids)
    d = len(centroids[0]) if k else 0
    if impl == "auto":
        impl = "vectorized" if k * d > _VECTORIZED_ASSIGN_CELLS else "literal"
    if impl == "vectorized":
        return _ivf_assign_vectorized(df, vec_col, centroids)
    if impl != "literal":
        raise ValueError(
            f"ivf_assign_fixed: impl must be auto|literal|vectorized, got {impl!r}"
        )
    dists = [
        F.struct(
            l2sq(F.col(vec_col), vec_lit(c)).alias("d"),
            F.lit(i).cast("int").alias("i"),
        )
        for i, c in enumerate(centroids)
    ]
    # min over (d, i) structs is lexicographic: nearest distance, then
    # lowest centroid index — the documented tie-break.
    return df.withColumn("_cell", F.array_min(F.array(*dists))["i"])


def nearest_cells(
    query: Sequence[float], centroids: Sequence[Sequence[float]], n_probe: int
) -> list[int]:
    """Driver-side probe selection: indexes of the ``n_probe`` centroids
    nearest the query, same rounded-L2 + index tie-break as
    :func:`ivf_assign_fixed` (sequential double sum matches the Column
    fold bit-for-bit).  Centroids are a KB-scale driver artifact.

    Oracle caveat: the p26 DuckDB oracle computes this distance with an
    unordered SUM aggregate, while this fold (and the Column ``l2sq``)
    is a fixed left-to-right sum.  ROUND(..., 6) absorbs the FP
    association difference in practice, but it is a tolerance, not
    bit-for-bit parity — a distance landing exactly on a 6-dp rounding
    boundary could in principle flip a cell/probe choice between
    engines.  The catalog centroids are well-separated, so no boundary
    case exists in the checked data; treat the oracle match as
    epsilon-tolerant, not exact."""
    def d2(c: Sequence[float]) -> float:
        acc = 0.0
        for x, y in zip(query, c):
            acc = acc + (float(x) - float(y)) * (float(x) - float(y))
        return round(acc, 6)

    ranked = sorted((d2(c), i) for i, c in enumerate(centroids))
    return [i for _, i in ranked[:n_probe]]


def ann_topk_ivf_fixed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    n_probe: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k with deterministic IVF: score only vectors
    assigned to the ``n_probe`` cells nearest the query.  With
    cell-partitioned storage the non-probed cells are never read —
    the scan itself shrinks by ~n_probe/n_cells."""
    probe = nearest_cells(query, centroids, n_probe)
    assigned = ivf_assign_fixed(df, vec_col, centroids)
    return cosine_topk(
        assigned.filter(F.col("_cell").isin(probe)), vec_col, id_col, query, k,
        exclude_id=exclude_id,
    )


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, dim: int, scale_bits: int = 20
) -> DataFrame:
    """Per-label centroid as an array<double>, computed EXACTLY: each
    component is quantized with FLOOR(x * 2^scale_bits) to int64 (floor,
    not round — round-half ties can resolve differently across engines;
    floor of a double is bit-deterministic), the per-label per-dimension
    integer sums are exact regardless of aggregation order, and the
    centroid component is one IEEE division.  Quantization error
    (<= 2^-scale_bits per component) is a fixed, documented property of
    the operator, not engine drift.

    Scale: posexplode -> two-phase (label, pos) SUM — the exchange
    carries labels * dim partial rows; the centroid table is labels *
    dim, broadcastable to any downstream distance pass."""
    q = F.floor(F.col("_x").cast("double") * F.lit(float(1 << scale_bits))).cast(
        "bigint"
    )
    per_dim = (
        df.select(F.col(label_col), F.posexplode(vec_col).alias("_pos", "_x"))
        .select(F.col(label_col), F.col("_pos"), q.alias("_q"))
        .groupBy(label_col, "_pos")
        .agg(F.sum("_q").alias("_s"), F.count(F.lit(1)).alias("_n"))
    )
    comp = (
        F.col("_s").cast("double")
        / F.lit(float(1 << scale_bits))
        / F.col("_n").cast("double")
    )
    return (
        per_dim.select(F.col(label_col), F.struct("_pos", comp.alias("_c")).alias("_pc"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_pc")), lambda s: s.getField("_c")
            ).alias("centroid")
        )
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    dim: int,
    k: int = 3,
    scale_bits: int = 20,
) -> DataFrame:
    """Top-k outliers per label by squared L2 distance to the label's
    (quantized-exact) centroid — the embedding-space mislabel / junk
    detector for a labeled corpus.  Returns (label, vec_id, d2, rnk).

    Distances fold sequentially in index order (``zip_with`` +
    ``aggregate`` — a left fold, NOT an unordered SUM), so the FP
    association is pinned and both engines produce identical doubles;
    d2 is rounded once for the ranking.  Scale: centroids broadcast
    (labels * dim doubles), the distance is a narrow projection over
    the scan, and per-label top-k is a bounded window."""
    cents = label_centroids(df, vec_col, label_col, dim, scale_bits)
    sq = F.zip_with(
        F.col(vec_col),
        F.col("centroid"),
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    d2 = F.round(
        F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v), 6
    )
    w = W.partitionBy(label_col).orderBy(F.desc("d2"), F.col(id_col))
    return (
        df.join(F.broadcast(cents), label_col)
        .select(F.col(label_col), F.col(id_col), d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def kmeans_lloyd_step(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    decimals: int = 6,
) -> DataFrame:
    """One Lloyd iteration over fixed centroids: assign every vector to
    its nearest centroid (:func:`ivf_assign_fixed` — deterministic
    rounded-L2 argmin, ties to the lower index) and return the updated
    per-cell mean vectors with assignment counts.

    This is the refit step IVF partitioning needs when the corpus
    drifts (the reference has no clustering operator; SURVEY §2.7
    extension).  Scale shape: the per-dimension mean is computed by
    exploding (vector → dim index) and running ONE two-phase aggregate
    on (cell, dim) — the shuffle carries 64 partial (sum, count) pairs
    per cell regardless of corpus size, then a second tiny aggregate
    reassembles the k×64 centroid table.  No collect_list of vectors,
    no driver-side math, no per-row Python.

    Empty cells simply produce no row (Lloyd's "dead centroid" case —
    the caller decides whether to reseed); means are rounded so the
    unordered double sum is comparable across engines (epsilon
    tolerance, same caveat as :func:`nearest_cells`).
    """
    assigned = ivf_assign_fixed(df, vec_col, centroids)
    by_dim = assigned.select(
        F.col("_cell").alias("cell"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    dim_means = by_dim.groupBy("cell", "dim").agg(
        F.round(F.avg(F.col("x").cast("double")), decimals).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        dim_means.groupBy("cell")
        .agg(
            F.max("n").alias("n_assigned"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid"),
        )
        .select("cell", "n_assigned", "centroid")
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    tol: float = 1e-4,
    max_iters: int = 25,
    init_centroids: Sequence[Sequence[float]] | None = None,
    decimals: int = 6,
    info: dict | None = None,
) -> DataFrame:
    """Full Lloyd's k-means: iterate :func:`kmeans_lloyd_step` until
    the max per-centroid L2 drift drops below ``tol`` — the clustering
    loop a curation pipeline runs to build IVF cells, topic-balance a
    corpus, or block a dedup pass (single steps are p47's surface;
    this is the convergence engine around it, the same
    tolerance-terminated pattern as ``graph.pagerank_converged``).

    Mechanics: centroids start from ``init_centroids`` or the
    deterministic :func:`first_k_centroids` bootstrap; each round is
    ONE bounded k-row driver collect of the (cell, dims) means — the
    corpus-side work stays the audited two-phase (cell, dim)
    aggregate, and the driver only ever holds k×dims floats.  Dead
    cells keep their previous centroid (no reseeding — deterministic).
    A run that hasn't converged by ``max_iters`` raises RuntimeError
    (the ``connected_components`` contract) rather than returning a
    moving clustering.  Rounded means make every iteration — and so
    the stop round — reproducible at any parallelism.

    Plan note: centroids re-enter each round through
    :func:`ivf_assign_fixed`'s auto dispatch — k×dims literals at the
    catalog's 8×64 (~512 expression nodes, well under the measured
    plan-bloat threshold documented at ``srp_signature_exact``), the
    Arrow/BLAS vectorized path once k×dims crosses
    ``_VECTORIZED_ASSIGN_CELLS`` (the paper's large-k regime, where
    the literal tree would fall back to interpreted eval).

    Returns the final per-cell table (cell, n_assigned, centroid);
    ``info`` (optional dict) receives ``iterations``, ``drifts`` and
    the final ``centroids`` list (feed to :func:`ivf_assign_fixed`
    for assignments)."""
    if tol <= 0:
        raise ValueError("kmeans_lloyd: tol must be > 0")
    if max_iters < 1:
        raise ValueError("kmeans_lloyd: max_iters must be >= 1")
    cur = (
        [list(map(float, c)) for c in init_centroids]
        if init_centroids is not None
        else first_k_centroids(df, vec_col, id_col, k)
    )
    if not cur:
        raise ValueError("kmeans_lloyd: no centroids (empty input?)")
    # Materialize the vector column ONCE for the round loop (lazy
    # localCheckpoint; round 1's collect is the materializing action):
    # every Lloyd round otherwise re-runs the full scan + projection
    # subtree behind `df` — at 100 TB that is max_iters corpus re-reads
    # where one suffices (Spark MLlib's KMeans caches its input for the
    # same reason, guide §5), and locally it is the dominant per-round
    # cost.  Only the narrow (vec) projection is held — MEMORY_AND_DISK,
    # so an over-memory corpus spills rather than OOMs.
    work = stage(df.select(F.col(vec_col)))
    converged = False
    iters_run = 0
    drift = None
    for _ in range(max_iters):
        iters_run += 1
        step = kmeans_lloyd_step(work, vec_col, cur, decimals).collect()
        new = [list(c) for c in cur]  # dead cells keep their centroid
        for r in step:
            new[r["cell"]] = [float(x) for x in r["centroid"]]
        drift = max(
            sum((a - b) ** 2 for a, b in zip(old, upd)) ** 0.5
            for old, upd in zip(cur, new)
        )
        if info is not None:
            info.setdefault("drifts", []).append(drift)
        cur = new
        if drift < tol:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"kmeans_lloyd: centroid drift {drift!r} has not reached "
            f"tol={tol} within {max_iters} iterations — raise max_iters, "
            "loosen tol, or check for oscillating assignments"
        )
    if info is not None:
        info["iterations"] = iters_run
        info["centroids"] = cur
    return kmeans_lloyd_step(work, vec_col, cur, decimals)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    levels: int = 256,
    decimals: int = 6,
) -> DataFrame:
    """Per-vector linear quantization to ``levels`` codes (int8-style
    vector compression: 4x smaller than float32, the standard storage
    format for ANN indexes at scale): ``q_i = floor((x_i - mn) * (L-1)
    / (mx - mn) + 0.5)`` with per-vector (mn, mx) range, plus the max
    absolute reconstruction error.

    Every step is deterministic cross-engine: min/max are exact, the
    affine map is one IEEE multiply/divide chain evaluated in the same
    order in the DuckDB oracle, and floor(x + 0.5) replaces round() —
    engines disagree on round-half semantics, floor never.  Flat
    vectors (mx == mn) quantize to code 0 with zero error.

    Scale shape: pure projection (two array folds + one transform per
    row), no shuffle, no Python — quantization-at-write for 100 TB of
    embeddings is scan-speed.

    Expression staging: mn/mx/qvec are materialized through
    intermediate projections (the ``let_`` discipline) — interpreted
    HOF lambdas get no common-subexpression elimination, so the naive
    single-projection form re-evaluates array_min/array_max and the
    code expression per element per reference (measured 4× slower on
    the 64-dim catalog data).
    """
    x = F.col(vec_col)
    lvl = F.lit(float(levels - 1))
    staged = df.select(
        F.col(id_col),
        x,
        F.array_min(x).cast("double").alias("_mn"),
        F.array_max(x).cast("double").alias("_mx"),
    ).select(
        F.col(id_col),
        x,
        "_mn",
        "_mx",
        (F.col("_mx") - F.col("_mn")).alias("_span"),
    )
    mn, span = F.col("_mn"), F.col("_span")
    quantized = staged.select(
        F.col(id_col),
        x,
        "_mn",
        "_mx",
        "_span",
        F.when(
            span > 0,
            F.transform(
                x,
                lambda e: F.floor(
                    (e.cast("double") - mn) * lvl / span + F.lit(0.5)
                ).cast("int"),
            ),
        ).otherwise(F.transform(x, lambda e: F.lit(0))).alias("qvec"),
    )
    err = F.array_max(
        F.zip_with(
            x,
            F.col("qvec"),
            lambda e, c: F.abs(e.cast("double") - (mn + c.cast("double") * span / lvl)),
        )
    )
    return quantized.select(
        F.col(id_col),
        F.round(mn, decimals).alias("v_min"),
        F.round(F.col("_mx"), decimals).alias("v_max"),
        "qvec",
        F.round(F.when(span > 0, err).otherwise(F.lit(0.0)), decimals).alias(
            "max_abs_err"
        ),
    )


def first_k_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8
) -> list[list[float]]:
    """Deterministic centroid bootstrap shared by the fixed-centroid
    operators (IVF assignment, Lloyd step, cluster-balanced sampling):
    the ``k`` lowest-id vectors, fetched in one bounded driver job.
    One definition so the convention cannot drift between the Spark
    queries and their generated oracles."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    return [list(map(float, r[vec_col])) for r in rows]


def srp_coeffs(n_bits: int, dim: int, seed: int = 7) -> list[list[int]]:
    """±1 hyperplane coefficients for signed-random-projection LSH,
    derived from md5 so any engine can regenerate them (same recipe as
    ``dedup.minhash_perms``: the constants are the spec, not state)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}_{b}_{d}".encode()).hexdigest()[0], 16) < 8
            else -1
            for d in range(dim)
        ]
        for b in range(n_bits)
    ]


def srp_signature_exact(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_bits: int = 12,
    seed: int = 7,
    scale: int = 1_000_000,
) -> DataFrame:
    """Cosine-LSH bit signature with EXACT cross-engine determinism:
    vectors are quantized to integer micro-units (``floor(x·scale +
    0.5)``) so each hyperplane test is a ±1-weighted int64 sum — no
    floating-point association order anywhere, hence no sign flips
    near the plane no matter how partitions reorder the math.  This is
    the write-time companion to :func:`lsh_bucket` (float planes, fast
    but only reproducible within one engine): signatures stored as a
    partition key must mean the same thing when a different system
    recomputes them.

    Hamming-close signatures ⇒ small angle (Goemans-Williamson:
    P[bit differs] = θ/π per plane), so banding these bits is the
    standard cosine near-dup blocking at corpus scale.  SURVEY §2.7
    extension — the reference has no vector operators.

    Scale shape: pure projection — no shuffle, no Python; n_bits
    sequential int folds per row over the staged quantized array.
    Implementation note (measured on the p64 catalog data): an
    unrolled ``±qv[d]`` add-chain variant (768 GetArrayItem nodes)
    costs ~2.5s of CATALYST ANALYSIS per query build — planning, not
    execution — while the compact zip_with/aggregate fold plans in
    <0.3s and executes comparably despite being interpreted; per-row
    work is 12 × dim fused multiply-adds either way, so the small plan
    tree wins at every scale that rebuilds the query."""
    coeffs = srp_coeffs(n_bits, dim, seed)
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    staged = df.select(F.col(id_col), qvec.alias("_qv"))
    qv = F.col("_qv")
    sig = F.lit(0)
    for b in range(n_bits):
        carr = F.array(*[F.lit(c) for c in coeffs[b]])
        dot = F.aggregate(
            F.zip_with(qv, carr, lambda x, c: x * c.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )
        sig = sig + F.when(dot >= 0, F.lit(2**b)).otherwise(F.lit(0))
    return staged.select(F.col(id_col), sig.cast("int").alias("sig"))


def centroid_shift(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    split_col,
    decimals: int = 6,
) -> DataFrame:
    """Per-label embedding drift between two corpus halves: the L2
    distance between each label's centroid computed on split A vs
    split B (``split_col`` boolean: False = A, True = B), plus both
    counts (SURVEY §2.7 extension) — the monitor that catches a
    feature-extraction change or
    upstream distribution shift BEFORE it poisons an ANN index or a
    balanced sample.

    Scale shape: ONE two-phase aggregate on (label, dim) computes both
    split means via conditional AVG over a posexplode — the exchange
    carries 2×dims partials per label, never vectors; the distance is
    a dims-sized per-label fold.  Per-dim means round to 9 before the
    squared-difference sum (unordered across dims), final distance to
    ``decimals`` — the q74/p47 exactness discipline."""
    d = df.select(
        F.col(label_col).alias("label"),
        split_col.cast("boolean").alias("_b"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    dim_means = d.groupBy("label", "dim").agg(
        F.round(F.avg(F.when(~F.col("_b"), F.col("x").cast("double"))), 9).alias("ma"),
        F.round(F.avg(F.when(F.col("_b"), F.col("x").cast("double"))), 9).alias("mb"),
        F.sum(F.when(~F.col("_b"), 1).otherwise(0)).alias("_na"),
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_nb"),
    )
    term = F.round((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 9)
    return (
        dim_means.groupBy("label")
        .agg(
            F.max("_na").cast("long").alias("n_a"),
            F.max("_nb").cast("long").alias("n_b"),
            F.round(F.sqrt(F.sum(term)), decimals).alias("l2_shift"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )


def kcenter_coreset(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    decimals: int = 6,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985's 2-approx
    farthest-point traversal) over an embedding column — the diverse-
    subset primitive behind coverage-maximizing training-data
    selection ("pick k docs spanning the embedding space", seed sets
    for active learning / annotation): start from the MINIMUM-id
    vector, then repeatedly take the point FARTHEST (max rounded
    squared L2, min-id tie-break) from the chosen set until k points
    are selected.  Returns the driver-assembled selection table
    ``(sel_round, vec_id, d2)`` with ``d2`` the distance-to-chosen-set
    at selection time (0.0 for the seed) — fully deterministic
    (rounded distances + id tie-breaks, the :func:`ivf_assign_fixed`
    conventions), so the whole trajectory is oracle-replayable.

    Scale shape: each of the k−1 rounds is ONE corpus projection
    (min over ≤ k rounded :func:`l2sq` literal distances — the
    centroid-literal regime of :func:`kmeans_lloyd`, well under the
    plan-bloat threshold for the k ≤ a-few-dozen coresets this is
    for) + a TakeOrderedAndProject argmax returning a single row: the
    driver only ever holds k × dims floats, exactly the k-means fetch
    contract.  For k beyond literal-plan range, switch to
    :func:`kcenter_coreset_2pass` (cluster with :func:`kmeans_lloyd`,
    then k-center the bounded centroid table) — the standard
    composition, law-tested equal to the direct traversal over the
    centroid table.  Stops
    early (fewer rows than k, or max distance 0.0 = all remaining
    points duplicate a chosen one) rather than padding.
    """
    if k < 1:
        raise ValueError("kcenter_coreset: k must be >= 1")
    # One (id, vec) projection materialized for the whole traversal
    # (lazy localCheckpoint; the seed fetch is the materializing
    # action): each of the k−1 farthest-point rounds otherwise re-runs
    # the scan + projection behind `df` — k corpus re-reads where one
    # suffices, the same round-loop caching as kmeans_lloyd.
    work = stage(df.select(F.col(id_col), F.col(vec_col)))
    seed_rows = work.orderBy(F.col(id_col)).limit(1).collect()
    if not seed_rows:
        raise ValueError("kcenter_coreset: empty input")
    chosen_ids = [int(seed_rows[0][id_col])]
    chosen_vecs = [[float(x) for x in seed_rows[0][vec_col]]]
    out = [(0, chosen_ids[0], 0.0)]
    for r in range(1, int(k)):
        mind = F.least(
            *[l2sq(F.col(vec_col), vec_lit(c), decimals) for c in chosen_vecs]
        ) if len(chosen_vecs) > 1 else l2sq(
            F.col(vec_col), vec_lit(chosen_vecs[0]), decimals
        )
        far = (
            work.select(F.col(id_col), F.col(vec_col), mind.alias("_d"))
            .orderBy(F.desc("_d"), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not far or float(far[0]["_d"]) <= 0.0:
            break  # remaining points all duplicate a chosen one
        chosen_ids.append(int(far[0][id_col]))
        chosen_vecs.append([float(x) for x in far[0][vec_col]])
        out.append((r, chosen_ids[-1], float(far[0]["_d"])))
    return df.sparkSession.createDataFrame(
        out, "sel_round int, vec_id long, d2 double"
    )


def kcenter_coreset_2pass(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_cells: int = 64,
    tol: float = 1e-3,
    max_iters: int = 25,
    decimals: int = 6,
    info: dict | None = None,
) -> DataFrame:
    """:func:`kcenter_coreset` beyond literal-plan range — the standard
    2-pass composition its docstring promises: pass 1 clusters the
    corpus with the convergence-terminated :func:`kmeans_lloyd`
    (``n_cells`` cells, bounded k-row driver state per round); pass 2
    runs the EXACT greedy k-center traversal over the bounded centroid
    table (``n_cells`` rows — never the corpus).  The selected rows are
    centroids, so ``vec_id`` in the returned ``(sel_round, vec_id,
    d2)`` table is the CELL index [0, n_cells) — join back through
    :func:`ivf_assign_fixed` on ``_cell`` to materialize each selected
    cell's members (the coreset-with-weights shape: cell sizes are the
    standard weights).

    Law-tested: equals :func:`kcenter_coreset` run directly on the
    centroid table built from the same fit.  100 TB shape: pass 1 is
    the audited Lloyd engine (corpus work = one two-phase aggregate
    per round); pass 2 touches ``n_cells`` rows, so k is unconstrained
    by the literal-plan ceiling that limits the direct traversal —
    raise ``n_cells`` (the paper regime: tens of thousands) and keep
    k ≤ n_cells."""
    if not 1 <= int(k):
        raise ValueError("kcenter_coreset_2pass: k must be >= 1")
    if int(k) > int(n_cells):
        raise ValueError(
            f"kcenter_coreset_2pass: k={k} exceeds n_cells={n_cells} — "
            "k-center over the centroid table can select at most one "
            "point per cell"
        )
    if info is None:
        info = {}
    kmeans_lloyd(
        df, vec_col, id_col, k=n_cells, tol=tol, max_iters=max_iters, info=info
    )
    cent = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(info["centroids"])],
        "cent_id long, centroid array<double>",
    )
    return kcenter_coreset(cent, "centroid", "cent_id", k=k, decimals=decimals)


def _gram_agg(
    df: DataFrame, vec_col: str, dim: int, scale: int
) -> DataFrame:
    """The shared bounded aggregate behind :func:`embedding_gram_exact`
    and :func:`pca_project`: per-batch int64 Gram partials (one numpy
    matmul per Arrow batch; ≤ dim(dim+1)/2 + dim rows each, j = −1
    rows carrying the per-dim sums) merged by ONE two-phase SUM on
    (i, j) — lazily checkpointed, because every consumer fans the
    ≤ dim²-row result into several branches (sums / totals / grid)
    and would re-run the corpus matmul otherwise (the repo's
    multi-consumer trap)."""
    import numpy as np
    import pandas as pd

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col].tolist()
            for v in vecs:
                if v is None or len(v) != dim:
                    raise ValueError(
                        f"embedding_gram_exact: vector is NULL or not "
                        f"dim={dim} — clean upstream"
                    )
            x = np.asarray(vecs, dtype=np.float64)
            q = np.floor(x * float(scale) + 0.5).astype(np.int64)
            g = q.T @ q  # exact int64 matmul
            s = q.sum(axis=0, dtype=np.int64)
            iu, ju = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(dim)]).astype("int32"),
                    "j": np.concatenate([ju, np.full(dim, -1)]).astype("int32"),
                    "v": np.concatenate([g[iu, ju], s]).astype("int64"),
                    "n": np.int64(len(pdf)),
                }
            )

    parts = df.select(F.col(vec_col)).mapInPandas(
        gram_partials, "i int, j int, v long, n long"
    )
    return stage(
        parts.groupBy("i", "j")
        .agg(F.sum("v").alias("_v"), F.sum("n").alias("_n"))
    )


def embedding_gram_exact(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """EXACT Gram/covariance statistics of an embedding column — the
    input every classical dim-reduction (PCA whitening before IVF,
    the Abbas et al. SemDeDup preprocessing) and drift monitor needs:
    vectors are quantized to integer micro-units (``floor(x·scale +
    0.5)``, the :func:`srp_signature_exact` device), so Σ xᵢ·xⱼ is an
    associative-commutative int64 sum — bit-identical at any
    parallelism and in any engine, no FP-association tolerance
    anywhere.  Emits the upper triangle ``(i, j, gram_q, n, cov)``
    with ``gram_q = Σ q_i·q_j`` (quantized units), ``n`` the vector
    count, and ``cov`` the derived covariance in ORIGINAL units
    (rounded): cov = (gram_q/n − (Σq_i/n)·(Σq_j/n)) / scale².

    Scale shape: one Arrow-batched ``mapInPandas`` pass computes each
    batch's int64 Gram partial as a single numpy matmul (Xᵀ·X — BLAS
    on integers per batch, emitted as ≤ dim·(dim+1)/2 + dim rows per
    batch), then ONE bounded two-phase SUM on (i, j): the exchange
    carries partials-per-batch, never vectors.  int64 headroom:
    |q| ≤ scale, so n·scale² must stay < 2⁶³ — at scale=10⁶ that is
    ~9.2·10⁶ billion-unit products per cell, i.e. ~9 trillion rows;
    shard and merge (the sketch posture) beyond that.  Rows with NULL
    or wrong-length vectors are rejected loudly inside the worker
    (a silent skip would bias every moment)."""
    agg = _gram_agg(df, vec_col, dim, scale)
    sums = agg.filter(F.col("j") == -1).select(
        F.col("i").alias("_si"), F.col("_v").alias("_s")
    )
    tot = agg.filter(F.col("j") == -1).agg(F.max("_n").alias("n"))
    gram = (
        agg.filter(F.col("j") >= 0)
        .join(F.broadcast(sums), F.col("i") == F.col("_si"))
        .drop("_si")
        .withColumnRenamed("_s", "_si_sum")
        .join(F.broadcast(sums), F.col("j") == F.col("_si"))
        .drop("_si")
        .withColumnRenamed("_s", "_sj_sum")
        .crossJoin(F.broadcast(tot))
    )
    sc2 = float(scale) * float(scale)
    cov = (
        F.col("_v").cast("double") / F.col("n")
        - (F.col("_si_sum").cast("double") / F.col("n"))
        * (F.col("_sj_sum").cast("double") / F.col("n"))
    ) / F.lit(sc2)
    return gram.select(
        "i",
        "j",
        F.col("_v").alias("gram_q"),
        "n",
        # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a near-zero covariance
        # rounds to a SIGNED zero whose sign depends on the engine's
        # round implementation — the p77 printf convention)
        (F.round(cov, decimals) + F.lit(0.0)).alias("cov"),
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components —
    the classical dim-reduction pass in front of IVF/k-means at scale
    (shorter vectors: cheaper distance math, denser cells).  The
    covariance comes from :func:`embedding_gram_exact` (bit-exact
    int64 Gram), the eigendecomposition runs ON THE DRIVER over the
    dim×dim matrix (bounded state — the k-means-centroid collect
    regime, dim² doubles regardless of corpus size), and the
    projection is a pure-Column ``aggregate`` fold per component with
    the means and loadings riding as literals.

    Determinism: the Gram is exact, numpy's ``eigh`` on an identical
    symmetric matrix is deterministic per platform, and each
    eigenvector's sign is pinned (largest-|component| entry made
    positive, index tie-break) so the loadings are reproducible;
    projected coordinates are rounded.  Returns ``(id, pc)`` with
    ``pc`` an array of k doubles (law-tested against a numpy replay;
    not driver-hashable — the catalog surface is the gram table).

    Cost shape: ONE corpus pass — the fit collects the shared
    :func:`_gram_agg` table (Gram cells AND per-dim sums ride in the
    same ≤ dim² + dim rows, so no second scan for the means), and the
    projection stages the centered array through ``let_`` so the k
    per-component folds evaluate it once per row (interpreted HOF
    expressions get no CSE — the measured 5× trap)."""
    import numpy as np

    from spear_spark.functions import let_

    rows = _gram_agg(df, vec_col, dim, scale).collect()
    n = max((r["_n"] for r in rows if r["j"] == -1), default=0)
    if not n:
        raise ValueError("pca_project: empty input")
    s = np.zeros(dim, dtype=np.float64)
    g = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        if r["j"] == -1:
            s[r["i"]] = r["_v"]
        else:
            g[r["i"], r["j"]] = g[r["j"], r["i"]] = r["_v"]
    sc2 = float(scale) * float(scale)
    # the same rounded-covariance the gram table exposes (rounding is
    # part of the law-tested contract — the replay rounds identically)
    cov = np.round((g / n - np.outer(s / n, s / n)) / sc2, 6)
    mu = s / n / float(scale)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        vec = v[:, idx]
        pin = int(np.argmax(np.abs(np.round(vec, 12))))
        if vec[pin] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
    marr = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(
        F.col(vec_col), marr, lambda e, m: e.cast("double") - m
    )

    def body(c: Column) -> Column:
        pcs = []
        for comp in comps:
            carr = F.array(*[F.lit(float(x)) for x in comp])
            dot_ = F.aggregate(
                F.zip_with(c, carr, lambda e, cc: e * cc),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            pcs.append(F.round(dot_, decimals))
        return F.array(*pcs)

    return df.select(F.col(id_col), let_(centered, body).alias("pc"))


def centroid_drift(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    dim: int,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """EXACT per-group embedding centroid drift vs the corpus centroid
    — the linear (mean-embedding) member of the drift family: PSI/KS
    (p113/p116) watch SCALAR distributions, this watches where each
    source/label sits in EMBEDDING space, the early-warning signal for
    "source X started shipping different content" that scalar stats
    miss.  One row per group: ``(label, n, l1_drift, linf_drift,
    top_dim)`` — L1/L∞ distance between the group mean and the global
    mean in original units (rounded), plus the dimension of maximum
    displacement (min dim on ties, deterministic).

    Exactness: the :func:`embedding_gram_exact` device — components
    quantize to integer micro-units (``floor(x·scale + 0.5)``), so
    per-(group, dim) sums are associative int64; the mean comparison
    clears denominators (``S_gd·N − G_d·n_g`` in decimal(38,0) — int64
    would overflow at n·N·scale > 2⁶³, routine at corpus scale), so
    NOTHING floats until the single final division.  Bit-identical at
    any parallelism and in any engine.  Headroom: |diff| ≤ 2·n·N·scale
    ~ 10²⁸ at n = N = 10¹¹ — twelve orders below the decimal(38) rim.

    Contract: NULL or wrong-length vectors raise in-plan (a silent
    skip biases the very means being compared).

    Scale shape: ONE posexplode + two-phase aggregate on (group, dim)
    — map-side partials collapse the corpus before the exchange, the
    exchange carries ≤ |groups|·dim cells; the global row is a window
    over that CELL table (never a second corpus scan), and everything
    downstream is cell-table-sized."""
    return centroid_drift_from_cells(
        centroid_cells(df, vec_col, group_col, dim, scale, op="centroid_drift"),
        scale,
        decimals,
    )


def quantized_vec(
    vec_col: str,
    dim: int,
    scale: int = 1_000_000,
    op: str = "centroid_drift",
) -> Column:
    """Integer micro-unit quantization of a vector column with the
    loud NULL/wrong-length guard — the shared front end of
    :func:`centroid_cells` and its streaming twin."""
    v = F.col(vec_col)
    checked = F.when(
        v.isNull() | (F.size(v) != dim),
        F.raise_error(
            F.lit(
                f"{op}: NULL or wrong-length vector (need "
                f"{dim} dims) — a silent skip would bias the means"
            )
        ).cast("array<double>"),
    ).otherwise(v.cast("array<double>"))
    return F.transform(
        checked,
        lambda e: F.floor(e.cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
            "long"
        ),
    )


def centroid_cells(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    dim: int,
    scale: int = 1_000_000,
    op: str = "centroid_cells",
) -> DataFrame:
    """The mergeable integer STATE behind the whole centroid family:
    per-(group, dim) quantized sums ``(label, d, s, sq, n)`` — first
    moment, second moment (decimal(38,0): int64 dies at n·scale² >
    2⁶³, ~9·10⁶ vectors), and count.  All three are associative, so
    cell tables from shards, days, or a drained stream
    (``streaming.centroid_cells_stream``) merge by plain addition per
    (label, d) and feed :func:`centroid_drift_from_cells` AND
    :func:`centroid_dispersion_from_cells` bit-exactly — one state,
    both readouts, the sketch posture applied to moments."""
    ex = df.select(
        F.col(group_col).alias("label"),
        F.posexplode(quantized_vec(vec_col, dim, scale, op=op)).alias("d", "_q"),
    )
    return ex.groupBy("label", "d").agg(
        F.sum("_q").alias("s"),
        F.sum((F.col("_q") * F.col("_q")).cast("decimal(38,0)")).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )


def centroid_drift_from_cells(
    cells: DataFrame,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """Finish :func:`centroid_drift` from a ``(label, d, s, n)`` cell
    table — fresh from :func:`centroid_cells`, or merged across
    shards/periods by summing s and n per (label, d).  Everything
    here is cell-table-sized; the corpus never appears."""
    cell = cells.select(
        "label", "d", F.col("s").alias("_s"), F.col("n").alias("_n")
    )
    wd = W.partitionBy("d")
    dec = "decimal(38,0)"
    diff = cell.select(
        "label",
        "d",
        "_n",
        F.sum("_s").over(wd).alias("_gs"),
        F.sum("_n").over(wd).alias("_nn"),
        "_s",
    ).select(
        "label",
        "d",
        "_n",
        "_nn",
        F.abs(
            F.col("_s").cast(dec) * F.col("_nn").cast(dec)
            - F.col("_gs").cast(dec) * F.col("_n").cast(dec)
        ).alias("_ad"),
    )
    wl = W.partitionBy("label")
    staged = diff.select("*", F.max("_ad").over(wl).alias("_mx"))
    agg = staged.groupBy("label").agg(
        F.min("_n").alias("n"),
        F.min("_nn").alias("_N"),
        F.sum("_ad").alias("_l1q"),
        F.min("_mx").alias("_linfq"),
        F.min(F.when(F.col("_ad") == F.col("_mx"), F.col("d"))).alias("top_dim"),
    )
    denom = (
        F.col("n").cast("double")
        * F.col("_N").cast("double")
        * F.lit(float(scale))
    )
    return agg.select(
        "label",
        "n",
        (F.round(F.col("_l1q").cast("double") / denom, decimals) + F.lit(0.0)).alias(
            "l1_drift"
        ),
        (F.round(F.col("_linfq").cast("double") / denom, decimals) + F.lit(0.0)).alias(
            "linf_drift"
        ),
        "top_dim",
    )


def centroid_dispersion(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    dim: int,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """EXACT within-group embedding scatter — the variance complement
    of :func:`centroid_drift`: drift says WHERE a group's centroid
    moved, dispersion says whether the group COLLAPSED (trace variance
    → 0 flags a source shipping near-identical embeddings — template
    mills and stuck encoders — before any dedup pass runs) or
    exploded (mixed/incoherent content).  One row per group:
    ``(label, n, trace_var, top_dim, top_var)`` — total biased
    variance Σ_d Var_d in original units, plus the highest-variance
    dimension (min dim on ties).

    Exactness: per-(group, dim) Σq and Σq² are associative integer
    sums — Σq² is summed in decimal(38,0) from the start (int64 dies
    at n·scale² > 2⁶³, i.e. n ~ 9·10⁶ vectors at the default scale);
    the variance numerator ``n·Σq² − (Σq)²`` clears denominators in
    decimal, so nothing floats until the final division by n²·scale².
    Bit-identical at any parallelism and in any engine.

    Scale shape: the :func:`centroid_cells` plan — one posexplode +
    ONE two-phase (group, dim) aggregate; everything downstream is
    cell-table-sized."""
    return centroid_dispersion_from_cells(
        centroid_cells(
            df, vec_col, group_col, dim, scale, op="centroid_dispersion"
        ),
        scale,
        decimals,
    )


def centroid_dispersion_from_cells(
    cells: DataFrame,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """Finish :func:`centroid_dispersion` from a ``(label, d, s, sq,
    n)`` cell table — fresh from :func:`centroid_cells`, or merged
    across shards/periods by summing s, sq, n per (label, d).
    Cell-table-sized; the corpus never appears."""
    dec = "decimal(38,0)"
    cell = cells.select(
        "label",
        "d",
        F.col("s").alias("_s"),
        F.col("sq").cast(dec).alias("_sq"),
        F.col("n").alias("_n"),
    )
    vd = (
        F.col("_n").cast(dec) * F.col("_sq")
        - F.col("_s").cast(dec) * F.col("_s").cast(dec)
    )
    staged = cell.select("label", "d", "_n", vd.alias("_vd"))
    wl = W.partitionBy("label")
    staged = staged.select("*", F.max("_vd").over(wl).alias("_mx"))
    agg = staged.groupBy("label").agg(
        F.min("_n").alias("n"),
        F.sum("_vd").alias("_tr"),
        F.min("_mx").alias("_top"),
        F.min(F.when(F.col("_vd") == F.col("_mx"), F.col("d"))).alias("top_dim"),
    )
    denom = (
        F.col("n").cast("double")
        * F.col("n").cast("double")
        * F.lit(float(scale) * float(scale))
    )
    return agg.select(
        "label",
        "n",
        (F.round(F.col("_tr").cast("double") / denom, decimals) + F.lit(0.0)).alias(
            "trace_var"
        ),
        "top_dim",
        (F.round(F.col("_top").cast("double") / denom, decimals) + F.lit(0.0)).alias(
            "top_var"
        ),
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries_df: DataFrame,
    q_id: str,
    q_vec: str,
    k: int = 10,
    max_sim: float = 0.95,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    anchor, the k MOST similar corpus items strictly BELOW a
    near-duplicate ceiling ``max_sim`` — similar enough to be hard,
    not so similar they are the positive/duplicate in disguise (the
    classic false-negative poison in contrastive batches; the ceiling
    is the same threshold a :func:`~spear_spark.operators.dedup.
    near_dedup_embedding` pass would use, so the two stay consistent).
    Returns ``(anchor_id, id, cos_sim, rnk)``.

    The band filter applies BEFORE the per-anchor ranking — a
    post-rank filter would silently return fewer than k rows whenever
    near-dups crowd the top instead of backfilling with the next-best
    negatives (law-tested).

    Scale shape: :func:`cosine_topk_batch`'s plan — anchors broadcast,
    ONE corpus scan for all anchors, corpus norms computed once per
    row, per-anchor rank window over the banded score set.  For
    corpus-sized anchor sets, block with IVF cells first (p26) and run
    this within cells."""
    base = df.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    qs = queries_df.select(
        F.col(q_id).alias("_qid"),
        F.col(q_vec).alias("_qv"),
        norm(F.col(q_vec)).alias("_qn"),
    )
    scored = (
        base.crossJoin(F.broadcast(qs))
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            F.col("_qid"),
            F.col("_cid"),
            F.round(
                dot(F.col("_cv"), F.col("_qv")) / (F.col("_cn") * F.col("_qn")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") < F.lit(float(max_sim)))
    )
    w = W.partitionBy("_qid").orderBy(F.col("cos_sim").desc(), F.col("_cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("_qid").alias("anchor_id"),
            F.col("_cid").alias(id_col),
            "cos_sim",
            "rnk",
        )
    )


def knn_label_purity(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    anchors_df: DataFrame | None = None,
    k: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Embedding-quality readout: for each anchor, the share of its k
    nearest neighbors (cosine) that carry the anchor's label, averaged
    per label — the k-NN purity metric that says whether an embedding
    column actually clusters by the label you care about BEFORE you
    spend a training run on it (purity ≈ 1/|labels| means the space is
    noise for this label; the standard sanity gate on a new encoder).
    One row per anchor label: ``(label, n_anchors, purity)``.

    ``anchors_df`` defaults to the corpus itself — correct for
    evaluation sets, QUADRATIC for corpora: at scale pass a sampled
    anchor table (:func:`~spear_spark.operators.sampling.
    bottom_k_sample` per label is the stratified shape) or run within
    IVF cells (p26).  The neighbor ranking is
    :func:`cosine_topk_batch`'s plan: anchors broadcast, ONE corpus
    scan, per-anchor rank window; ties break on id, so the neighbor
    set is deterministic cross-engine."""
    anchors = anchors_df if anchors_df is not None else df
    qs = anchors.select(
        F.col(id_col).alias("_aid"),
        F.col(vec_col).alias("_av"),
        F.col(label_col).alias("_alabel"),
    )
    nn = cosine_topk_batch(
        df, vec_col, id_col, qs.select("_aid", "_av"), "_aid", "_av", k=k
    )
    labels = df.select(
        F.col(id_col).alias("_nid"), F.col(label_col).alias("_nlabel")
    )
    joined = (
        nn.select(F.col("_aid"), F.col(id_col).alias("_nid"))
        .join(labels, "_nid")
        .join(F.broadcast(qs.select("_aid", "_alabel")), "_aid")
    )
    per_anchor = joined.groupBy("_aid", "_alabel").agg(
        F.sum((F.col("_nlabel") == F.col("_alabel")).cast("long")).alias("_hit"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_anchor.groupBy(F.col("_alabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_anchors"),
        (
            F.round(
                F.sum("_hit").cast("double") / F.sum("_n").cast("double"),
                decimals,
            )
            + F.lit(0.0)
        ).alias("purity"),
    )


def centroid_distance_matrix(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    dim: int,
    scale: int = 1_000_000,
    decimals: int = 6,
) -> DataFrame:
    """EXACT pairwise L1 distance between group centroids — the
    source-similarity MAP completing the centroid family (p144 drift
    measures each group against the corpus; this measures groups
    against EACH OTHER): two sources whose centroids nearly coincide
    are redundant in embedding space — mirror/scrape candidates to
    cross-check against p127's verbatim chunk overlap — while a
    far-outlying source is the mixture's diversity carrier.  One row
    per unordered pair: ``(label_a, label_b, l1_dist)`` in original
    units.

    Exactness: the :func:`centroid_cells` integer state; per pair and
    dim the cleared-denominator difference ``S_ad·n_b − S_bd·n_a`` in
    decimal(38,0), summed |·| over dims, ONE final division by
    n_a·n_b·scale.  Scale shape: the corpus collapses to the cell
    table ONCE — the bounded cell table is lazily checkpointed so both
    self-join branches read the materialized RDD instead of each
    re-scanning the corpus (the repo's measured multi-consumer trap;
    plan-pinned to one parquet scan) — then the pair join is over
    ≤ |groups|·dim cells on the dim key: groups², but over CENTROIDS,
    never data."""
    cells = stage(
        centroid_cells(df, vec_col, group_col, dim, scale, op="centroid_distance_matrix")
    )
    dec = "decimal(38,0)"
    a = cells.select(
        F.col("label").alias("label_a"),
        "d",
        F.col("s").alias("_sa"),
        F.col("n").alias("_na"),
    )
    b = cells.select(
        F.col("label").alias("label_b"),
        "d",
        F.col("s").alias("_sb"),
        F.col("n").alias("_nb"),
    )
    pairs = a.join(b, "d").filter(F.col("label_a") < F.col("label_b"))
    ad = F.abs(
        F.col("_sa").cast(dec) * F.col("_nb").cast(dec)
        - F.col("_sb").cast(dec) * F.col("_na").cast(dec)
    )
    agg = pairs.groupBy("label_a", "label_b").agg(
        F.sum(ad).alias("_l1q"),
        F.min("_na").alias("_na"),
        F.min("_nb").alias("_nb"),
    )
    denom = (
        F.col("_na").cast("double")
        * F.col("_nb").cast("double")
        * F.lit(float(scale))
    )
    return agg.select(
        "label_a",
        "label_b",
        (F.round(F.col("_l1q").cast("double") / denom, decimals) + F.lit(0.0)).alias(
            "l1_dist"
        ),
    )


def ivf_recall_curve(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    anchors: Sequence[tuple[int, Sequence[float]]],
    centroids: Sequence[Sequence[float]],
    k: int = 5,
    max_probe: int = 4,
    decimals: int = 6,
) -> DataFrame:
    """The n_probe tuning curve for a deterministic IVF index:
    recall@k of :func:`ann_topk_ivf_fixed` against the brute-force
    truth, per probe depth 1..max_probe, averaged over the anchor set
    — ``(n_probe, n_anchors, n_hits, recall_at_k)``.  This is the
    measured answer to "how many cells must I probe for 95% recall ON
    MY DATA" — the p159 honesty posture applied to the ANN family
    (test-suite recall contracts pin single points; this emits the
    whole curve as a certifiable table).

    Anchors and centroids are driver-side literals (the p26
    convention — both are a few KB); everything corpus-sized stays
    distributed: ONE cell-assignment projection, the brute truth via
    the broadcast-anchor batch ranker, candidates via a broadcast
    hash join on the cell key, and a per-(anchor, probe) rank window
    over the candidate set (bounded by the probed cells).  A
    candidate in the anchor's rc-th nearest cell is eligible at every
    probe depth >= rc — one ``sequence(rc, max_probe)`` explode, no
    per-depth rescans.  All ranks tie-break on id; recall is a ratio
    of exact counts.

    The (anchor, doc) cosines are scored ONCE (r14): the brute-force
    truth needs every corpus×anchor cosine anyway, so the scored
    relation (id, cell, anchor, cos — lazily checkpointed, n·|anchors|
    narrow rows, MEMORY_AND_DISK) feeds BOTH the truth ranking and the
    probed-cell candidate set.  The pre-r14 form ran the interpreted
    64-term cosine fold twice (full corpus via
    :func:`cosine_topk_batch`, probed subset again for candidates) and
    scanned + cell-assigned the corpus in two separate passes.  Same
    expressions, same rounding, same tie-breaks — result unchanged by
    construction.

    Scale note: the staged scored relation is |anchors| x n rows of
    executor state (narrow — 3 ids + a double).  Anchor sets are
    calibration probes (dozens), not query workloads; for |anchors|
    approaching corpus scale, run the curve in anchor batches rather
    than raising executor storage."""
    if not anchors:
        raise ValueError("ivf_recall_curve: need at least one anchor")
    if max_probe < 1 or max_probe > len(centroids):
        raise ValueError(
            "ivf_recall_curve: max_probe must be in 1..len(centroids)"
        )
    spark = df.sparkSession
    n_anchors = len(anchors)
    aset = [(int(a), [float(x) for x in v]) for a, v in anchors]

    qs = spark.createDataFrame(
        [(a, v) for a, v in aset], f"_aid long, _av array<double>"
    )

    ranks = []
    for a, v in aset:
        order = nearest_cells(v, centroids, len(centroids))
        ranks += [(a, int(c), rc + 1) for rc, c in enumerate(order)]
    cellrank = spark.createDataFrame(ranks, "_aid long, _cell int, _rc int")

    assigned = ivf_assign_fixed(df, vec_col, centroids).select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
        F.col("_cell").cast("int").alias("_cell"),
    )
    scored = stage(
        assigned.crossJoin(F.broadcast(qs.withColumn("_qn", norm(F.col("_av")))))
        .filter(F.col("_cid") != F.col("_aid"))
        .select(
            "_aid",
            "_cid",
            "_cell",
            F.round(
                dot(F.col("_cv"), F.col("_av")) / (F.col("_cn") * F.col("_qn")),
                6,
            ).alias("_cos"),
        )
    )
    w_truth = W.partitionBy("_aid").orderBy(F.col("_cos").desc(), F.col("_cid"))
    truth = (
        scored.withColumn("_trnk", F.row_number().over(w_truth))
        .filter(F.col("_trnk") <= k)
        .select(F.col("_aid"), F.col("_cid").alias("_tid"))
    )
    cand = scored.join(
        F.broadcast(cellrank.filter(F.col("_rc") <= max_probe)),
        ["_aid", "_cell"],
    ).select("_aid", "_cid", "_rc", "_cos")
    per_probe = cand.select(
        "_aid",
        "_cid",
        "_cos",
        F.explode(
            F.sequence(F.col("_rc"), F.lit(int(max_probe)))
        ).alias("n_probe"),
    )
    w = W.partitionBy("_aid", "n_probe").orderBy(
        F.col("_cos").desc(), F.col("_cid")
    )
    topk = per_probe.withColumn("_rnk", F.row_number().over(w)).filter(
        F.col("_rnk") <= k
    )
    # truth is n_anchors·k rows by construction — broadcast it; the
    # post-window estimate otherwise defaults the semi join to
    # sort-merge against the candidate set
    hits = topk.join(
        F.broadcast(truth),
        (topk._aid == truth._aid) & (topk._cid == truth._tid),
        "left_semi",
    )
    denom = float(n_anchors * k)
    return (
        hits.groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("n_probe").cast("int").alias("n_probe"),
            F.lit(n_anchors).alias("n_anchors"),
            "n_hits",
            (
                F.round(F.col("n_hits").cast("double") / F.lit(denom), decimals)
                + F.lit(0.0)
            ).alias("recall_at_k"),
        )
        .orderBy("n_probe")
    )
