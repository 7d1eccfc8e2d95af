"""Shared corpus replicators for the 10x scale-up harness — ONE
definition used by both the scaled-dir builder (scripts/make_scaled_dir.py)
and the ratio pins (tests/test_scaleup.py), so the measured corpus and
the pinned corpus cannot silently drift apart.  The walls it measured
are in docs/DESIGN.md, "Scale-up"; the retired timing script is
readable at ``git show f732efd:scripts/dedup_scaleup.py``.

Both replicators build reps ISOMORPHIC copies of the input with ids
shifted into disjoint ranges (``ID_SHIFT`` apart):

* :func:`replicate_docs` — text passes through a per-replica alphabet
  rotation (``translate`` with a shifted alphabet).  A character
  bijection preserves replica-internal structure exactly (exact dups
  stay exact, distinct tokens stay distinct, Jaccard values and
  per-replica shingle document frequencies are invariant) while
  destroying cross-replica token/shingle overlap — so "10x" is
  genuinely 10x more corpus, not 9 planted near-dups per doc.

* :func:`replicate_embeddings` — vectors pass through per-replica
  SIGNED CYCLIC ROTATIONS (shift coordinates by r, flip a
  deterministic sign pattern).  A signed permutation is orthogonal, so
  every replica's internal cosine structure is preserved exactly while
  cross-replica geometry decorrelates; rep 0 is the identity
  (byte-identical to the base corpus).  Built with slice+zip_with, not
  64 element_at's per replica — the per-element form blows the 64KB
  codegen method limit at 10 replicas.
"""

from __future__ import annotations

from pyspark.sql import functions as F

ALPHA = "abcdefghijklmnopqrstuvwxyz"
EMB_DIM = 64
ID_SHIFT = 10_000_000


def replicate_docs(docs, reps: int):
    """reps isomorphic copies of the documents corpus (see module
    docstring); returns (doc_id, text)."""
    copies = F.array(
        *[
            F.struct(
                F.lit(i).alias("rep"),
                F.translate(F.col("text"), ALPHA, ALPHA[i:] + ALPHA[:i]).alias("t"),
            )
            for i in range(reps)
        ]
    )
    return docs.withColumn("_c", F.explode(copies)).select(
        (F.col("doc_id") + F.col("_c.rep") * F.lit(ID_SHIFT)).alias("doc_id"),
        F.col("_c.t").alias("text"),
    )


def replicate_embeddings(emb, reps: int):
    """reps isomorphic copies of the embeddings corpus under signed
    cyclic rotations (see module docstring); rep 0 is the identity.
    Returns (vec_id, embedding)."""

    def xform(r):
        if r == 0:
            return F.col("embedding")
        shifted = F.concat(
            F.slice(F.col("embedding"), r + 1, EMB_DIM - r),
            F.slice(F.col("embedding"), 1, r),
        )
        signs = F.array(
            *[
                F.lit(-1.0 if (i * 7 + r) % 3 == 0 else 1.0).cast("float")
                for i in range(EMB_DIM)
            ]
        )
        return F.zip_with(shifted, signs, lambda x, s: (x * s).cast("float"))

    copies = F.array(
        *[F.struct(F.lit(r).alias("rep"), xform(r).alias("v")) for r in range(reps)]
    )
    return emb.withColumn("_c", F.explode(copies)).select(
        (F.col("vec_id") + F.col("_c.rep") * F.lit(ID_SHIFT)).alias("vec_id"),
        F.col("_c.v").alias("embedding"),
    )


def attach_base_column(replicated, base, *cols: str, id_col: str = "doc_id"):
    """Re-attach base-table columns (e.g. ``source``) to replicated
    rows: every replica id is ``base_id + rep * ID_SHIFT``, so the base
    row is recovered with a pmod join.  Used by the report-family
    scale-up (p102/p137/p153), whose per-group accounting needs the
    group column the replicators drop, and by scripts/make_scaled_dir.py
    for the full table schema."""
    key = base.select(F.col(id_col).alias("_bid"), *cols)
    return (
        replicated.join(
            key, F.pmod(F.col(id_col), F.lit(ID_SHIFT)) == F.col("_bid")
        ).drop("_bid")
    )
