"""Pipeline-operator query catalog (dedup / similarity / text /
multimodal) with generated DuckDB oracles.

The oracle SQL for minhash/simhash is *generated* from the same
constants as the Spark implementation (``dedup.minhash_perms``), so
both engines compute the identical md5-based arithmetic — the oracle is
a genuinely independent second implementation, not a copy of the plan.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame as SDF
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

def _sorted(df: SDF, *cols) -> SDF:
    """Determinism sort for catalog results, with the result table
    staged FIRST (config.stage): a global orderBy plans a
    RangePartitioning whose sampling pass otherwise re-runs the whole
    narrow tail of the query - broadcast-join verifies, pandas stages,
    decode pipelines - a second time (measured 2x on p134/p128 before
    the fix).  Catalog outputs are small report/pair tables, so the
    checkpoint is a few KB-MB of executor memory."""
    return stage(df).orderBy(*cols)


from spear_spark.config import stage
from spear_spark.operators import dedup, multimodal, similarity, text
from spear_spark.sources import load_table

QUERIES: dict[str, tuple[Callable[[SparkSession, str], SDF], str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn

    return deco


# shared SQL fragments ------------------------------------------------------

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
# distinct 3-word shingles via list comprehension (mirrors dedup.shingles)
_SHINGLES_CTE = rf"""
  toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
  sh AS (SELECT DISTINCT doc_id,
                unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)]) AS s
         FROM toks)
"""
_P = dedup.MERSENNE31
_PERMS = dedup.minhash_perms(12)

_SIG_CTE = (
    f"WITH {_SHINGLES_CTE}, "
    f"h AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % {_P} AS hv FROM sh), "
    "sig AS (SELECT doc_id, "
    + ", ".join(f"MIN(({a}*hv+{b}) % {_P}) AS mh{i}" for i, (a, b) in enumerate(_PERMS))
    + " FROM h GROUP BY doc_id)"
)


# ---------------------------------------------------------------------------
# p01 — exact dedup: one shuffle on the 128-bit content hash; map-side
# partial agg collapses duplicates before the exchange.
# ---------------------------------------------------------------------------
@q(
    "p01_dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS content_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(lower(trim(text))) ORDER BY keep_id
    """,
)
def p01_dedup_exact(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id").orderBy("keep_id")


# ---------------------------------------------------------------------------
# p02 — MinHash signatures: narrow projection, no shuffle; the signature
# is the doc's reusable sketch for any downstream LSH pass.
# ---------------------------------------------------------------------------
@q(
    "p02_minhash_signatures",
    _SIG_CTE + " SELECT * FROM sig ORDER BY doc_id",
)
def p02_minhash_signatures(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "text", "doc_id", k=12).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p03 — LSH banding: candidate pairs share ≥1 of 4 bands (3 rows each).
# The O(n²) pair space shrinks to same-bucket pairs.
# ---------------------------------------------------------------------------
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, "
    f"md5(concat_ws('_', {', '.join(f'CAST(mh{bi*3+j} AS VARCHAR)' for j in range(3))})) AS bh "
    "FROM sig"
    for bi in range(4)
)


@q(
    "p03_minhash_lsh_pairs",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id ORDER BY doc_a, doc_b
    """,
)
def p03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "text", "doc_id", k=12, bands=4).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# p04 — SimHash fingerprints: explode + one groupBy; the 32-bit
# fingerprint doubles as a clustering key for near-dup blocking.
# ---------------------------------------------------------------------------
_SIMHASH_SIG_CTE = (
    f"toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents), "
    "tok AS (SELECT doc_id, unnest(t) AS w FROM toks), "
    "h AS (SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS th FROM tok), "
    "v AS (SELECT doc_id, "
    + ", ".join(f"SUM(((th >> {b}) & 1)*2 - 1) AS v{b}" for b in range(32))
    + " FROM h GROUP BY doc_id), "
    "sig AS (SELECT doc_id, "
    + " + ".join(f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(32))
    + " AS simhash FROM v)"
)

_SIMHASH_SQL = (
    f"WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents), "
    "tok AS (SELECT doc_id, unnest(t) AS w FROM toks), "
    "h AS (SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS th FROM tok), "
    "v AS (SELECT doc_id, "
    + ", ".join(f"SUM(((th >> {b}) & 1)*2 - 1) AS v{b}" for b in range(32))
    + " FROM h GROUP BY doc_id) "
    "SELECT doc_id, "
    + " + ".join(f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)" for b in range(32))
    + " AS simhash FROM v ORDER BY doc_id"
)


@q("p04_simhash", _SIMHASH_SQL)
def p04_simhash(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "text", "doc_id", bits=32).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p19 — SimHash near-pairs via pigeonhole banding (lossless for
# Hamming ≤ 3 over 4 disjoint byte-bands); oracle is the brute-force
# all-pairs join, which the banded join must equal exactly.
# ---------------------------------------------------------------------------
@q(
    "p19_simhash_near_pairs",
    f"""
    WITH {_SIMHASH_SIG_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def p19_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# p05 — n-gram Jaccard: inverted-index pair join with the df-cap knob
# active (shingles in > _MAX_DF docs are pruned before pair generation —
# the quadratic stop-shingle guard).  The cap is far above this corpus's
# max df (25 at sf0.1), so results equal the uncapped run here, while the
# oracle mirrors the capped semantics exactly for when it binds.
# ---------------------------------------------------------------------------
_MAX_DF = 64
# shingles surviving the df-cap (df=1 shingles produce no pairs anyway)
_KEPT_SH_CTE = f"""
    kept AS (SELECT * FROM sh
             WHERE s IN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_MAX_DF}))
"""


@q(
    "p05_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    {_KEPT_SH_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
    FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 100
    """,
)
def p05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", top=100, max_df=_MAX_DF)


# ---------------------------------------------------------------------------
# p06 — embedding near-dup: top-1 cosine neighbor per vector within its
# label block (blocked kNN join — O(Σ block²) instead of O(n²)).
# ---------------------------------------------------------------------------
_COS = (
    "ROUND(SUM(CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)) / "
    "(SQRT(SUM(CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))) * "
    "SQRT(SUM(CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))), 6)"
)


@q(
    "p06_embedding_nn",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id)
    SELECT va AS vec_id, vb AS nn_id, cos AS cos_sim FROM (
      SELECT va, vb, cos,
             ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rn
      FROM pairs) t
    WHERE rn = 1 ORDER BY vec_id
    """,
)
def p06_embedding_nn(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    # vectorized variant: one BLAS matmul per label block via
    # applyInPandas (same results as similarity.knn_join_blocked,
    # which stays as the pure-Column reference implementation)
    return similarity.knn_join_blocked_vectorized(
        emb, "embedding", "vec_id", "label", k=1
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# p07 — brute-force cosine top-k for a fixed query vector (the exact ANN
# baseline): one projection over the scan + TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@q(
    "p07_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT vec_id, cos_sim FROM (
      SELECT e.vec_id,
        ROUND(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)) /
          (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) *
           SQRT(SUM(CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)))), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) r(i)
      WHERE e.vec_id <> q.qid
      GROUP BY e.vec_id) t
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def p07_cosine_topk(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    return similarity.cosine_topk(
        emb, "embedding", "vec_id", list(qrow.embedding), k=10, exclude_id=qrow.vec_id
    )


# ---------------------------------------------------------------------------
# p08 — language ID (stopword-ratio heuristic, text.lang_id).
# ---------------------------------------------------------------------------
def _lang_sql() -> str:
    hits = {
        lang: (
            f"CAST(len(list_filter(t, x -> x IN "
            f"({', '.join(repr(w) for w in text.STOPWORDS[lang])}))) AS DOUBLE) / greatest(len(t), 1)"
        )
        for lang in text.LANG_ORDER
    }
    scores = ", ".join(f"{expr} AS s_{lang}" for lang, expr in hits.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in text.LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in text.LANG_ORDER
    ) + " ELSE 'und' END"
    return f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    scored AS (SELECT doc_id, lang, {scores} FROM toks)
    SELECT doc_id, lang AS labeled_lang, {case} AS detected_lang FROM scored ORDER BY doc_id
    """


@q("p08_lang_id", _lang_sql())
def p08_lang_id(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.lang_id("text").alias("detected_lang"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p09 — quality scoring (text.quality_score).
# ---------------------------------------------------------------------------
_EN = ", ".join(repr(w) for w in text.STOPWORDS["en"])


@q(
    "p09_quality_score",
    rf"""
    WITH s AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    m AS (SELECT doc_id,
                 CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                 CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                 nc
          FROM s)
    SELECT doc_id,
           ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
               + 0.4 * (hits / n_tok)
               + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS quality
    FROM m ORDER BY doc_id
    """,
)
def p09_quality_score(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p10 — token counting: whitespace tokens, distinct tokens, chars, and
# BPE-ish pre-tokens (letter/digit runs + punctuation).
# ---------------------------------------------------------------------------
@q(
    "p10_token_stats",
    rf"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct,
           length(text) AS n_chars,
           CAST(len(regexp_extract_all(lower(text), '{text.BPE_PATTERN}')) AS INTEGER) AS n_bpe
    FROM documents ORDER BY doc_id
    """,
)
def p10_token_stats(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.distinct_token_count("text").alias("n_distinct"),
        F.length("text").cast("bigint").alias("n_chars"),
        text.bpe_token_count("text").alias("n_bpe"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p11 — document fingerprint (md5 of sorted distinct token set) + group
# sizes: the canonical fuzzy-dedup key.
# ---------------------------------------------------------------------------
@q(
    "p11_fingerprint",
    rf"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
      FROM documents)
    SELECT fp AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
    FROM fp GROUP BY fp ORDER BY keep_id
    """,
)
def p11_fingerprint(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# p13 — end-to-end fuzzy dedup decision: pairs ≥ 0.5 Jaccard → drop the
# larger id, keep the smallest partner (the testdata plants near-dups at
# jaccard ≈ 0.97 over a ≈ 0.02 background, so 0.5 separates cleanly).
# ---------------------------------------------------------------------------
@q(
    "p13_near_dedup",
    f"""
    WITH {_SHINGLES_CTE},
    {_KEPT_SH_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id)
    SELECT doc_b AS drop_id, MIN(doc_a) AS keep_id
    FROM pairs WHERE jaccard >= 0.5
    GROUP BY doc_b ORDER BY drop_id
    """,
)
def p13_near_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dedup_jaccard(
        docs, "text", "doc_id", threshold=0.5, max_df=_MAX_DF
    ).orderBy("drop_id")


# ---------------------------------------------------------------------------
# p14 — embedding-cosine near-dedup (label-blocked).  The synthetic
# embeddings have no true dups (max within-label cosine ≈ 0.47), so the
# 0.35 threshold exercises the pipeline on the distribution's tail.
# ---------------------------------------------------------------------------
@q(
    "p14_embedding_dedup",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id)
    SELECT vb AS drop_id, MIN(va) AS keep_id
    FROM pairs WHERE cos >= 0.35
    GROUP BY vb ORDER BY drop_id
    """,
)
def p14_embedding_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return _sorted(
        dedup.near_dedup_embedding(emb, "embedding", "vec_id", "label", threshold=0.35),
        "drop_id",
    )


# ---------------------------------------------------------------------------
# p15 — order-sensitive rolling (Karp-Rabin) document hash: left fold
# h = (h*257 + h32(tok) mod p) mod p over the token sequence.
# ---------------------------------------------------------------------------
_P31 = (1 << 31) - 1


@q(
    "p15_rolling_hash",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    h AS (SELECT doc_id,
                 [('0x'||substr(md5(w),1,8))::BIGINT for w in t] AS hs
          FROM toks)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (a, b) -> (a * 257 + b % {_P31}) % {_P31}) AS rhash
    FROM h ORDER BY doc_id
    """,
)
def p15_rolling_hash(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_hash("text").alias("rhash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p16 — winnowing fingerprints (sliding-window local minima, the
# substring-robust near-dup sketch); surfaced as a joined string so the
# value compare is array-representation-agnostic.
# ---------------------------------------------------------------------------
@q(
    "p16_winnowing",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    h AS (SELECT doc_id,
                 [('0x'||substr(md5(w),1,8))::BIGINT for w in t] AS hs
          FROM toks),
    sel AS (SELECT doc_id,
                   CASE WHEN len(hs) >= 4
                        THEN [list_min(hs[i:i+3]) for i in generate_series(1, len(hs)-3)]
                        ELSE [list_min(hs)] END AS mins
            FROM h)
    SELECT doc_id,
           CAST(len(list_distinct(mins)) AS INTEGER) AS n_fp,
           array_to_string(list_sort(list_distinct(mins)), ',') AS fp
    FROM sel ORDER BY doc_id
    """,
)
def p16_winnowing(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    w = text.winnow_fingerprints("text", window=4)
    return docs.select(
        "doc_id",
        F.size(w).alias("n_fp"),
        F.array_join(w, ",").alias("fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p17 — band/range join: event pairs by the same user within 10 minutes,
# via bucket replication (operators.rangejoin) instead of a quadratic
# residual-filter join.
# ---------------------------------------------------------------------------
@q(
    "p17_range_join",
    """
    SELECT a.user_id AS user_id, COUNT(*) AS n_close_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch_us(CAST(a.ts AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP))) <= 600000000
    GROUP BY a.user_id ORDER BY user_id
    """,
)
def p17_range_join(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.rangejoin import range_join_pairs

    ev = load_table(spark, sf_dir, "events")
    pairs = range_join_pairs(ev, key="user_id", ts="ts", id_col="event_id", delta_us=600_000_000)
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_close_pairs"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# p18 — the full training-data cleaning pipeline as one composed query:
# quality gate → exact dedup (keep min id) → LSH-verified fuzzy dedup
# (MinHash-LSH candidates, exact Jaccard ≥ 0.5 on candidates — the
# 100 TB composition, pair space bounded by band collisions) →
# canonical fingerprint.  The flagship composition — every stage is one
# of the catalog's verified operators; at 100 TB the chain is: narrow
# projection gate, one content-hash shuffle, the banded candidate join,
# all orchestrated by Catalyst as a single DAG.
# ---------------------------------------------------------------------------


def _lsh_drop_ctes(sh: str) -> str:
    """DuckDB CTE block: MinHash signatures -> LSH bands -> candidate
    pairs -> verified intersections over shingle CTE ``sh`` (generated
    from the same permutation constants as the Spark side)."""
    mins = ", ".join(
        f"MIN(({a}*hv+{b}) % {_P}) AS mh{i}" for i, (a, b) in enumerate(_PERMS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(concat_ws('_', "
        + ", ".join(f"CAST(mh{bi*3+j} AS VARCHAR)" for j in range(3))
        + f")) AS bh FROM sig_{sh}"
        for bi in range(4)
    )
    return f"""
    h_{sh} AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % {_P} AS hv FROM {sh}),
    sig_{sh} AS (SELECT doc_id, {mins} FROM h_{sh} GROUP BY doc_id),
    bands_{sh} AS ({bands}),
    cand_{sh} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands_{sh} a JOIN bands_{sh} b
                    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    cnt_{sh} AS (SELECT doc_id, COUNT(*) AS n FROM {sh} GROUP BY doc_id),
    inter_{sh} AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                   FROM cand_{sh} c JOIN {sh} x ON x.doc_id = c.doc_a
                                    JOIN {sh} y ON y.doc_id = c.doc_b AND y.s = x.s
                   GROUP BY c.doc_a, c.doc_b)
"""


_P18_SHINGLES = r"""
  toks2 AS (SELECT s2.doc_id, regexp_split_to_array(trim(lower(s2.text)), '\s+') AS t
            FROM survivors s2),
  sh2 AS (SELECT DISTINCT doc_id,
                 unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                         for i in generate_series(1, len(t)-2)]) AS s
          FROM toks2)
"""


@q(
    "p18_clean_corpus",
    rf"""
    WITH s AS (SELECT doc_id, text, {_TOKS} AS t,
                      CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
               FROM documents),
    m AS (SELECT doc_id, text,
                 CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                 CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits, nc
          FROM s),
    graded AS (SELECT doc_id, text,
                      ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                          + 0.4 * (hits / n_tok)
                          + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS quality
               FROM m),
    passed AS (SELECT * FROM graded WHERE quality >= 0.3),
    exact AS (SELECT MIN(doc_id) AS keep_id FROM passed GROUP BY md5(lower(trim(text)))),
    survivors AS (SELECT p.doc_id, p.text, p.quality FROM passed p
                  JOIN exact e ON p.doc_id = e.keep_id),
    {_P18_SHINGLES},
    {_lsh_drop_ctes('sh2')},
    drops AS (SELECT DISTINCT doc_b AS drop_id
              FROM inter_sh2 JOIN cnt_sh2 ca ON doc_a = ca.doc_id
                             JOIN cnt_sh2 cb ON doc_b = cb.doc_id
              WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5)
    SELECT v.doc_id, v.quality,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(lower(v.text)), '\s+'))), ' ')) AS fingerprint
    FROM survivors v WHERE v.doc_id NOT IN (SELECT drop_id FROM drops)
    ORDER BY v.doc_id
    """,
)
def p18_clean_corpus(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    graded = docs.select(
        "doc_id", "text", text.quality_score("text").alias("quality")
    ).filter(F.col("quality") >= 0.3)
    keepers = dedup.exact_dedup(graded, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    # Materialize the filtered corpus ONCE before the fuzzy stage: the
    # composition references `survivors` five times (minhash path, two
    # shingle-verify sides, final anti-join probe+build) and pruning
    # specializes each copy past ReuseExchange — without this the
    # quality regexes re-run per reference.  On a real cluster this is
    # the stage-out write between pipeline stages.
    survivors = stage(graded.join(keepers, "doc_id"))
    drops = dedup.near_dedup_lsh(survivors, "text", "doc_id", threshold=0.5).select(
        F.col("drop_id").alias("doc_id")
    )
    return (
        survivors.join(drops, "doc_id", "left_anti")
        .select("doc_id", "quality", text.fingerprint("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p20 — batched multi-query top-k: 5 query vectors scored against the
# corpus in ONE pass (broadcast query set; corpus norms computed once
# per row).  The production shape for embedding retrieval at 100 TB.
# ---------------------------------------------------------------------------
@q(
    "p20_batch_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 5),
    scored AS (
      SELECT q.qid, e.vec_id,
        ROUND(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)) /
          (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) *
           SQRT(SUM(CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)))), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) r(i)
      WHERE e.vec_id <> q.qid
      GROUP BY q.qid, e.vec_id)
    SELECT qid, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored) t
    WHERE rnk <= 5 ORDER BY qid, rnk
    """,
)
def p20_batch_topk(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return similarity.cosine_topk_batch(
        emb, "embedding", "vec_id", queries_df, "qid", "qe", k=5
    ).orderBy("qid", "rnk")


# ---------------------------------------------------------------------------
# p21 — duplicate clusters: connected components over the jaccard ≥ 0.5
# pair graph (correct representative for chains, vs p13's greedy pair
# policy).  Oracle: recursive-CTE transitive closure + min-reachable.
# ---------------------------------------------------------------------------
@q(
    "p21_dup_clusters",
    f"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a ORDER BY doc_id
    """,
)
def p21_dup_clusters(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id").filter(
        F.col("jaccard") >= 0.5
    )
    return dedup.connected_components(pairs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p12 — multimodal decode plumbing: binary payload through Arrow-batched
# mapInPandas (real schema/batch machinery; decode backend stubbed with
# deterministic md5-derived dimensions — see operators.multimodal).
# ---------------------------------------------------------------------------
@q(
    "p12_multimodal_decode",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ('0x'||substr(md5(text),1,4))::BIGINT % 1920 + 1 AS width,
           ('0x'||substr(md5(text),5,4))::BIGINT % 1080 + 1 AS height,
           'fake' AS format
    FROM documents ORDER BY doc_id
    """,
)
def p12_multimodal_decode(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_binary(docs, "text")
    return multimodal.decode_images(with_payload, "doc_id", "payload").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p22 — salted join (operators.skew): the explicit hot-key fallback
# beyond AQE's runtime skew splitting.  Salting is semantically
# invisible for inner joins, so the oracle is the PLAIN join+aggregate —
# this driver row certifies that invisibility, which is the operator's
# whole contract.
# ---------------------------------------------------------------------------
@q(
    "p22_salted_join",
    """
    SELECT s.s_nationkey AS nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY nationkey
    """,
)
def p22_salted_join(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
    supp = load_table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "suppkey")
    joined = salted_join(li, supp.select("suppkey", "s_nationkey"), on="suppkey", salt=8)
    return (
        joined.groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("revenue"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# p23 — sequence packing (operators.packing): documents → fixed-token-
# budget packs by offset chunking.  One window cumulative sum per shard;
# the shard key bounds the window partition so packing parallelizes.
# ---------------------------------------------------------------------------
@q(
    "p23_sequence_packing",
    rf"""
    WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                      len({_TOKS}) AS n_tokens
               FROM documents),
    o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER
            (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
          FROM t)
    SELECT doc_id, shard, n_tokens, s // 1024 AS pack_no, s % 1024 AS pack_offset
    FROM o ORDER BY doc_id
    """,
)
def p23_sequence_packing(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, text.token_count("text"), "doc_id", capacity=1024, n_shards=8
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p24 — deterministic stratified sampling (operators.sampling): rebalance
# the training mix (downsample dominant 'en' to 10%, keep the rest at
# 50%) reproducibly — the keep decision is a pure function of
# (doc_id, seed, lang), independent of partitioning.
# ---------------------------------------------------------------------------
@q(
    "p24_stratified_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ('0x'||substr(md5('7_'||CAST(doc_id AS VARCHAR)),1,13))::BIGINT
               / 4503599627370496.0 AS u
      FROM documents) t
    WHERE u < (CASE WHEN lang = 'en' THEN 0.1 ELSE 0.5 END)
    ORDER BY doc_id
    """,
)
def p24_stratified_sample(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "doc_id", "lang", {"en": 0.1}, default_rate=0.5, seed=7)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p25 — exact per-group quantiles (operators.stats): char-length
# distribution per language.  Exact percentile is per-group-single-task
# (fine: groups are bounded and parallelize); the approx sketch variant
# is the documented global-scale path.
# ---------------------------------------------------------------------------
@q(
    "p25_group_quantiles",
    """
    SELECT lang,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS q25,
           ROUND(quantile_cont(n_chars, 0.50), 6) AS q50,
           ROUND(quantile_cont(n_chars, 0.90), 6) AS q90,
           COUNT(*) AS n_rows
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def p25_group_quantiles(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return group_quantiles(docs, "n_chars", ["lang"], [0.25, 0.5, 0.9]).orderBy("lang")


# ---------------------------------------------------------------------------
# p26 — deterministic IVF ANN (operators.similarity.ann_topk_ivf_fixed):
# top-5 cosine neighbors of the max-vec_id query, scanning only the 2
# of 8 cells nearest the query.  Centroids here are the 8 lowest-id
# vectors (deterministic, so the whole index is oracle-checkable);
# at scale _cell is the write-partition key and non-probed cells are
# never read.
# ---------------------------------------------------------------------------
_D2 = (
    "ROUND(SUM((CAST({a}[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) * "
    "(CAST({a}[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), 6)"
)


@q(
    "p26_ann_ivf",
    f"""
    WITH cents AS (
      SELECT ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0),
    qv AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id DESC LIMIT 1),
    dist AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    assigned AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist) t WHERE rn = 1),
    qdist AS (
      SELECT c.ci, {_D2.format(a='q.qe')} AS d2
      FROM qv q CROSS JOIN cents c CROSS JOIN range(1, 65) r(i) GROUP BY c.ci),
    probe AS (SELECT ci FROM
      (SELECT ci, ROW_NUMBER() OVER (ORDER BY d2, ci) AS rn FROM qdist) t WHERE rn <= 2)
    SELECT vec_id, cos_sim FROM (
      SELECT e.vec_id,
        ROUND(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)) /
          (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) *
           SQRT(SUM(CAST(q.qe[i] AS DOUBLE)*CAST(q.qe[i] AS DOUBLE)))), 6) AS cos_sim
      FROM embeddings e
      JOIN assigned a ON a.vec_id = e.vec_id
      JOIN probe p ON a.cell = p.ci
      CROSS JOIN qv q CROSS JOIN range(1, 65) r(i)
      WHERE e.vec_id <> q.qid
      GROUP BY e.vec_id) s
    ORDER BY cos_sim DESC, vec_id LIMIT 5
    """,
)
def p26_ann_ivf(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    # one driver job fetches centroids (8 lowest ids) + query (max id)
    ends = sorted(
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).unionAll(
            emb.select("vec_id", "embedding").orderBy(F.col("vec_id").desc()).limit(1)
        ).collect(),
        key=lambda r: r["vec_id"],
    )  # row order across union branches is not contractual — sort by id
    centroids = [list(map(float, r["embedding"])) for r in ends[:8]]
    qrow = ends[8]
    query = list(map(float, qrow["embedding"]))
    return similarity.ann_topk_ivf_fixed(
        emb, "embedding", "vec_id", query, centroids,
        k=5, n_probe=2, exclude_id=int(qrow["vec_id"]),
    )


# ---------------------------------------------------------------------------
# p27 — TF-IDF keyword signatures (operators.relevance): top-3 terms per
# document by smoothed tf-idf.  One token explode collapsed by partial
# counts; document frequencies and N broadcast back.
# ---------------------------------------------------------------------------
@q(
    "p27_tfidf_topterms",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (SELECT doc_id, term, tf,
                 ROUND(tf * (ln((n.n + 1.0) / (dft.dft + 1.0)) + 1.0), 6) AS tfidf
          FROM tf JOIN dft USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM w) t
    WHERE rn <= 3 ORDER BY doc_id, term
    """,
)
def p27_tfidf_topterms(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import tf_idf

    docs = load_table(spark, sf_dir, "documents")
    return tf_idf(docs, "text", "doc_id", top_terms=3).orderBy("doc_id", "term")


# ---------------------------------------------------------------------------
# p28 — BM25 ranking (operators.relevance): top-10 documents for a
# 3-term query.  The scoring table is the query-term slice of the
# (doc, term) aggregate; N/avgdl are 1-row broadcasts — a single
# filtered aggregate over the corpus scan, no all-pairs stage.
# ---------------------------------------------------------------------------
@q(
    "p28_bm25",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    dl AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
    n AS (SELECT COUNT(*) AS n FROM documents),
    ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl)
    SELECT doc_id,
      ROUND(SUM(ln(1.0 + (n.n - dft.dft + 0.5) / (dft.dft + 0.5)) *
                (tf.tf * (1.2 + 1.0)) /
                (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / ad.avgdl))), 6) AS bm25
    FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def p28_bm25(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import bm25

    docs = load_table(spark, sf_dir, "documents")
    return bm25(docs, "text", "doc_id", ["hash", "join", "scan"], top=10)


# ---------------------------------------------------------------------------
# p29 — LSH-verified near-dedup (dedup.lsh_verified_pairs): the 100 TB
# composition — MinHash-LSH candidates, exact Jaccard verification on
# candidates only (array_intersect per pair, no posting-list pair
# explosion).  Deterministic permutations make the LSH recall trade
# reproducible, so the oracle computes the identical candidate set.
# ---------------------------------------------------------------------------
@q(
    "p29_lsh_verified_dedup",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
              FROM cand c JOIN sh x ON x.doc_id = c.doc_a
                          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
              GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
    FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
    WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def p29_lsh_verified_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_verified_pairs(docs, "text", "doc_id", threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# p30 — per-group bottom-k sampling (operators.sampling.bottom_k_sample):
# exactly k uniform docs per language, deterministically (k smallest
# key-hash uniforms — order-independent reservoir equivalent).
# ---------------------------------------------------------------------------
@q(
    "p30_bottom_k_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
      FROM (SELECT doc_id, lang,
                   ('0x'||substr(md5('11_'||CAST(doc_id AS VARCHAR)),1,13))::BIGINT
                     / 4503599627370496.0 AS u
            FROM documents) t) s
    WHERE rn <= 3 ORDER BY doc_id
    """,
)
def p30_bottom_k_sample(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import bottom_k_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        bottom_k_sample(docs, "doc_id", "lang", k=3, seed=11)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p31 — repetition quality metrics (operators.text.repetition_stats):
# Gopher-style top-token / duplicate-token / top-bigram fractions, all
# exact rationals rounded once.  Two explode->two-phase-agg pipelines
# joined on doc_id — the exchange carries (doc, term, cnt) partials.
# ---------------------------------------------------------------------------
@q(
    "p31_repetition_stats",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
    tc AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk),
    ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
                  CAST(MAX(c) AS BIGINT) AS top_c,
                  COUNT(*) AS n_distinct
           FROM tc GROUP BY doc_id),
    bi AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                  for i in generate_series(1, len(t)-1)]) AS b
           FROM toks),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY doc_id, b),
    bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi,
                  CAST(MAX(c) AS BIGINT) AS top_bi
           FROM bc GROUP BY doc_id)
    SELECT ts.doc_id, ts.n_tok,
           ROUND(CAST(top_c AS DOUBLE) / n_tok, 6) AS top_tok_frac,
           ROUND(CAST(n_tok - n_distinct AS DOUBLE) / n_tok, 6) AS dup_tok_frac,
           COALESCE(ROUND(CAST(top_bi AS DOUBLE) / n_bi, 6), 0.0) AS top_bigram_frac
    FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
    ORDER BY ts.doc_id
    """,
)
def p31_repetition_stats(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p32 — Count-Min heavy hitters (operators.sketch): tokens whose sketch
# estimate reaches 1% of all occurrences (integer comparison est*100 >=
# N — no FP threshold), with the exact count alongside.  The sketch is
# a bounded d*w-cell aggregate; the oracle rebuilds the identical
# md5-hashed sketch in SQL.
# ---------------------------------------------------------------------------
@q(
    "p32_heavy_hitters",
    rf"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tk FROM documents),
    cells AS (SELECT g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                       % 1024 AS bucket
              FROM tok, generate_series(0, 3) g(r)),
    sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM cells GROUP BY r, bucket),
    exact AS (SELECT tk, COUNT(*) AS exact FROM tok GROUP BY tk),
    tot AS (SELECT COUNT(*) AS n_total FROM tok),
    probes AS (SELECT tk, exact, g.r,
                      ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                        % 1024 AS bucket
               FROM exact, generate_series(0, 3) g(r)),
    est AS (SELECT tk, exact, CAST(MIN(cnt) AS BIGINT) AS est
            FROM probes JOIN sketch USING (r, bucket) GROUP BY tk, exact)
    SELECT tk AS tok, est, CAST(exact AS BIGINT) AS exact
    FROM est, tot WHERE est * 100 >= n_total
    ORDER BY est DESC, tok
    """,
)
def p32_heavy_hitters(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    hh = sketch.cm_heavy_hitters(docs, "text", min_count=1)
    return (
        hh.crossJoin(F.broadcast(total))
        .filter(F.col("est") * 100 >= F.col("n_total"))
        .select("tok", "est", "exact")
        .orderBy(F.desc("est"), "tok")
    )


# ---------------------------------------------------------------------------
# p33 — HLL-style distinct-user estimate over events (operators.sketch):
# 64 integer-exact registers, merge-by-MAX, one final IEEE division —
# the oracle computes the identical bit math, so an approximate sketch
# still gets an EXACT cross-engine check.  alpha*m^2 is interpolated
# from the same Python float both sides.
# ---------------------------------------------------------------------------
from spear_spark.operators.sketch import (  # noqa: E402
    HLL_ALPHA as _HLL_A,
    HLL_M as _HLL_M,
    linear_counting_table as _lc_table,
)

_HLL_NUM = repr(_HLL_A * _HLL_M * _HLL_M)  # e.g. 2904.064 — same literal both engines
_POW40 = 1 << 40
# linear-counting lookup: the SAME Python float literals as the Spark
# plan, so neither engine evaluates ln()
_LC_LIST = "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in _lc_table(_HLL_M)) + "]"


@q(
    "p33_distinct_sketch",
    f"""
    WITH h AS (SELECT ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
               FROM events),
    r AS (SELECT hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM h),
    regs AS (SELECT reg, MAX(rho) AS max_rho FROM r GROUP BY reg),
    s AS (SELECT CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                   AS s_present,
                 COUNT(*) AS n_present
          FROM regs),
    est AS (SELECT CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                   / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                   {_HLL_M} - n_present AS v
            FROM s)
    SELECT ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                      THEN ({_LC_LIST})[v + 1] ELSE raw END, 3) AS est_distinct
    FROM est
    """,
)
def p33_distinct_sketch(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    return sketch.hll_distinct(ev, F.col("user_id").cast("string"))


# ---------------------------------------------------------------------------
# p34 — Z-order clustering key (operators.layout.zvalue): Morton
# interleave of (custkey mod 2^16, order date day-number mod 2^16); the
# 100 lowest keys with a deterministic tiebreak.  The same magic-number
# bit spread runs in both engines; write_zordered uses this key for a
# data-skipping parquet layout (file-level min/max pruning on BOTH
# dimensions).
# ---------------------------------------------------------------------------
def _spread_sql(e: str) -> str:
    x = f"({e} & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = f"((({x}) | (({x}) << {shift})) & {mask})"
    return x


@q(
    "p34_zorder_key",
    f"""
    WITH base AS (SELECT o_orderkey,
                         CAST(o_custkey % 65536 AS BIGINT) AS x,
                         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) % 65536 AS BIGINT) AS y
                  FROM orders),
    z AS (SELECT o_orderkey, x, y,
                 CAST({_spread_sql('x')} | ({_spread_sql('y')} << 1) AS BIGINT) AS zval
          FROM base)
    SELECT o_orderkey, x, y, zval FROM z
    ORDER BY zval, o_orderkey LIMIT 100
    """,
)
def p34_zorder_key(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.layout import zvalue

    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 65536).cast("bigint")
    y = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 65536).cast("bigint")
    return (
        orders.select(
            "o_orderkey",
            x.alias("x"),
            y.alias("y"),
            zvalue(x, y).alias("zval"),
        )
        .orderBy("zval", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# p35 — weighted priority sample (operators.sampling.priority_sample):
# top-100 orders by priority w/u (Duffield-Lund-Thorup) — division-only
# scoring, so selection is bit-identical cross-engine with NO rounding
# in the selection path.
# ---------------------------------------------------------------------------
@q(
    "p35_priority_sample",
    """
    WITH pri AS (
      SELECT o_orderkey, o_totalprice,
             CAST(o_totalprice AS DOUBLE)
               / ((('0x'||substr(md5('42_'||CAST(o_orderkey AS VARCHAR)),1,13))::BIGINT
                   + 1) / 4503599627370496.0) AS p
      FROM orders)
    SELECT o_orderkey, o_totalprice, ROUND(p, 6) AS priority
    FROM pri ORDER BY p DESC, o_orderkey LIMIT 100
    """,
)
def p35_priority_sample(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import priority_sample

    orders = load_table(spark, sf_dir, "orders")
    return priority_sample(orders, "o_orderkey", "o_totalprice", k=100).select(
        "o_orderkey", "o_totalprice", "priority"
    )


# ---------------------------------------------------------------------------
# p36 — token typicality (operators.text.token_typicality): per-doc dot
# product with the corpus unigram distribution, integer numerator +
# one division (the ln-free, cross-engine-exact outlier score).
# ---------------------------------------------------------------------------
@q(
    "p36_token_typicality",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    dc AS (SELECT doc_id, t, COUNT(*) AS dc FROM toks GROUP BY doc_id, t),
    cc AS (SELECT t, COUNT(*) AS cc FROM toks GROUP BY t),
    tot AS (SELECT COUNT(*) AS n_total FROM toks),
    agg AS (SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_doc,
                   CAST(SUM(dc * cc) AS BIGINT) AS num
            FROM dc JOIN cc USING (t) GROUP BY doc_id)
    SELECT doc_id, n_doc,
           ROUND(CAST(num AS DOUBLE) / CAST(n_doc * n_total AS DOUBLE), 9) AS typicality
    FROM agg, tot ORDER BY doc_id
    """,
)
def p36_token_typicality(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_typicality(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p37 — incremental dedup (operators.dedup.incremental_dedup): a new
# shard (doc_id >= 250, simulating today's ingest) deduped within
# itself then anti-joined against the existing corpus's content
# hashes.  The daily-ingest shape: corpus touched only as a narrow
# hash projection.
# ---------------------------------------------------------------------------
@q(
    "p37_incremental_dedup",
    """
    WITH batch AS (SELECT md5(lower(trim(text))) AS content_hash,
                          MIN(doc_id) AS keep_id
                   FROM documents WHERE doc_id >= 250
                   GROUP BY md5(lower(trim(text)))),
    existing AS (SELECT DISTINCT md5(lower(trim(text))) AS content_hash
                 FROM documents WHERE doc_id < 250)
    SELECT keep_id, content_hash FROM batch
    WHERE content_hash NOT IN (SELECT content_hash FROM existing)
    ORDER BY keep_id
    """,
)
def p37_incremental_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") >= 250)
    existing = docs.filter(F.col("doc_id") < 250)
    return dedup.incremental_dedup(new_batch, existing, "text", "doc_id").orderBy(
        "keep_id"
    )


# ---------------------------------------------------------------------------
# p38 — test-set decontamination (operators.dedup.ngram_contamination):
# corpus docs sharing >= 8 distinct 3-gram shingles with any of the
# first 10 docs (standing in for an eval benchmark).  Benchmark
# shingles broadcast; corpus side is one explode + map-side join.
# ---------------------------------------------------------------------------
@q(
    "p38_decontaminate",
    rf"""
    WITH {_SHINGLES_CTE},
    bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 10),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10)
    SELECT c.doc_id, b.bench_id, COUNT(*) AS overlap
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id, b.bench_id
    HAVING COUNT(*) >= 8
    ORDER BY c.doc_id, b.bench_id
    """,
)
def p38_decontaminate(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return dedup.ngram_contamination(
        corpus, bench, "text", "doc_id", min_overlap=8
    ).orderBy("doc_id", "bench_id")


# ---------------------------------------------------------------------------
# p39 — embedding outliers (operators.similarity.embedding_outliers):
# top-3 per label by squared L2 to the label centroid.  Centroid sums
# are floor-quantized int64 (order-independent, engine-exact); the
# distance folds sequentially in index order in BOTH engines
# (zip_with+aggregate / list comprehension+list_reduce), pinning FP
# association.
# ---------------------------------------------------------------------------
_QS = float(1 << 20)


@q(
    "p39_embedding_outliers",
    f"""
    WITH per_dim AS (
      SELECT label, r.i,
             CAST(SUM(CAST(FLOOR(CAST(embedding[r.i] AS DOUBLE) * {_QS!r}) AS BIGINT))
                  AS BIGINT) AS s,
             COUNT(*) AS n
      FROM embeddings CROSS JOIN range(1, 65) r(i)
      GROUP BY label, r.i),
    cents AS (
      SELECT label,
             list(CAST(s AS DOUBLE) / {_QS!r} / CAST(n AS DOUBLE) ORDER BY i) AS c
      FROM per_dim GROUP BY label),
    dist AS (
      SELECT e.label, e.vec_id,
             ROUND(list_reduce(
               [ (CAST(e.embedding[i] AS DOUBLE) - c[i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c[i])
                 for i in generate_series(1, 64) ],
               (acc, v) -> acc + v), 6) AS d2
      FROM embeddings e JOIN cents USING (label)),
    ranked AS (
      SELECT label, vec_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id)
                  AS INTEGER) AS rnk
      FROM dist)
    SELECT label, vec_id, d2, rnk FROM ranked WHERE rnk <= 3
    ORDER BY label, rnk
    """,
)
def p39_embedding_outliers(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_outliers(
        emb, "embedding", "vec_id", "label", dim=64, k=3
    ).orderBy("label", "rnk")


# ---------------------------------------------------------------------------
# p40 — PII redaction audit (operators.text.redact_pii): scrub emails
# then digit runs from the events props payload, with the match-count
# audit column.  Narrow projection — the at-scale shape of a corpus
# scrub pass.  Oracle counts via regexp_extract_all on the same
# sequential intermediates.
# ---------------------------------------------------------------------------
@q(
    "p40_redact_pii",
    r"""
    SELECT event_id,
           regexp_replace(
             regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '[0-9]+', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(props,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                + len(regexp_extract_all(
                    regexp_replace(props,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                      '<EMAIL>', 'g'),
                    '[0-9]+')) AS BIGINT) AS n_redactions
    FROM events ORDER BY event_id LIMIT 500
    """,
)
def p40_redact_pii(spark: SparkSession, sf_dir: str) -> SDF:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            text.redact_pii("props").alias("redacted"),
            text.pii_match_count("props").alias("n_redactions"),
        )
        .orderBy("event_id")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# p41 — join-key skew profile (operators.stats.skew_profile): the top
# heaviest o_custkey values with row share — the pre-join diagnostic
# that decides salting / AQE skew handling.  Two-phase count + top-k
# heap; the full histogram never reaches the driver.
# ---------------------------------------------------------------------------
@q(
    "p41_skew_profile",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
    t AS (SELECT COUNT(*) AS n_total FROM orders)
    SELECT o_custkey, CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
    FROM c, t ORDER BY cnt DESC, o_custkey LIMIT 20
    """,
)
def p41_skew_profile(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import skew_profile

    orders = load_table(spark, sf_dir, "orders")
    return skew_profile(orders, "o_custkey", top=20)


# ---------------------------------------------------------------------------
# p42 — sliding-window chunking (operators.text.chunk_documents):
# 16-token windows every 8 tokens.  Named-column token array before the
# explode, per-row slice of the stored array — one narrow pass.
# ---------------------------------------------------------------------------
@q(
    "p42_chunk_documents",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    st AS (SELECT doc_id, t,
                  unnest(generate_series(1, greatest(len(t), 1), 8)) AS start,
                  generate_subscripts(generate_series(1, greatest(len(t), 1), 8), 1) - 1
                    AS chunk_id
           FROM toks)
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(len(t[start : start + 15]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(t[start : start + 15], ' ') AS chunk_text
    FROM st ORDER BY doc_id, chunk_id
    """,
)
def p42_chunk_documents(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "text", "doc_id", window=16, stride=8).orderBy(
        "doc_id", "chunk_id"
    )


# ---------------------------------------------------------------------------
# p43 — scalable global row numbers (operators.ids.global_row_numbers):
# ROW_NUMBER() OVER (ORDER BY key) without the single-task global
# window — fixed-width buckets + bounded driver prefix sums + a
# bucket-PARTITIONED (parallel) window.  The documented fix for the
# q16-class bottleneck.
# ---------------------------------------------------------------------------
@q(
    "p43_global_row_numbers",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS global_id
    FROM documents ORDER BY doc_id
    """,
)
def p43_global_row_numbers(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.ids import global_row_numbers

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_row_numbers(spark, docs, "doc_id").select(
        "doc_id", F.col("global_id").cast("bigint")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p44 — temperature-based source mix (operators.sampling.temperature_mix):
# α=0.5 source rebalancing by char budget — each source kept at
# min(1, sqrt(ref/T)) so its contribution grows like sqrt(T).  The
# per-source rate uses only division + sqrt of exact operands (both
# IEEE correctly rounded → bit-identical across engines; a normalised
# Σ T^α constant would depend on float aggregation order), and the
# keep decision is the usual partition-independent md5 uniform.
# ---------------------------------------------------------------------------
@q(
    "p44_source_mix",
    """
    WITH tot AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t
      FROM documents GROUP BY source),
    r AS (
      SELECT source, LEAST(1.0, sqrt(4000.0 / CAST(t AS DOUBLE))) AS rate
      FROM tot)
    SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS mix_rate
    FROM documents d JOIN r USING (source)
    WHERE ('0x'||substr(md5('11_'||CAST(d.doc_id AS VARCHAR)),1,13))::BIGINT
            / 4503599627370496.0 < r.rate
    ORDER BY d.doc_id
    """,
)
def p44_source_mix(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_mix(docs, "doc_id", "source", "n_chars", ref_weight=4000.0, seed=11)
        .select("doc_id", "source", "mix_rate")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p45 — nearest as-of join (operators.asof.asof_join_nearest): for each
# error event, the nearest click by the same user within ±3 days —
# both directions, unlike the backward-only q29.  The oracle is the
# per-row LATERAL nearest-neighbour subquery (quadratic per key);
# the Spark side is the union + one-shuffle + two-frame window shape,
# with distance/direction/id tie-breaks pinned identically.
# ---------------------------------------------------------------------------
@q(
    "p45_asof_nearest",
    """
    WITH err AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE event_type = 'error'),
         clk AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
                 FROM events WHERE event_type = 'click')
    SELECT e.event_id AS event_id, s.nearest_id AS nearest_id,
           s.nearest_value AS nearest_value
    FROM err e LEFT JOIN LATERAL (
      SELECT c.event_id AS nearest_id, c.value AS nearest_value
      FROM clk c
      WHERE c.user_id = e.user_id
        AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 259200000000
      ORDER BY abs(epoch_us(c.ts) - epoch_us(e.ts)) ASC,
               (epoch_us(c.ts) > epoch_us(e.ts)) ASC,
               CASE WHEN epoch_us(c.ts) <= epoch_us(e.ts)
                    THEN -c.event_id ELSE c.event_id END ASC
      LIMIT 1) s ON true
    ORDER BY event_id
    """,
)
def p45_asof_nearest(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_nearest(
        errors, clicks, on="user_id", ts="ts", value="value",
        id_col="event_id", tolerance_us=259_200_000_000,
    )
    return out.select("event_id", "nearest_id", "nearest_value").orderBy("event_id")


# ---------------------------------------------------------------------------
# p46 — interval overlap join (operators.rangejoin.interval_overlap_join):
# per-user pairs of overlapping activity windows (each event opens a
# window of `value` hours).  The oracle is the residual-predicate join
# (quadratic per key); the Spark side replicates each interval across
# the buckets it spans and emits each pair exactly once via the
# overlap-start-bucket predicate — no distinct, no pair explosion.
# Interval arithmetic stays exact: 2-decimal value × 3.6e9 µs/h is an
# exact integer, so the DECIMAL product casts identically in both
# engines (a double multiply would round differently).
# ---------------------------------------------------------------------------
@q(
    "p46_interval_overlap",
    """
    WITH a AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        + CAST(CAST(value AS DECIMAL(8,2)) * 3600000000 AS BIGINT) AS e
               FROM events WHERE event_type = 'error'),
         b AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        + CAST(CAST(value AS DECIMAL(8,2)) * 3600000000 AS BIGINT) AS e
               FROM events WHERE event_type = 'purchase')
    SELECT a.user_id AS user_id, a.event_id AS error_id, b.event_id AS purchase_id
    FROM a JOIN b ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
    ORDER BY user_id, error_id, purchase_id
    """,
)
def p46_interval_overlap(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.rangejoin import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    dur_us = (F.col("value").cast("decimal(8,2)") * F.lit(3_600_000_000)).cast("bigint")
    base = ev.select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + dur_us).alias("e"),
    )
    a = base.filter(F.col("event_type") == "error")
    b = base.filter(F.col("event_type") == "purchase")
    pairs = interval_overlap_join(
        a, b, key="user_id", start="s", end="e", id_col="event_id",
        bucket_width=1_800_000_000_000,  # 500 h ≥ the max interval length
    )
    return pairs.select(
        "user_id",
        F.col("id_a").alias("error_id"),
        F.col("id_b").alias("purchase_id"),
    ).orderBy("user_id", "error_id", "purchase_id")


# ---------------------------------------------------------------------------
# p47 — one k-means Lloyd iteration (operators.similarity.
# kmeans_lloyd_step): deterministic assignment to fixed centroids (the
# p26 IVF cells) followed by per-cell mean recomputation.  Scale: the
# per-dimension means come from ONE two-phase (cell, dim) aggregate
# over a posexplode — the shuffle carries 64 partials per cell, never
# vector lists; reassembly is a k×64 micro-aggregate.
# ---------------------------------------------------------------------------
@q(
    "p47_kmeans_step",
    f"""
    WITH cents AS (
      SELECT ce, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0),
    dist AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    assigned AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist) t WHERE rn = 1),
    dimmeans AS (
      SELECT a.cell, r.i, ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS m,
             COUNT(*) AS n
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.cell, r.i)
    SELECT cell, MAX(n) AS n_assigned,
           string_agg(printf('%.6f', m + 0.0), ',' ORDER BY i) AS centroid
    FROM dimmeans GROUP BY cell ORDER BY cell
    """,
)
def p47_kmeans_step(spark: SparkSession, sf_dir: str) -> SDF:
    # The operator itself returns an array<double> centroid (tested in
    # test_operators); the catalog row serializes it ('%.6f' CSV, with
    # `+ 0.0` normalizing IEEE -0.0 on both engines) because the
    # driver's pandas canonicalizer cannot hash list cells.
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.first_k_centroids(emb, "embedding", "vec_id", 8)
    step = similarity.kmeans_lloyd_step(emb, "embedding", centroids)
    return step.select(
        "cell",
        "n_assigned",
        F.concat_ws(
            ",",
            F.transform(
                F.col("centroid"),
                lambda m: F.format_string("%.6f", m + F.lit(0.0)),
            ),
        ).alias("centroid"),
    ).orderBy("cell")


# ---------------------------------------------------------------------------
# p48 — segment-level dedup (operators.dedup.segment_dedup): remove
# every 8-token segment already seen at a lower (doc, position) and
# reassemble the surviving text.  The span-removal pass that catches
# boilerplate/license blocks surviving document-level dedup.  Scale:
# one explode + one segment-hash shuffle (whole-partition window min),
# no self-join, reassembly rides the same partitioning.
# ---------------------------------------------------------------------------
@q(
    "p48_segment_dedup",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    segs AS (SELECT doc_id,
                    unnest([{{'pos': i - 1,
                             'seg': array_to_string(t[((i-1)*8+1):((i-1)*8+8)], ' ')}}
                            for i in generate_series(1, CAST(ceil(len(t)/8.0) AS BIGINT))],
                           recursive := true)
             FROM toks),
    fs AS (SELECT doc_id, pos, seg,
                  ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
           FROM segs)
    SELECT doc_id, COUNT(*) AS n_segments,
           COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
           CASE WHEN COUNT(*) FILTER (WHERE rn = 1) > 0
                THEN string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1)
           END AS clean_text
    FROM fs GROUP BY doc_id ORDER BY doc_id
    """,
)
def p48_segment_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.segment_dedup(docs, "text", "doc_id", seg_tokens=8).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p49 — lexical diversity (operators.text.token_entropy): per-doc
# unigram Shannon entropy, type/token ratio, token count.  Scale: two
# stacked two-phase aggregates over one token explode; shuffles carry
# counts, not instances.
# ---------------------------------------------------------------------------
@q(
    "p49_token_entropy",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
                   SUM(c * log2(c)) AS clogc
            FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           ROUND(log2(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens, 6) AS entropy_bits,
           ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio
    FROM agg ORDER BY doc_id
    """,
)
def p49_token_entropy(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_entropy(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p50 — corpus length histogram (operators.stats.fixed_width_histogram):
# 64-char buckets over n_chars with per-bucket share and cumulative
# share.  Scale: projection + two-phase count on a tiny key domain; the
# windows run over the aggregated histogram (O(buckets) rows), never
# the data.
# ---------------------------------------------------------------------------
@q(
    "p50_length_histogram",
    """
    WITH h AS (SELECT CAST(floor(n_chars / 64.0) AS BIGINT) AS bucket, COUNT(*) AS n
               FROM documents GROUP BY 1)
    SELECT bucket, CAST(bucket * 64.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 64.0 AS DOUBLE) AS hi, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share,
           ROUND(CAST(SUM(n) OVER (ORDER BY bucket) AS DOUBLE) / SUM(n) OVER (), 6)
             AS cum_share
    FROM h ORDER BY bucket
    """,
)
def p50_length_histogram(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import fixed_width_histogram

    docs = load_table(spark, sf_dir, "documents")
    return fixed_width_histogram(docs, "n_chars", 64.0).orderBy("bucket")


# ---------------------------------------------------------------------------
# p51 — changelog compaction (operators.cdc.cdc_latest_state): events
# as a CDC stream keyed by user — latest change wins, 'error' as the
# tombstone op.  Scale: ONE two-phase max_by aggregate (map-side keeps
# a single running pair per key) vs the textbook row_number window's
# full-history shuffle + per-key sort — the oracle is that window
# formulation, so the cheap plan is checked against the expensive one.
# ---------------------------------------------------------------------------
@q(
    "p51_cdc_upsert",
    """
    WITH ranked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, ts, event_id, event_type, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
    """,
)
def p51_cdc_upsert(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.cdc import cdc_latest_state

    ev = load_table(spark, sf_dir, "events")
    return cdc_latest_state(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "value"],
        delete_expr=F.col("event_type") == "error",
    ).select("user_id", "ts", "event_id", "event_type", "value").orderBy("user_id")


# ---------------------------------------------------------------------------
# p52 — corpus-model surprisal (operators.relevance.corpus_surprisal):
# per-doc cross-entropy under the corpus unigram MLE, the unigram form
# of CCNet-style perplexity filtering.  Scale: one explode feeds both
# count grains (two-phase each); the (doc,term)⋈(term) join shuffles
# posting lists; C broadcasts.
# ---------------------------------------------------------------------------
@q(
    "p52_corpus_surprisal",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    dc AS (SELECT doc_id, tok, COUNT(*) AS c_dt FROM toks GROUP BY doc_id, tok),
    cc AS (SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY tok),
    tot AS (SELECT COUNT(*) AS c FROM toks)
    SELECT doc_id, CAST(SUM(c_dt) AS BIGINT) AS n_tokens,
           ROUND(-SUM(CAST(c_dt AS DOUBLE)
                      * log2(CAST(c_t AS DOUBLE) / CAST(tot.c AS DOUBLE)))
                 / SUM(c_dt), 6) AS surprisal_bits
    FROM dc JOIN cc USING (tok) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def p52_corpus_surprisal(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import corpus_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return corpus_surprisal(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p53 — balanced shard packing (operators.ids.balanced_shards):
# size-DESC round-robin (LPT) assignment to 8 shards so per-shard
# token budgets stay within one max-doc of each other.  The global
# size rank reuses the p43 bucket-parallel pattern via a composite
# integer key — no SinglePartition window anywhere.
# ---------------------------------------------------------------------------
@q(
    "p53_balanced_shards",
    """
    SELECT doc_id, n_chars,
           CAST((ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1) % 8
                AS INTEGER) AS shard
    FROM documents ORDER BY doc_id
    """,
)
def p53_balanced_shards(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.ids import balanced_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return balanced_shards(spark, docs, "doc_id", "n_chars", n_shards=8).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# p54 — cross-source duplication matrix: for every pair of sources,
# how many exact-duplicate document pairs span them (and how many sit
# within one source) — the contamination diagnostic run before
# deciding per-source dedup policy.  Scale: the self-join runs on
# per-(hash, source) COUNTS of multi-copy hashes only (the aggregate
# collapses the corpus first), so the pair space is duplicate-groups-
# sized, not corpus-sized.
# ---------------------------------------------------------------------------
@q(
    "p54_cross_source_dups",
    """
    WITH h AS (SELECT md5(lower(trim(text))) AS ch, source, COUNT(*) AS c
               FROM documents GROUP BY 1, 2),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source THEN a.c * (a.c - 1) / 2
                  ELSE a.c * b.c END AS np
      FROM h a JOIN h b ON a.ch = b.ch AND a.source <= b.source
      WHERE a.source < b.source OR (a.source = b.source AND a.c > 1))
    SELECT source_a, source_b, CAST(SUM(np) AS BIGINT) AS dup_pairs
    FROM pairs GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def p54_cross_source_dups(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("ch"), F.col("source")
    ).agg(F.count(F.lit(1)).alias("c"))
    # no multi-copy pre-filter: the pair predicate below already
    # excludes every single-copy hash (a<b needs two sources, a=b
    # needs c>1), so a SUM(c)>1 aggregate+join would be a redundant
    # shuffle stage for zero semantic effect
    a, b = h.alias("a"), h.alias("b")
    pairs = (
        a.join(b, (F.col("a.ch") == F.col("b.ch")) & (F.col("a.source") <= F.col("b.source")))
        .filter(
            (F.col("a.source") < F.col("b.source"))
            | ((F.col("a.source") == F.col("b.source")) & (F.col("a.c") > 1))
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.when(
                F.col("a.source") == F.col("b.source"),
                (F.col("a.c") * (F.col("a.c") - 1) / 2).cast("long"),
            ).otherwise(F.col("a.c") * F.col("b.c")).alias("np"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("np").alias("dup_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# p55 — embedding quantization (operators.similarity.quantize_embeddings):
# per-vector 256-level linear codes + max reconstruction error — the
# int8 compression pass ANN storage runs at write time.  floor(x+0.5)
# instead of round(): engines disagree on round-half semantics, floor
# never.  Scale: pure projection, no shuffle, no Python.
# ---------------------------------------------------------------------------
@q(
    "p55_quantize_embeddings",
    """
    WITH v AS (SELECT vec_id, embedding AS e,
                      CAST(list_min(embedding) AS DOUBLE) AS mn,
                      CAST(list_max(embedding) AS DOUBLE) AS mx
               FROM embeddings)
    SELECT vec_id, ROUND(mn, 6) AS v_min, ROUND(mx, 6) AS v_max,
           array_to_string(CASE WHEN mx > mn THEN
             list_transform(e, x -> CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0
                                               / (mx - mn) + 0.5) AS INTEGER))
           ELSE list_transform(e, x -> 0) END, ',') AS qvec,
           CASE WHEN mx > mn THEN
             ROUND(list_max(list_transform(e, x ->
               abs(CAST(x AS DOUBLE) - (mn + CAST(floor((CAST(x AS DOUBLE) - mn)
                   * 255.0 / (mx - mn) + 0.5) AS INTEGER) * (mx - mn) / 255.0)))), 6)
           ELSE 0.0 END AS max_abs_err
    FROM v ORDER BY vec_id
    """,
)
def p55_quantize_embeddings(spark: SparkSession, sf_dir: str) -> SDF:
    # quantize_embeddings keeps qvec as array<int> for API users; the
    # catalog row CSV-serializes it (integers render identically in
    # both engines) so the driver canonicalizer can hash the column.
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.quantize_embeddings(emb, "embedding", "vec_id")
        .withColumn("qvec", F.concat_ws(",", F.col("qvec").cast("array<string>")))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# p56 — cluster-balanced sampling: cap each IVF cell's contribution at
# k vectors chosen by deterministic hash priority — the
# topic-balanced subsample step training mixes run so no dense cluster
# dominates.  Scale: the p26 pure-projection assignment + ONE
# per-cell bounded window (state k per cell); priority is the
# engine-portable md5 uniform, so selection is partition-independent
# and reproducible.
# ---------------------------------------------------------------------------
@q(
    "p56_cluster_balanced_sample",
    f"""
    WITH cents AS (
      SELECT ce, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0),
    dist AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    assigned AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist) t WHERE rn = 1),
    pri AS (SELECT vec_id, cell,
                   ('0x'||substr(md5('7_'||CAST(vec_id AS VARCHAR)),1,13))::BIGINT
                     / 4503599627370496.0 AS u
            FROM assigned)
    SELECT vec_id, cell, CAST(rk AS INTEGER) AS rk FROM (
      SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY u, vec_id) AS rk
      FROM pri) t
    WHERE rk <= 20 ORDER BY vec_id
    """,
)
def p56_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> SDF:
    from pyspark.sql.window import Window as W

    from spear_spark.functions import rand_like

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.first_k_centroids(emb, "embedding", "vec_id", 8)
    assigned = similarity.ivf_assign_fixed(emb, "embedding", centroids).select(
        "vec_id", F.col("_cell").alias("cell")
    )
    w = W.partitionBy("cell").orderBy(rand_like(F.col("vec_id"), seed=7), "vec_id")
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("vec_id", "cell", "rk")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# p57 — leakage-free split (operators.sampling.leakage_safe_split):
# the split decision hashes the content-GROUP key, so duplicate
# documents can never straddle train/validation — the eval-inflation
# failure mode residual duplication causes.  Scale: pure projection,
# no shuffle; near-dup-safe variant swaps in the CC label as the
# group key.  The oracle asserts the same md5-group uniform.
# ---------------------------------------------------------------------------
@q(
    "p57_leakage_safe_split",
    """
    SELECT doc_id, md5(lower(trim(coalesce(text, '')))) AS group_hash,
           CASE WHEN ('0x'||substr(md5('13_'||md5(lower(trim(coalesce(text, ''))))),1,13))::BIGINT
                     / 4503599627370496.0 < 0.1
                THEN 'validation' ELSE 'train' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def p57_leakage_safe_split(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs, "text", "doc_id", val_frac=0.1, seed=13).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# p58 — text normalization audit (operators.text.normalize_text): the
# pre-dedup cleanup chain with per-doc change accounting.  Pure
# projection; ASCII-regex-only so both engines compute byte-identical
# output (ICU folding is the documented non-goal).
# ---------------------------------------------------------------------------
@q(
    "p58_normalize_text",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g'))
             AS norm_text,
           (trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g'))
             <> text) AS changed,
           CAST(length(text) - length(trim(regexp_replace(regexp_replace(
                 lower(text), '[^a-z0-9\t\n\f\r ]', '', 'g'),
                 '[\t\n\f\r ]+', ' ', 'g'))) AS BIGINT) AS n_chars_removed
    FROM documents ORDER BY doc_id
    """,
)
def p58_normalize_text(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    norm = text.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).alias("changed"),
        (F.length("text") - F.length(norm)).cast("bigint").alias("n_chars_removed"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p59 — PageRank (operators.graph.pagerank): 5 fixed iterations over
# the customer↔supplier bipartite graph (distinct trading pairs from
# orders ⋈ lineitem, both directions).  Each iteration = one join on
# the cached source-partitioned edges + one contribution aggregate;
# lineage truncated per round like connected components.  Per-
# iteration ROUND(9) keeps both engines on identical rank vectors
# before FP-association noise can amplify; the oracle unrolls the
# same five iterations as CTEs with the identical double arithmetic.
# ---------------------------------------------------------------------------
def _pagerank_unweighted_steps(iters: int, damping: float = 0.85) -> str:
    """The shared unweighted-iteration CTE chain + final select —
    exactly ``graph._iterate``'s rounded map unrolled: per round, one
    contribution aggregate (rank / out-degree summed per dst) and one
    ROUND(9); final ROUND(6).  Expects CTEs ``e``(src, dst),
    ``nodes``(node), ``nn``(n), ``deg``(src, deg), ``r0``(node, rank)
    upstream; parameterized on damping so the fixed-iteration (0.85)
    and convergence-pinned (0.5) pairings share one body."""
    d = repr(float(damping))
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
    r{i} AS (SELECT nodes.node,
                ROUND((CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / nn.n
                      + CAST({d} AS DOUBLE) * COALESCE(t.cs, CAST(0.0 AS DOUBLE)),
                      9) AS rank
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS node, SUM(r.rank / deg.deg) AS cs
                        FROM e JOIN deg USING (src)
                        JOIN r{i - 1} r ON r.node = e.src
                        GROUP BY e.dst) t ON t.node = nodes.node)""")
    tail = f"""
    SELECT node, ROUND(rank, 6) AS rank FROM r{iters} ORDER BY node"""
    return "".join(steps) + tail


def _pagerank_oracle(iters: int = 5) -> str:
    head = """
    WITH p AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                               's' || CAST(l_suppkey AS VARCHAR) AS s
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT c AS src, s AS dst FROM p UNION ALL SELECT s, c FROM p),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, ROUND(CAST(1.0 AS DOUBLE) / nn.n, 9) AS rank
           FROM nodes CROSS JOIN nn)"""
    return head + _pagerank_unweighted_steps(iters, 0.85)


@q("p59_pagerank", _pagerank_oracle(5))
def p59_pagerank(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # dedup the NARROW int key pair first, then widen to string node
    # ids — the distinct shuffle moves 8-byte ints, not concat'd
    # strings (3.5× on the edge build at bench scale).  The symmetrize
    # union of a distinct c/s pair set is distinct by construction
    # ('c'/'s' prefixes never collide), so pagerank skips its dedup.
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(edges, "src", "dst", iters=5, edges_distinct=True).orderBy("node")


# ---------------------------------------------------------------------------
# p60 — per-source winsorized length stats (operators.stats.
# winsorized_stats): clamp n_chars to the exact per-source [p05, p95]
# and report raw vs winsorized means + clamp counts.  R-7 quantile
# interpolation on both engines (F.percentile / quantile_cont).
# Scale: one bounds aggregate per group, bounds broadcast back, one
# data shuffle for the final means.
# ---------------------------------------------------------------------------
@q(
    "p60_winsorized_stats",
    """
    WITH b AS (SELECT source,
                      quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS qlo,
                      quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS qhi
               FROM documents GROUP BY source)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(CAST(n_chars AS DOUBLE), qlo), qhi)), 6)
             AS mean_winsor,
           CAST(SUM(CASE WHEN CAST(n_chars AS DOUBLE) < qlo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_lo,
           CAST(SUM(CASE WHEN CAST(n_chars AS DOUBLE) > qhi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped_hi,
           ROUND(MIN(qlo), 6) AS q_lo,
           ROUND(MIN(qhi), 6) AS q_hi
    FROM documents d JOIN b USING (source)
    GROUP BY d.source ORDER BY d.source
    """,
)
def p60_winsorized_stats(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import winsorized_stats

    docs = load_table(spark, sf_dir, "documents")
    return winsorized_stats(docs, "n_chars", ["source"], 0.05, 0.95).orderBy("source")


# ---------------------------------------------------------------------------
# p61 — per-language z-score outliers (operators.stats.
# zscore_outliers): docs ≥ 2 sample standard deviations from their
# language's mean length.  Stats broadcast back — detection is a
# map-side probe, no second shuffle.
# ---------------------------------------------------------------------------
@q(
    "p61_zscore_outliers",
    """
    WITH s AS (SELECT lang, AVG(CAST(n_chars AS DOUBLE)) AS mu,
                      stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
               FROM documents GROUP BY lang)
    SELECT d.lang, doc_id, n_chars,
           ROUND((CAST(n_chars AS DOUBLE) - mu) / sd, 6) AS zscore
    FROM documents d JOIN s USING (lang)
    WHERE sd IS NOT NULL AND sd > 0
      AND abs(ROUND((CAST(n_chars AS DOUBLE) - mu) / sd, 6)) >= 2.0
    ORDER BY doc_id
    """,
)
def p61_zscore_outliers(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import zscore_outliers

    docs = load_table(spark, sf_dir, "documents")
    return zscore_outliers(docs, "n_chars", ["lang"], "doc_id", 2.0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p62 — top word-bigrams per language (operators.text.
# top_ngrams_per_group): the vocabulary-drift probe.  Expansion is a
# projection; the top-k window runs over AGGREGATED (lang, ngram)
# counts, never raw rows.
# ---------------------------------------------------------------------------
@q(
    "p62_top_ngrams_per_lang",
    rf"""
    WITH toks AS (SELECT lang, {_TOKS} AS t FROM documents),
    g AS (SELECT lang, unnest([t[i] || ' ' || t[i+1]
                               for i in generate_series(1, len(t) - 1)]) AS ngram
          FROM toks),
    c AS (SELECT lang, ngram, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM g WHERE length(ngram) > 0 GROUP BY lang, ngram)
    SELECT lang, CAST(rk AS INTEGER) AS rk, ngram, cnt FROM (
      SELECT lang, ngram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, ngram) AS rk
      FROM c) t
    WHERE rk <= 5 ORDER BY lang, rk
    """,
)
def p62_top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.top_ngrams_per_group(docs, "text", "lang", n=2, k=5).orderBy("lang", "rk")


# ---------------------------------------------------------------------------
# p63 — BPE merge-candidate scan (operators.text.bpe_pair_counts):
# corpus-wide adjacent character-pair counts inside BPE-ish pre-tokens
# — iterate scan + argmax-merge and you have BPE vocabulary training.
# The aggregate key domain is alphabet², independent of corpus size.
# ---------------------------------------------------------------------------
@q(
    "p63_bpe_pair_counts",
    rf"""
    WITH toks AS (SELECT unnest(regexp_extract_all(lower(text),
                                '{text.BPE_PATTERN}', 0)) AS t FROM documents),
    p AS (SELECT unnest([substring(t, i, 2)
                         for i in generate_series(1, length(t) - 1)]) AS pair
          FROM toks WHERE length(t) >= 2)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def p63_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, "text", top=20)


# ---------------------------------------------------------------------------
# p64 — integer-exact SRP signatures (operators.similarity.
# srp_signature_exact): cosine-LSH bits from ±1 md5-derived
# hyperplanes over micro-unit-quantized vectors — int64 sums, so the
# sign test is bit-identical across engines and partitionings (the
# float-plane lsh_bucket can't be oracle-paired; this can).  The
# oracle regenerates the identical coefficients from the same md5
# recipe via srp_coeffs, embedded as a VALUES table.
# ---------------------------------------------------------------------------
def _srp_oracle(n_bits: int = 12, dim: int = 64, seed: int = 7) -> str:
    coeffs = similarity.srp_coeffs(n_bits, dim, seed)
    values = ", ".join(
        f"({b}, {d + 1}, {coeffs[b][d]})" for b in range(n_bits) for d in range(dim)
    )
    return f"""
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x ->
                        CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                        AS qv
               FROM embeddings),
    d AS (SELECT vec_id, i, qv[i] AS qd FROM q CROSS JOIN range(1, {dim + 1}) r(i)),
    c(b, i, cf) AS (VALUES {values}),
    dots AS (SELECT vec_id, b, SUM(qd * cf) AS dot
             FROM d JOIN c USING (i) GROUP BY vec_id, b)
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS INTEGER) AS sig
    FROM dots GROUP BY vec_id ORDER BY vec_id
    """


@q("p64_srp_signatures", _srp_oracle())
def p64_srp_signatures(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.srp_signature_exact(
        emb, "embedding", "vec_id", dim=64, n_bits=12
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# p65 — explicit-target mix reweighting (operators.sampling.
# mix_reweight): per-source keep rates hitting a uniform 5% target
# with the largest achievable corpus (binding source keeps 100%).
# One two-phase source count; the normalizer is an order-free MAX,
# not a sum — cross-engine exact.  The oracle builds the target set
# from an EXPLICIT VALUES list full-outer-joined against the counts —
# mirroring the operator's missing-source surfacing (n_rows = 0,
# keep_rate NULL) instead of assuming documents' sources are exactly
# the 20 target keys (they happen to be at every SF, but the pairing
# must not rest on that data precondition).
# ---------------------------------------------------------------------------
_P65_TARGETS = {f"src{i}": 0.05 for i in range(20)}  # src0..src19
_P65_VALUES = ", ".join(
    f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in sorted(_P65_TARGETS.items())
)


@q(
    "p65_mix_reweight",
    f"""
    WITH t(source, tgt) AS (VALUES {_P65_VALUES}),
    c0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
           GROUP BY source),
    c AS (SELECT COALESCE(c0.source, t.source) AS source,
                 COALESCE(c0.n, 0) AS n_rows,
                 COALESCE(t.tgt, CAST(0.0 AS DOUBLE)) AS tgt
          FROM c0 FULL OUTER JOIN t ON c0.source = t.source),
    tt AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
                  MAX(CASE WHEN tgt > 0 AND n_rows > 0
                           THEN tgt / CAST(n_rows AS DOUBLE) END) AS mr
           FROM c)
    SELECT source, n_rows,
           ROUND(CASE WHEN n_total > 0
                      THEN n_rows / CAST(n_total AS DOUBLE)
                      ELSE 0.0 END, 6) AS actual_share,
           ROUND(tgt, 6) AS target_share,
           ROUND(CASE WHEN tgt > 0 AND n_rows > 0
                      THEN (tgt / CAST(n_rows AS DOUBLE)) / mr
                      WHEN tgt > 0 THEN NULL
                      ELSE 0.0 END, 6) AS keep_rate,
           CAST(CASE WHEN n_rows > 0
                     THEN floor((CASE WHEN tgt > 0
                                      THEN (tgt / CAST(n_rows AS DOUBLE)) / mr
                                      ELSE 0.0 END) * CAST(n_rows AS DOUBLE))
                     ELSE 0 END AS BIGINT) AS expected_rows
    FROM c CROSS JOIN tt ORDER BY source
    """,
)
def p65_mix_reweight(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import mix_reweight

    docs = load_table(spark, sf_dir, "documents")
    return mix_reweight(docs, "source", _P65_TARGETS).orderBy("source")


# ---------------------------------------------------------------------------
# p66 — quality-filter funnel (operators.text.quality_funnel): doc
# counts surviving each successive curation gate (non-empty →
# token-range → quality → PII-free), with share of the original
# corpus.  One projection pass + a 4-counter aggregate; the report is
# assembled from literals, never from data rows.
# ---------------------------------------------------------------------------
_P66_QUAL = rf"""ROUND(0.3 * LEAST(CAST(greatest(len(t), 1) AS DOUBLE) / 100.0, 1.0)
      + 0.4 * (CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE)
               / CAST(greatest(len(t), 1) AS DOUBLE))
      + 0.3 * LEAST((CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                     / CAST(greatest(len(t), 1) AS DOUBLE)) / 8.0, 1.0), 6)"""

_P66_PII = r"""(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      + len(regexp_extract_all(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '[0-9]+')))"""

_P66_NORM = r"""trim(regexp_replace(regexp_replace(lower(text),
        '[^a-z0-9\t\n\f\r ]', '', 'g'), '[\t\n\f\r ]+', ' ', 'g'))"""


@q(
    "p66_quality_funnel",
    rf"""
    WITH f AS (SELECT (length({_P66_NORM}) > 0) AS s1,
                      len({_TOKS}) AS ntok,
                      {_TOKS} AS t,
                      text
               FROM documents),
    f2 AS (SELECT s1, (s1 AND ntok BETWEEN 10 AND 5000) AS s2,
                  {_P66_QUAL} AS qual, {_P66_PII} AS npii
           FROM f),
    f3 AS (SELECT s1, s2, (s2 AND qual >= 0.35) AS s3,
                  (s2 AND qual >= 0.35 AND npii = 0) AS s4 FROM f2),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                 CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                 CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
          FROM f3)
    SELECT stage, gate, n_pass, ROUND(n_pass / CAST(n0 AS DOUBLE), 6)
             AS share_of_input
    FROM (SELECT 0 AS stage, 'input' AS gate, n0 AS n_pass, n0 FROM g
          UNION ALL SELECT 1, 'non_empty', n1, n0 FROM g
          UNION ALL SELECT 2, 'token_range', n2, n0 FROM g
          UNION ALL SELECT 3, 'quality_min', n3, n0 FROM g
          UNION ALL SELECT 4, 'pii_free', n4, n0 FROM g) s
    ORDER BY stage
    """,
)
def p66_quality_funnel(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_funnel(docs, "text", 10, 5000, 0.35)


# ---------------------------------------------------------------------------
# p67 — per-label embedding centroid drift (operators.similarity.
# centroid_shift): L2 distance between each label's centroid on the
# even-id vs odd-id corpus halves — the drift monitor run before
# trusting an ANN index refresh.  One (label, dim) two-phase
# aggregate computes both split means via conditional AVG.
# ---------------------------------------------------------------------------
@q(
    "p67_centroid_shift",
    """
    WITH d AS (SELECT label, (vec_id % 2 = 1) AS b, r.i,
                      CAST(embedding[r.i] AS DOUBLE) AS x
               FROM embeddings CROSS JOIN range(1, 65) r(i)),
    m AS (SELECT label, i,
                 ROUND(AVG(CASE WHEN NOT b THEN x END), 9) AS ma,
                 ROUND(AVG(CASE WHEN b THEN x END), 9) AS mb,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS na,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb
          FROM d GROUP BY label, i)
    SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
           ROUND(sqrt(SUM(ROUND((ma - mb) * (ma - mb), 9))), 6) AS l2_shift
    FROM m GROUP BY label
    HAVING MAX(na) > 0 AND MAX(nb) > 0
    ORDER BY label
    """,
)
def p67_centroid_shift(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_shift(
        emb, "embedding", "label", F.col("vec_id") % 2 == 1
    ).orderBy("label")


# ---------------------------------------------------------------------------
# p68 — token-budget waterfill (operators.sampling.budget_waterfill):
# integer waterfilling of a 50k-char budget across sources — alloc =
# min(T_s, cap) with the remainder granted one-each to the first
# capped sources; Σ alloc == min(budget, Σ T) exactly.  Pure int64
# arithmetic (no FP at all); the window math runs over the
# |sources|-row aggregate, never the corpus.
# ---------------------------------------------------------------------------
_P68_BUDGET = 50_000


@q(
    "p68_budget_waterfill",
    f"""
    WITH tot AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tokens
                 FROM documents GROUP BY source),
    o AS (SELECT source, tokens,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n,
                 CAST(ROW_NUMBER() OVER (ORDER BY tokens, source) AS BIGINT) AS i,
                 CAST(SUM(tokens) OVER (ORDER BY tokens, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
          FROM tot),
    u AS (SELECT *, (cum + tokens * (n - i)) <= {_P68_BUDGET} AS unc FROM o),
    s AS (SELECT *,
                 CAST(COALESCE(SUM(CASE WHEN unc THEN tokens END) OVER (), 0)
                      AS BIGINT) AS su,
                 CAST(SUM(CASE WHEN unc THEN 0 ELSE 1 END) OVER () AS BIGINT) AS m,
                 CAST(SUM(CASE WHEN unc THEN 0 ELSE 1 END) OVER (
                      ORDER BY tokens, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS rkc
          FROM u)
    SELECT source, tokens,
           CAST(CASE WHEN unc THEN tokens
                ELSE LEAST(tokens,
                           ({_P68_BUDGET} - su) // m
                           + CASE WHEN rkc <= ({_P68_BUDGET} - su) % m
                                  THEN 1 ELSE 0 END)
                END AS BIGINT) AS alloc,
           NOT unc AS capped
    FROM s ORDER BY source
    """,
)
def p68_budget_waterfill(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import budget_waterfill

    docs = load_table(spark, sf_dir, "documents")
    return budget_waterfill(docs, "source", "n_chars", _P68_BUDGET)


# ---------------------------------------------------------------------------
# p69 — image near-duplicate detection via perceptual hash: REAL PNG
# payloads (vendored encoder over the doc text bytes) → decode →
# integer-luma → 8×8 aHash → pigeonhole-banded Hamming pairs — the
# image-dedup path of a multimodal curation pipeline, executing the
# genuine codec end-to-end.  The oracle exploits that the PNG
# round-trip is LOSSLESS: it computes the identical hash as pure byte
# math (ascii() sampling of the cycled text buffer at the
# nearest-neighbor 16→8 positions, integer-mean threshold, two's-
# complement packing) and brute-forces the ≤6-Hamming pairs — so a
# hash-exact match certifies the entire encode→decode→luma→resize
# →threshold→band-join pipeline, not just its shape.  Banding-vs-
# brute-force equality is additionally pinned by unit tests.
#
# SINGLE-BYTE SCOPE (both sides): the oracle's ascii(substr()) samples
# CHARACTERS while the Spark side cycles the utf-8 BYTE buffer, so a
# multibyte character would desynchronize the two.  Rather than
# leaving that as an unguarded data precondition, BOTH sides scope the
# query to single-byte documents (strlen == length; NULL text kept) —
# on the pure-ASCII testdata the filter is a no-op, and on a future
# corpus with multibyte docs the pairing still holds instead of
# breaking (pinned by a synthetic non-ASCII unit test).  The ahash
# operators themselves are byte-correct for any payload.
# ---------------------------------------------------------------------------
@q(
    "p69_image_ahash_pairs",
    """
    WITH sb AS (SELECT doc_id, text FROM documents
                WHERE COALESCE(length(text) = strlen(text), TRUE)),
    s AS (SELECT doc_id, j,
            CASE WHEN length(text) > 0
                 THEN ascii(substr(text,
                        ((2*(j//8)*16 + 2*(j%8)) % length(text)) + 1, 1))
                 ELSE 0 END AS v
        FROM sb CROSS JOIN range(0, 64) r(j)),
    m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM s GROUP BY doc_id),
    h AS (SELECT s.doc_id,
            CAST(SUM(CASE WHEN v > mean THEN
                  CASE WHEN j = 63 THEN -9223372036854775808
                       ELSE (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) END
                 ELSE 0 END) AS BIGINT) AS hash
          FROM s JOIN m USING (doc_id) GROUP BY s.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hash, b.hash)) AS INTEGER) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hash, b.hash)) <= 6
    ORDER BY id_a, id_b
    """,
)
def p69_image_ahash_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.coalesce(F.length("text") == F.octet_length("text"), F.lit(True))
    )
    hashed = multimodal.ahash_images(
        multimodal.attach_png(docs, "text", "doc_id"), "doc_id", "payload"
    )
    return multimodal.ahash_near_pairs(hashed, "doc_id", "ahash", max_hamming=6).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# p70 — bigram LM score (operators.relevance.bigram_lm_score): per-doc
# cross-entropy under the corpus bigram model with add-0.5 smoothing —
# the transition-level perplexity filter unigram surprisal (p52)
# cannot express.  One bigram explode feeds both count grains; the
# scoring joins shuffle on posting-list-sized keys.
# ---------------------------------------------------------------------------
@q(
    "p70_bigram_lm",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg0 AS (SELECT doc_id,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                           for i in generate_series(1, len(t) - 1)]) AS b
            FROM toks WHERE len(t) >= 2),
    bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
    cx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS V FROM
             (SELECT unnest(t) AS w FROM toks)),
    db AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS c_db
           FROM bg GROUP BY doc_id, w1, w2)
    SELECT doc_id, CAST(SUM(c_db) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(c_db * log2((CAST(c12 AS DOUBLE) + 0.5)
                                  / (CAST(c1 AS DOUBLE) + 0.5 * V)))
                 / SUM(c_db), 6) AS lm_bits
    FROM db JOIN bc USING (w1, w2) JOIN cx USING (w1) CROSS JOIN vv
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def p70_bigram_lm(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p71 — WEIGHTED PageRank (operators.graph.pagerank_weighted) on the
# customer↔supplier graph where the edge weight is the REAL trading
# multiplicity (lineitem count per pair) — p59's simple-graph variant
# discards exactly this signal.  Rank splits across out-edges ∝
# weight; the oracle unrolls the same iterations with the identical
# (rank / wsum) * w association order.
# ---------------------------------------------------------------------------
def _pagerank_weighted_oracle(iters: int = 3) -> str:
    head = """
    WITH p AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                      's' || CAST(l_suppkey AS VARCHAR) AS s,
                      CAST(COUNT(*) AS DOUBLE) AS w
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey
               GROUP BY c, s),
    e AS (SELECT c AS src, s AS dst, w FROM p UNION ALL SELECT s, c, w FROM p),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    d AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY src),
    r0 AS (SELECT node, ROUND(CAST(1.0 AS DOUBLE) / nn.n, 9) AS rank
           FROM nodes CROSS JOIN nn)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
    r{i} AS (SELECT nodes.node,
                ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                      + CAST(0.85 AS DOUBLE) * COALESCE(t.cs, CAST(0.0 AS DOUBLE)),
                      9) AS rank
             FROM nodes CROSS JOIN nn
             LEFT JOIN (SELECT e.dst AS node, SUM((r.rank / d.wsum) * e.w) AS cs
                        FROM e JOIN d USING (src)
                        JOIN r{i - 1} r ON r.node = e.src
                        GROUP BY e.dst) t ON t.node = nodes.node)""")
    tail = f"""
    SELECT node, ROUND(rank, 6) AS rank FROM r{iters} ORDER BY node"""
    return head + "".join(steps) + tail


@q("p71_pagerank_weighted", _pagerank_weighted_oracle(3))
def p71_pagerank_weighted(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.graph import pagerank_weighted

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_suppkey")  # narrow int keys first
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
            "w",
        )
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    return pagerank_weighted(
        edges, "src", "dst", "w", iters=3, edges_aggregated=True
    ).orderBy("node")


# ---------------------------------------------------------------------------
# p72 — convergence-terminated PageRank (operators.graph.
# pagerank_converged) on the customer→nation→region membership graph:
# iterate until max |Δrank| < 1e-6 instead of a fixed round count —
# the mode a real centrality run uses (fixed iterations are an
# oracle-pairing artifact).  ORACLE-PAIRED VIA THE PINNED STOP ROUND:
# the round count is data-size-INDEPENDENT here — the membership graph
# is a depth-2 DAG (c/s → n → r), so the damping-0.5 rounded map hits
# an exact fixed point by round ~4; with check_every=4 the first
# residual check (round 4 vs round 0) still sees the transient and the
# second (round 8 vs round 4) measures exactly 0.0 < tol, so the run
# stops at k = 8 — measured identical at sf0.001/0.01/0.1.  The oracle
# unrolls the same 8 damping-0.5 rounds (shared CTE body with p59);
# pagerank_converged shares _iterate with pagerank, so the returned
# vector IS pagerank(iters=8) bit-for-bit (pinned by tests).  The
# catalog function asserts info["iterations"] == 8 — if the data ever
# shifts the stop round, the pairing fails LOUDLY instead of hashing
# a different vector against an 8-round oracle.
# ---------------------------------------------------------------------------
_P72_STOP_ROUND = 8


def _p72_oracle(iters: int = _P72_STOP_ROUND, damping: float = 0.5) -> str:
    head = """
    WITH e AS (
      SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
             'n' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
      UNION ALL
      SELECT 's' || CAST(s_suppkey AS VARCHAR),
             'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
      UNION ALL
      SELECT 'n' || CAST(n_nationkey AS VARCHAR),
             'r' || CAST(n_regionkey AS VARCHAR) FROM nation),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, ROUND(CAST(1.0 AS DOUBLE) / nn.n, 9) AS rank
           FROM nodes CROSS JOIN nn)"""
    return head + _pagerank_unweighted_steps(iters, damping)


@q("p72_pagerank_convergence", _p72_oracle())
def p72_pagerank_convergence(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.graph import pagerank_converged

    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    edges = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(
            supp.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
            )
        )
    )
    # per-key uniqueness in each membership table + disjoint prefixes
    # -> the union is duplicate-free by construction
    info: dict = {}
    out = pagerank_converged(
        edges, "src", "dst", tol=1e-6, max_iters=40, damping=0.5,
        edges_distinct=True, check_every=4, info=info,
    ).orderBy("node")
    # the oracle unrolls exactly _P72_STOP_ROUND rounds — a different
    # stop round means the pairing premise broke; fail loudly rather
    # than hash-mismatch against the wrong-depth oracle
    assert info["iterations"] == _P72_STOP_ROUND, (
        f"p72: converged in {info['iterations']} rounds, oracle unrolls "
        f"{_P72_STOP_ROUND} (residuals {info.get('residuals')})"
    )
    return out


# ---------------------------------------------------------------------------
# p73 — histogram-based per-source quantiles (operators.stats.
# histogram_quantiles): the DETERMINISTIC mergeable quantile path —
# percentile_approx's GK sketch is partition-layout-dependent and can
# never be oracle-paired, while integer bin counts are order-free, so
# the estimate is run-stable and cross-engine exact with error ≤ the
# bin width (contract-tested against the exact order statistic).  One
# two-phase (source, bin) count; everything downstream operates on
# the ≤ 64-rows-per-source aggregate.
# ---------------------------------------------------------------------------
@q(
    "p73_histogram_quantiles",
    """
    WITH b AS (SELECT source,
                 LEAST(GREATEST(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0)
                                           / 10.0) AS BIGINT), 0), 63) AS bin
               FROM documents
               -- mirror the operator's NULL drop: GREATEST(NULL,0)=0 in
               -- DuckDB would otherwise bin NULLs into bin 0
               WHERE n_chars IS NOT NULL),
    c AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c
          FROM b GROUP BY source, bin),
    m AS (SELECT source, bin,
            CAST(SUM(c) OVER (PARTITION BY source ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n_rows
          FROM c),
    q AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
    SELECT source, q,
           ROUND(CAST(0.0 AS DOUBLE) + (MIN(bin) + 1) * CAST(10.0 AS DOUBLE), 6)
             AS est,
           MAX(n_rows) AS n_rows
    FROM m CROSS JOIN q
    WHERE cum >= ceil(q * n_rows)
    GROUP BY source, q
    ORDER BY source, q
    """,
)
def p73_histogram_quantiles(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import histogram_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return histogram_quantiles(
        docs, "n_chars", "source", (0.5, 0.9, 0.99), lo=0.0, hi=640.0, n_bins=64
    )


# ---------------------------------------------------------------------------
# p74 — asymmetric shingle containment (operators.dedup.
# containment_pairs): c(A→B) = |A∩B| / |A| — the quote/subset
# duplication detector symmetric Jaccard misses (a doc fully embedded
# in a longer one has low Jaccard but containment 1.0).  Shares
# p05's inverted-index core and df-cap; both engines filter on the
# 6dp-rounded greater direction, so the pairing is exact.
# ---------------------------------------------------------------------------
@q(
    "p74_containment_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    {_KEPT_SH_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    sc AS (SELECT doc_a, doc_b,
             ROUND(CAST(i AS DOUBLE) / ca.n, 6) AS cont_a_in_b,
             ROUND(CAST(i AS DOUBLE) / cb.n, 6) AS cont_b_in_a
           FROM inter JOIN cnt ca ON doc_a = ca.doc_id
                      JOIN cnt cb ON doc_b = cb.doc_id)
    SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM sc
    WHERE GREATEST(cont_a_in_b, cont_b_in_a) >= 0.2
    ORDER BY GREATEST(cont_a_in_b, cont_b_in_a) DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def p74_containment_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "text", "doc_id", threshold=0.2, top=100, max_df=_MAX_DF
    )


# ---------------------------------------------------------------------------
# p75 — Bloom-filter decontamination (operators.dedup.bloom_*): drop
# documents whose text appears in a denylist (here: every src0 doc)
# via a broadcast bit-array probe — the shuffle-free scale path where
# an exact anti-join would exchange the full denylist.  The oracle
# recomputes the ENTIRE filter in DuckDB — same md5 double-hash
# positions (Kirsch-Mitzenmacher), same BIT_OR words, same k-probe
# BOOL_AND — so the pairing certifies build AND probe bit-for-bit
# (false positives, if any, are deterministic and mirrored).  NULL
# text can never be denylisted and probes to "kept" on both sides.
# ---------------------------------------------------------------------------
_P75_M, _P75_K = 1 << 16, 5
_P75_MASK = """CASE WHEN p % 64 = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << (p % 64)::INT) END"""


@q(
    "p75_bloom_decontaminate",
    f"""
    WITH deny AS (SELECT DISTINCT text AS key FROM documents
                  WHERE source = 'src0' AND text IS NOT NULL),
    dh AS (SELECT ('0x'||substr(md5('42:'||key),1,15))::BIGINT % {_P75_M} AS h1,
                  ('0x'||substr(md5('42:'||key),17,15))::BIGINT % {_P75_M - 1} + 1 AS h2
           FROM deny),
    pos AS (SELECT (h1 + i*h2) % {_P75_M} AS p
            FROM dh CROSS JOIN range(0, {_P75_K}) r(i)),
    words AS (SELECT p // 64 AS word_idx,
                CAST(BIT_OR({_P75_MASK}) AS BIGINT) AS bits
              FROM pos GROUP BY p // 64),
    ph AS (SELECT doc_id,
             ('0x'||substr(md5('42:'||text),1,15))::BIGINT % {_P75_M} AS h1,
             ('0x'||substr(md5('42:'||text),17,15))::BIGINT % {_P75_M - 1} + 1 AS h2
           FROM documents),
    pp AS (SELECT doc_id, (h1 + i*h2) % {_P75_M} AS p
           FROM ph CROSS JOIN range(0, {_P75_K}) r(i)),
    hits AS (SELECT pp.doc_id,
               BOOL_AND(COALESCE((w.bits & ({_P75_MASK})) <> 0, FALSE)) AS member
             FROM pp LEFT JOIN words w ON pp.p // 64 = w.word_idx
             GROUP BY pp.doc_id)
    SELECT doc_id FROM hits WHERE NOT member ORDER BY doc_id
    """,
)
def p75_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.dedup import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    deny = docs.filter(F.col("source") == "src0").select("text")
    return (
        bloom_decontaminate(
            docs.select("doc_id", "text"), "text", deny, "text",
            n_bits=_P75_M, k=_P75_K,
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p76 — sparse lexical cosine pairs (operators.relevance.
# sparse_cosine_pairs): all-pairs TF-IDF cosine via posting lists —
# the weighted complement to p05's set Jaccard and p06's embedding
# cosine.  Exactness discipline: 6dp TF-IDF weights → norms → 9dp
# unit weights BEFORE any product, so the unordered dot sum's FP
# association noise vanishes under the final 6dp rounding; the df-cap
# (norms keep every term, postings drop hot ones) mirrors the
# Jaccard family's pruned-intersection rule exactly.
# ---------------------------------------------------------------------------
@q(
    "p76_sparse_cosine_pairs",
    rf"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (SELECT doc_id, term,
                 ROUND(tf * (ln((n.n + 1.0) / (dft.dft + 1.0)) + 1.0), 6) AS tfidf
          FROM tf JOIN dft USING (term) CROSS JOIN n),
    nr AS (SELECT doc_id, sqrt(SUM(tfidf * tfidf)) AS nrm FROM w GROUP BY doc_id),
    u AS (SELECT w.doc_id, w.term, ROUND(w.tfidf / nr.nrm, 9) AS u
          FROM w JOIN nr USING (doc_id) JOIN dft USING (term)
          WHERE dft.dft <= {_MAX_DF}),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                ROUND(SUM(a.u * b.u), 6) AS cos_sim
              FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, cos_sim FROM pairs WHERE cos_sim >= 0.15
    ORDER BY cos_sim DESC, doc_a, doc_b LIMIT 100
    """,
)
def p76_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        docs, "text", "doc_id", threshold=0.15, top=100, max_df=_MAX_DF
    )


# ---------------------------------------------------------------------------
# p77 — full convergence-terminated Lloyd's k-means (operators.
# similarity.kmeans_lloyd): iterate assignment + per-cell means until
# the max per-centroid L2 drift drops below tol — the clustering loop
# that builds IVF cells / topic-balances a corpus (p47 is one step;
# this is the engine around it).  ORACLE-PAIRED VIA THE PINNED STOP
# ROUND, same trick as p72: the first two drifts of the catalog
# embeddings are ~0.83 and ~0.09 at EVERY SF (drift magnitude is set
# by cluster geometry, not row count), so tol=0.3 stops at exactly
# k=2 rounds with ≥2.7× margin on both sides — measured identical at
# sf0.001/0.01/0.1; the catalog function asserts it so a drifted
# dataset fails LOUDLY instead of hashing against a wrong-depth
# oracle.  The deep-convergence regime (tol=1e-4, data-dependent
# round count) stays law-tested in test_operators (bit-identity to
# unrolled fixed steps, planted-blob recovery).  The oracle unrolls
# both rounds + the final reporting step with the p47 distance/mean
# conventions (rounded unordered sums — epsilon-tolerant, see
# nearest_cells' caveat); per-round ROUND(mean, 6) re-pins both
# engines to identical centroids before error can accumulate.
# Centroid arrays are '%.6f'-CSV-serialized (driver cannot hash list
# cells, same as p47).
# ---------------------------------------------------------------------------
_P77_STOP_ROUND = 2


def _p77_lloyd_round(i: int, prev: str) -> str:
    """One unrolled Lloyd round: assign to ``prev``'s centroids,
    recompute rounded per-(cell, dim) means, carry dead cells'
    previous centroid through the COALESCE."""
    return f""",
    dist{i} AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN {prev} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    asg{i} AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist{i}) t WHERE rn = 1),
    dm{i} AS (
      SELECT a.cell, r.i, ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
      FROM embeddings e JOIN asg{i} a ON a.vec_id = e.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.cell, r.i),
    m{i} AS (SELECT cell, array_agg(m ORDER BY i) AS ce FROM dm{i} GROUP BY cell),
    cents{i} AS (SELECT p.ci, CAST(COALESCE(m.ce, p.ce) AS DOUBLE[]) AS ce
                 FROM {prev} p LEFT JOIN m{i} m ON m.cell = p.ci)"""


def _p77_oracle(rounds: int = _P77_STOP_ROUND) -> str:
    head = """
    WITH cents0 AS (
      SELECT CAST(ce AS DOUBLE[]) AS ce,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0)"""
    body = "".join(
        _p77_lloyd_round(i, f"cents{i - 1}") for i in range(1, rounds + 1)
    )
    fin = rounds + 1
    tail = f""",
    distF AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents{rounds} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    asgF AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM distF) t WHERE rn = 1),
    dmF AS (
      SELECT a.cell, r.i, ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS m,
             COUNT(*) AS n
      FROM embeddings e JOIN asgF a ON a.vec_id = e.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.cell, r.i)
    SELECT cell, MAX(n) AS n_assigned,
           string_agg(printf('%.6f', m + 0.0), ',' ORDER BY i) AS centroid
    FROM dmF GROUP BY cell ORDER BY cell"""
    return head + body + tail


@q("p77_kmeans_lloyd", _p77_oracle())
def p77_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    info: dict = {}
    out = similarity.kmeans_lloyd(
        emb, "embedding", "vec_id", k=8, tol=0.3, max_iters=10, info=info
    )
    assert info["iterations"] == _P77_STOP_ROUND, (
        f"p77: converged in {info['iterations']} rounds, oracle unrolls "
        f"{_P77_STOP_ROUND} (drifts {info.get('drifts')})"
    )
    return out.select(
        "cell",
        "n_assigned",
        F.concat_ws(
            ",",
            F.transform(
                F.col("centroid"),
                lambda m: F.format_string("%.6f", m + F.lit(0.0)),
            ),
        ).alias("centroid"),
    ).orderBy("cell")


# ---------------------------------------------------------------------------
# p78 — Count-Min merge law, driver-certified (operators.sketch.
# cm_merge): documents split into two DISJOINT shards by doc_id
# parity, a sketch built per shard, merged cell-wise — and the oracle
# rebuilds the sketch of the WHOLE corpus in SQL, so the driver hash
# certifies merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly (the
# linearity law the 100 TB profile-per-shard lifecycle rests on; the
# local law test is now also driver evidence).  Bounded everywhere:
# two ≤ d·w-row sketches, one ≤ d·w-row merge aggregate.
# ---------------------------------------------------------------------------
@q(
    "p78_cm_merge",
    rf"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tk FROM documents),
    cells AS (SELECT g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                       % 1024 AS bucket
              FROM tok, generate_series(0, 3) g(r))
    SELECT CAST(r AS INTEGER) AS "row", bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY r, bucket ORDER BY "row", bucket
    """,
)
def p78_cm_merge(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    # != 0 for the odd shard (Spark % is signed: -3 % 2 == -1) so the
    # two filters provably partition the table for any integer id.
    even = sketch.count_min_sketch(docs.filter(F.col("doc_id") % 2 == 0), "text")
    odd = sketch.count_min_sketch(docs.filter(F.col("doc_id") % 2 != 0), "text")
    return sketch.cm_merge(even, odd).orderBy("row", "bucket")


# ---------------------------------------------------------------------------
# p79 — HLL register-table merge law, driver-certified (operators.
# sketch.hll_merge): per-shard register tables over user_id (events
# split by user_id parity) merged register-wise by MAX — the oracle
# rebuilds the whole-corpus register table, certifying the union law
# bit-for-bit (registers are exact integers, so even this approximate
# sketch gets an EXACT cross-engine check, same discipline as p33).
# ---------------------------------------------------------------------------
@q(
    "p79_hll_merge",
    f"""
    WITH h AS (SELECT ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
               FROM events),
    r AS (SELECT hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM h)
    SELECT reg, CAST(MAX(rho) AS INTEGER) AS max_rho
    FROM r GROUP BY reg ORDER BY reg
    """,
)
def p79_hll_merge(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    # != 0: signed %, see p78 — the shards must partition for ANY id.
    even = sketch.hll_register_table(ev.filter(F.col("user_id") % 2 == 0), key)
    odd = sketch.hll_register_table(ev.filter(F.col("user_id") % 2 != 0), key)
    return sketch.hll_merge(even, odd).orderBy("reg")


# ---------------------------------------------------------------------------
# p80 — per-group HLL distinct profile (operators.sketch.
# hll_distinct_by): estimated distinct users PER EVENT TYPE — the
# per-key cardinality profile a 100 TB curation run asks of the
# sketch family (corpus-global p33 can't answer "which source is
# low-diversity?").  Grouped state = |groups|·64 integer registers;
# the estimate is the same exact alpha·m²/Σ2^(−M_j) + linear-counting
# lookup as p33, evaluated per group — hash-exact cross-engine.
# ---------------------------------------------------------------------------
@q(
    "p80_group_distinct",
    f"""
    WITH h AS (SELECT event_type,
                      ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
               FROM events),
    r AS (SELECT event_type, hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM h),
    regs AS (SELECT event_type, reg, MAX(rho) AS max_rho
             FROM r GROUP BY event_type, reg),
    s AS (SELECT event_type,
                 CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                   AS s_present,
                 COUNT(*) AS n_present
          FROM regs GROUP BY event_type),
    est AS (SELECT event_type,
                   CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                   / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                   {_HLL_M} - n_present AS v
            FROM s)
    SELECT event_type, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                                  THEN ({_LC_LIST})[v + 1] ELSE raw END, 3)
             AS est_distinct
    FROM est ORDER BY event_type
    """,
)
def p80_group_distinct(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    return sketch.hll_distinct_by(
        ev, "event_type", F.col("user_id").cast("string")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# p81 — per-group Count-Min heavy hitters (operators.sketch.
# cm_heavy_hitters_by): tokens whose grouped sketch estimate reaches
# 1% of THEIR SOURCE'S total occurrences, with the exact count
# alongside — p32's grouped twin ("which tokens dominate each
# source?").  The oracle rebuilds the identical per-source md5 sketch
# in SQL: exact (source, tok) counts feed the group-keyed cell grid
# (Count-Min is linear), the probes, and the per-source totals, and
# the threshold is the same integer est*100 >= pct*total comparison,
# so even this approximate sketch is hash-exact cross-engine.
# ---------------------------------------------------------------------------
@q(
    "p81_group_heavy_hitters",
    rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tk FROM documents),
    exact AS (SELECT source, tk, COUNT(*) AS exact FROM tok GROUP BY source, tk),
    cells AS (SELECT source, g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                       % 1024 AS bucket,
                     exact
              FROM exact, generate_series(0, 3) g(r)),
    sketch AS (SELECT source, r, bucket, CAST(SUM(exact) AS BIGINT) AS cnt
               FROM cells GROUP BY source, r, bucket),
    tot AS (SELECT source, CAST(SUM(exact) AS BIGINT) AS total
            FROM exact GROUP BY source),
    probes AS (SELECT source, tk, exact, g.r,
                      ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                        % 1024 AS bucket
               FROM exact, generate_series(0, 3) g(r)),
    est AS (SELECT source, tk, exact, MIN(cnt) AS est
            FROM probes JOIN sketch USING (source, r, bucket)
            GROUP BY source, tk, exact)
    SELECT source, tk AS tok, est, CAST(exact AS BIGINT) AS exact
    FROM est JOIN tot USING (source)
    WHERE est * 100 >= 1 * total
    ORDER BY source, est DESC, tok
    """,
)
def p81_group_heavy_hitters(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    return sketch.cm_heavy_hitters_by(docs, "source", "text", pct=1)


# ---------------------------------------------------------------------------
# p82 — 7-day rolling Count-Min profile (operators.sketch.cm_rolling +
# cm_probe_by): per-day event-type sketches merged into exact sliding
# 7-day windows (periods partition the rows, so the windowed SUM is
# disjoint by construction — the lifecycle cm_merge's disjointness
# contract forbids over raw overlapping windows), probed for every
# (observed day × event type).  The period ordinal is pure integer
# epoch-day math (unix_micros div 86.4e9 == epoch_us // 86.4e9), so no
# timezone or double-rounding can desync the engines; the oracle
# rebuilds the identical daily grid, rolling fan-out, and MIN probe.
# ---------------------------------------------------------------------------
@q(
    "p82_rolling_sketch",
    r"""
    WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
                       lower(trim(event_type)) AS tok
                FROM events),
    daily AS (SELECT period, g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tok),1,15))::BIGINT
                       % 1024 AS bucket,
                     COUNT(*) AS cnt
              FROM ev, generate_series(0, 3) g(r)
              GROUP BY period, g.r, bucket),
    contrib AS (SELECT period + s.o AS period, r, bucket, cnt
                FROM daily, generate_series(0, 6) s(o)),
    rolled AS (SELECT period, r, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
               FROM contrib GROUP BY period, r, bucket),
    periods AS (SELECT DISTINCT period FROM ev),
    toks AS (SELECT DISTINCT tok FROM ev),
    probes AS (SELECT p.period, t.tok, g.r,
                      ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||t.tok),1,15))::BIGINT
                        % 1024 AS bucket
               FROM periods p, toks t, generate_series(0, 3) g(r))
    SELECT pr.period, pr.tok, MIN(COALESCE(ro.cnt, 0)) AS est
    FROM probes pr LEFT JOIN rolled ro USING (period, r, bucket)
    GROUP BY pr.period, pr.tok
    ORDER BY period, tok
    """,
)
def p82_rolling_sketch(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    # ONE corpus scan: the (period, tok) counts staging is checkpointed
    # and bounded (|days| x |event types|); the daily grid is summed
    # FROM it (Count-Min linearity), and the probe set (observed days x
    # vocabulary) derives from the same staging -- at 100 TB nothing
    # downstream of the staging job touches the events table again.
    # The token is the WHOLE event type (lower/trim), matching the
    # oracle's single-token semantics exactly — a tokenize+explode here
    # would silently desync the pairing if an event type ever contained
    # whitespace.
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("period"),
        F.lower(F.trim(F.col("event_type"))).alias("tok"),
    )
    counts = stage(
        ev.groupBy("period", "tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    daily = sketch.cm_grid_from_counts(counts, ["period"])
    rolled = sketch.cm_rolling(daily, window=7)
    probes = (
        counts.select("period")
        .distinct()
        .crossJoin(F.broadcast(counts.select("tok").distinct()))
    )
    return sketch.cm_probe_by(rolled, probes, "period").orderBy("period", "tok")


# ---------------------------------------------------------------------------
# p83 — one-pass per-source corpus health report (operators.profile.
# corpus_health_report): doc counts, exact token-length quantiles,
# total occurrences, HLL distinct-token estimate, Count-Min
# heavy-hitter count, and corpus-repeated 8-gram share (p85's
# boilerplate signal rolled up per source) — the grouped sketch
# family assembled from a single corpus scan (plan-pinned: the final
# plan reads no parquet; every branch consumes the checkpointed
# doc-grain token-array staging).  The oracle rebuilds all six
# columns in SQL with the same md5 register / cell / gram math and
# the same integer thresholds, so the whole report — exact stats AND
# both approximate sketches — is hash-exact cross-engine.
# ---------------------------------------------------------------------------
@q(
    "p83_health_report",
    rf"""
    WITH toks AS (SELECT source, doc_id, unnest({_TOKS}) AS tok FROM documents),
    counts AS (SELECT source, tok, COUNT(*) AS exact FROM toks GROUP BY source, tok),
    doc_lens AS (SELECT source, doc_id, COUNT(*) AS len
                 FROM toks GROUP BY source, doc_id),
    doc_stats AS (SELECT source, COUNT(*) AS n_docs,
                         ROUND(quantile_cont(len, 0.50), 6) AS q50_len,
                         ROUND(quantile_cont(len, 0.90), 6) AS q90_len
                  FROM doc_lens GROUP BY source),
    totals AS (SELECT source, CAST(SUM(exact) AS BIGINT) AS total_tokens
               FROM counts GROUP BY source),
    h AS (SELECT source, ('0x'||substr(md5(tok),1,15))::BIGINT AS hv FROM counts),
    r AS (SELECT source, hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM h),
    regs AS (SELECT source, reg, MAX(rho) AS max_rho FROM r GROUP BY source, reg),
    s AS (SELECT source,
                 CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                   AS s_present,
                 COUNT(*) AS n_present
          FROM regs GROUP BY source),
    hraw AS (SELECT source,
                    CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                    / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                    {_HLL_M} - n_present AS v
             FROM s),
    hll AS (SELECT source, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                                      THEN ({_LC_LIST})[v + 1] ELSE raw END, 3)
                     AS est_distinct_toks
            FROM hraw),
    cells AS (SELECT source, g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tok),1,15))::BIGINT
                       % 1024 AS bucket,
                     exact
              FROM counts, generate_series(0, 3) g(r)),
    grid AS (SELECT source, r, bucket, CAST(SUM(exact) AS BIGINT) AS cnt
             FROM cells GROUP BY source, r, bucket),
    probes AS (SELECT source, tok, g.r,
                      ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tok),1,15))::BIGINT
                        % 1024 AS bucket
               FROM counts, generate_series(0, 3) g(r)),
    est AS (SELECT source, tok, MIN(cnt) AS est
            FROM probes JOIN grid USING (source, r, bucket) GROUP BY source, tok),
    heavy AS (SELECT source, COUNT(*) AS n_heavy
              FROM est JOIN totals USING (source)
              WHERE est * 100 >= 1 * total_tokens GROUP BY source),
    ta AS (SELECT source, {_TOKS} AS t FROM documents),
    g AS (SELECT source,
                 unnest([array_to_string(list_slice(t, i, i + 7), ' ')
                         for i in generate_series(1, len(t) - 7)]) AS gram
          FROM ta),
    ghc AS (SELECT source, ('0x'||substr(md5(gram),1,15))::BIGINT AS hv,
                   COUNT(*) AS c
            FROM g GROUP BY source, hv),
    gt AS (SELECT hv, SUM(c) AS total FROM ghc GROUP BY hv),
    dup AS (SELECT source,
                   CASE WHEN SUM(c) > 0
                        THEN ROUND(CAST(SUM(CASE WHEN total >= 2 THEN c ELSE 0 END)
                                        AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
                   END AS dup_frac
            FROM ghc JOIN gt USING (hv) GROUP BY source)
    SELECT d.source, d.n_docs, t.total_tokens, hll.est_distinct_toks,
           COALESCE(heavy.n_heavy, 0) AS n_heavy, dup.dup_frac,
           d.q50_len, d.q90_len
    FROM doc_stats d
    JOIN totals t USING (source)
    JOIN hll USING (source)
    LEFT JOIN heavy USING (source)
    LEFT JOIN dup USING (source)
    ORDER BY source
    """,
)
def p83_health_report(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.profile import corpus_health_report

    docs = load_table(spark, sf_dir, "documents")
    return corpus_health_report(docs, "source", "text", "doc_id").orderBy("source")


# ---------------------------------------------------------------------------
# p84 — 7-day rolling distinct users (operators.sketch.hll_rolling_
# distinct): per-day HLL register tables merged into sliding windows
# by per-(period, reg) MAX — exact by definition (a union register's
# rho is the max over shards) and, unlike p82's Count-Min SUM,
# idempotent under overlapping inputs.  Periods are the same integer
# epoch-day ordinal as p82; the estimate is the shared exact
# alpha·m²/Σ2^(−M_j) + linear-counting form, so the rolling
# cardinality profile is hash-exact cross-engine.
# ---------------------------------------------------------------------------
@q(
    "p84_rolling_distinct",
    f"""
    WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
                       ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
                FROM events),
    r AS (SELECT period, hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM ev),
    daily AS (SELECT period, reg, MAX(rho) AS max_rho FROM r GROUP BY period, reg),
    contrib AS (SELECT period + s.o AS period, reg, max_rho
                FROM daily, generate_series(0, 6) s(o)),
    rolled AS (SELECT period, reg, MAX(max_rho) AS max_rho
               FROM contrib GROUP BY period, reg),
    observed AS (SELECT DISTINCT period FROM daily),
    regs AS (SELECT rolled.* FROM rolled SEMI JOIN observed USING (period)),
    s AS (SELECT period,
                 CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                   AS s_present,
                 COUNT(*) AS n_present
          FROM regs GROUP BY period),
    est AS (SELECT period,
                   CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                   / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                   {_HLL_M} - n_present AS v
            FROM s)
    SELECT period, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                              THEN ({_LC_LIST})[v + 1] ELSE raw END, 3)
             AS est_distinct
    FROM est ORDER BY period
    """,
)
def p84_rolling_distinct(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("period"),
        F.col("user_id").cast("string").alias("user"),
    )
    daily = sketch.hll_register_table_by(ev, "period", F.col("user"))
    return sketch.hll_rolling_distinct(daily, window=7).orderBy("period")


# ---------------------------------------------------------------------------
# p85 — corpus-repeated n-gram profile (operators.dedup.
# repeated_ngram_profile): the Lee-et-al-2022 substring-dedup signal
# at 8-gram granularity — per doc, how many n-gram positions sit on
# grams occurring >= 2 times corpus-wide (across docs or within one).
# No self-join: the aggregated (doc, hash) relation carries both the
# per-doc contribution and, via a window SUM over the hash partition,
# the corpus tally.  The oracle rebuilds the same md5 gram hashes and
# integer counts; the only double is the final ratio of exact ints.
# ---------------------------------------------------------------------------
@q(
    "p85_repeated_ngrams",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest([array_to_string(list_slice(t, i, i + 7), ' ')
                         for i in generate_series(1, len(t) - 7)]) AS gram
          FROM toks),
    h AS (SELECT doc_id, ('0x'||substr(md5(gram),1,15))::BIGINT AS hv FROM g),
    dh AS (SELECT doc_id, hv, COUNT(*) AS c FROM h GROUP BY doc_id, hv),
    t2 AS (SELECT doc_id, c, SUM(c) OVER (PARTITION BY hv) AS total FROM dh),
    agg AS (SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_ngrams,
                   CAST(SUM(CASE WHEN total >= 2 THEN c ELSE 0 END) AS BIGINT)
                     AS n_dup
            FROM t2 GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_dup,
           ROUND(CAST(n_dup AS DOUBLE) / CAST(n_ngrams AS DOUBLE), 6) AS dup_frac
    FROM agg ORDER BY doc_id
    """,
)
def p85_repeated_ngrams(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repeated_ngram_profile(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p86 — histogram merge law, driver-certified (operators.stats.
# hist_merge): per-shard (bucket, n) count tables (documents split by
# doc_id parity) merged by per-bucket SUM, then decorated with edges
# and share/cum_share — the oracle rebuilds the WHOLE-corpus histogram
# directly, certifying merge(counts(A), counts(B)) == counts(A ∪ B)
# bit-for-bit, completing the merge-certification trilogy (p78
# Count-Min SUM, p79 HLL MAX, p86 histogram SUM).  The ratio columns
# are recomputed from merged counts (shares are NOT mergeable).
# ---------------------------------------------------------------------------
@q(
    "p86_hist_merge",
    """
    WITH h AS (SELECT CAST(floor(n_chars / 64.0) AS BIGINT) AS bucket, COUNT(*) AS n
               FROM documents GROUP BY 1)
    SELECT bucket, CAST(bucket * 64.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 64.0 AS DOUBLE) AS hi, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share,
           ROUND(CAST(SUM(n) OVER (ORDER BY bucket) AS DOUBLE) / SUM(n) OVER (), 6)
             AS cum_share
    FROM h ORDER BY bucket
    """,
)
def p86_hist_merge(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import hist_decorate, hist_merge, histogram_counts

    docs = load_table(spark, sf_dir, "documents")
    # != 0 for the odd shard, NOT == 1: Spark's % is signed (-3 % 2 ==
    # -1), so an == 1 test would drop negative odd ids from BOTH shards
    # and silently undercount the merged histogram vs the whole-corpus
    # oracle.  The two filters provably partition the table for any
    # integer id.
    even = histogram_counts(docs.filter(F.col("doc_id") % 2 == 0), "n_chars", 64.0)
    odd = histogram_counts(docs.filter(F.col("doc_id") % 2 != 0), "n_chars", 64.0)
    return hist_decorate(hist_merge(even, odd), 64.0).orderBy("bucket")


# ---------------------------------------------------------------------------
# p87 — span-level decontamination (operators.dedup.
# contamination_spans): WHERE each corpus doc touches the benchmark —
# one row per contaminated 3-gram POSITION (1-based), the actionable
# redaction map p38's doc-pair counts don't give.  Benchmark = docs
# 0-9 (as in p38); the bench gram set broadcasts, the corpus side is
# one positional explode + broadcast semi join, zero corpus shuffle.
# ---------------------------------------------------------------------------
@q(
    "p87_contamination_spans",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g0 AS (SELECT doc_id,
                  unnest([struct_pack(pos := i,
                                      gram := array_to_string(list_slice(t, i, i + 2), ' '))
                          for i in generate_series(1, len(t) - 2)]) AS s
           FROM toks WHERE doc_id >= 10),
    g AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, s.gram AS gram FROM g0),
    bench AS (SELECT DISTINCT unnest([array_to_string(list_slice(t, i, i + 2), ' ')
                                      for i in generate_series(1, len(t) - 2)]) AS gram
              FROM toks WHERE doc_id < 10)
    SELECT g.doc_id, g.pos, g.gram
    FROM g SEMI JOIN bench USING (gram)
    ORDER BY doc_id, pos
    """,
)
def p87_contamination_spans(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return dedup.contamination_spans(corpus, bench, "text", "doc_id").orderBy(
        "doc_id", "pos"
    )


# ---------------------------------------------------------------------------
# p88 — quality-aware dup-cluster representatives (operators.dedup.
# cluster_representatives): per near-dup cluster (p21's Jaccard >= 0.5
# connected components), keep the best p09-quality member (tie-break
# min doc_id) — the curation policy that beats min-id canonicalization
# when duplicates differ in extraction quality.  Spark side is ONE
# two-phase aggregate (MAX over (score, -id) structs — no per-cluster
# window sort); the oracle runs the recursive-CTE closure + the
# quality formula + a ROW_NUMBER pick.
# ---------------------------------------------------------------------------
@q(
    "p88_cluster_representatives",
    rf"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    s AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    m AS (SELECT doc_id,
                 CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                 CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                 nc
          FROM s),
    q2 AS (SELECT doc_id,
                  ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                      + 0.4 * (hits / n_tok)
                      + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS quality
           FROM m),
    j AS (SELECT l.cluster_id, l.doc_id, q2.quality
          FROM labels l JOIN q2 USING (doc_id)),
    best AS (SELECT cluster_id, doc_id, quality,
                    ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY quality DESC, doc_id) AS rn,
                    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
             FROM j)
    SELECT cluster_id, doc_id AS keep_id, quality AS keep_score,
           CAST(n_members AS BIGINT) AS n_members
    FROM best WHERE rn = 1 ORDER BY cluster_id
    """,
)
def p88_cluster_representatives(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id").filter(
        F.col("jaccard") >= 0.5
    )
    labels = dedup.connected_components(pairs)
    scores = docs.select("doc_id", text.quality_score("text").alias("score"))
    return dedup.cluster_representatives(labels, scores).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# p89 — pairwise HLL set overlap (operators.sketch.hll_overlap_by):
# estimated shared users for every event-type pair via
# inclusion-exclusion over register tables — union registers are the
# per-(pair, reg) MAX (exact at the register level), every estimate
# goes through the shared exact form, and negative IE noise clamps to
# 0 identically in both engines, so the whole overlap matrix is
# hash-exact cross-engine.  One corpus scan; pairs × m bounded rows
# after it.
# ---------------------------------------------------------------------------
@q(
    "p89_hll_overlap",
    f"""
    WITH h AS (SELECT event_type AS g,
                      ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
               FROM events),
    r AS (SELECT g, hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM h),
    regs AS (SELECT g, reg, MAX(rho) AS max_rho FROM r GROUP BY g, reg),
    s1 AS (SELECT g,
                  CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                    AS s_present,
                  COUNT(*) AS n_present
           FROM regs GROUP BY g),
    e1raw AS (SELECT g,
                     CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                     / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                     {_HLL_M} - n_present AS v
              FROM s1),
    e1 AS (SELECT g, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                                THEN ({_LC_LIST})[v + 1] ELSE raw END, 3) AS est
           FROM e1raw),
    groups AS (SELECT DISTINCT g FROM regs),
    pairs AS (SELECT x.g AS ga, y.g AS gb FROM groups x JOIN groups y ON x.g < y.g),
    uregs AS (SELECT p.ga, p.gb, r2.reg, MAX(r2.max_rho) AS max_rho
              FROM pairs p JOIN regs r2 ON r2.g = p.ga OR r2.g = p.gb
              GROUP BY p.ga, p.gb, r2.reg),
    us AS (SELECT ga, gb,
                  CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                    AS s_present,
                  COUNT(*) AS n_present
           FROM uregs GROUP BY ga, gb),
    ueraw AS (SELECT ga, gb,
                     CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                     / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                     {_HLL_M} - n_present AS v
              FROM us),
    ue AS (SELECT ga, gb, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                                     THEN ({_LC_LIST})[v + 1] ELSE raw END, 3)
                    AS est_union
           FROM ueraw)
    SELECT ue.ga AS group_a, ue.gb AS group_b,
           a.est AS est_a, b.est AS est_b, ue.est_union,
           ROUND(GREATEST(0.0, a.est + b.est - ue.est_union), 3) AS est_overlap
    FROM ue JOIN e1 a ON a.g = ue.ga JOIN e1 b ON b.g = ue.gb
    ORDER BY group_a, group_b
    """,
)
def p89_hll_overlap(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    return sketch.hll_overlap_by(
        ev, "event_type", F.col("user_id").cast("string")
    ).orderBy("group_a", "group_b")


# ---------------------------------------------------------------------------
# p90 — prefix-filtered threshold similarity join (operators.dedup.
# jaccard_prefix_pairs): all pairs with 3-gram Jaccard >= 0.5 via
# PPJoin-style prefix filtering — candidates come only from each doc's
# rarest n - ceil(t·n) + 1 shingles, then exact array-intersect
# verification.  The oracle computes the SAME answer from the FULL
# inverted index (no prefix), so the driver hash certifies the prefix
# filter's losslessness cross-engine, not just cross-formulation.
# ---------------------------------------------------------------------------
@q(
    "p90_prefix_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
    FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
    WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def p90_prefix_jaccard(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(
        dedup.jaccard_prefix_pairs(docs, "text", "doc_id", threshold=0.5),
        "doc_a", "doc_b",
    )


# ---------------------------------------------------------------------------
# p91 — robust per-language outliers via modified z-score (operators.
# stats.mad_outliers): 0.6745·(x − median)/MAD with the Iglewicz-
# Hoaglin 3.5 flag — the masking-proof twin of p61's moment-based
# z-score (law-tested: planted extremes that inflate stddev into
# silence still score in the hundreds here).  Exact percentiles both
# engines (quantile_cont ≡ F.percentile, the p25 contract); MAD = 0
# groups emit nothing.  Flag threshold 1.5 here so the driver row set
# is non-empty on the well-behaved synthetic lengths.
# ---------------------------------------------------------------------------
@q(
    "p91_mad_outliers",
    """
    WITH med AS (SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
                 FROM documents GROUP BY lang),
    dev AS (SELECT d.lang, doc_id, n_chars,
                   CAST(n_chars AS DOUBLE) - med AS delta,
                   ABS(CAST(n_chars AS DOUBLE) - med) AS ad
            FROM documents d JOIN med USING (lang)),
    mad AS (SELECT lang, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY lang)
    SELECT dev.lang, doc_id, n_chars,
           ROUND(0.6745 * delta / mad, 6) AS mscore
    FROM dev JOIN mad USING (lang)
    WHERE mad > 0 AND ABS(ROUND(0.6745 * delta / mad, 6)) >= 1.5
    ORDER BY lang, doc_id
    """,
)
def p91_mad_outliers(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import mad_outliers

    docs = load_table(spark, sf_dir, "documents")
    # 1.5 (not the 3.5 Iglewicz-Hoaglin flag) because the synthetic
    # lengths are well-behaved: the entry must carry rows for the
    # driver hash to be a non-trivial check (18 at sf0.01)
    return mad_outliers(docs, "n_chars", ["lang"], "doc_id", threshold=1.5).orderBy(
        "lang", "doc_id"
    )


# ---------------------------------------------------------------------------
# p92 — maximal redaction intervals (operators.dedup.
# contamination_intervals): p87's per-position contamination rows
# merged into the [start_pos, end_pos] token spans a redaction pass
# actually executes — island detection over positions (two positions
# share an interval when the later starts <= n tokens after the
# earlier, i.e. their covered [pos, pos+n-1] ranges overlap or touch).
# Same benchmark split as p87/p38 (docs 0-9); the oracle replays the
# identical lag/running-sum island rewrite on the same span set.
# ---------------------------------------------------------------------------
@q(
    "p92_contamination_intervals",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g0 AS (SELECT doc_id,
                  unnest([struct_pack(pos := i,
                                      gram := array_to_string(list_slice(t, i, i + 2), ' '))
                          for i in generate_series(1, len(t) - 2)]) AS s
           FROM toks WHERE doc_id >= 10),
    g AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, s.gram AS gram FROM g0),
    bench AS (SELECT DISTINCT unnest([array_to_string(list_slice(t, i, i + 2), ' ')
                                      for i in generate_series(1, len(t) - 2)]) AS gram
              FROM toks WHERE doc_id < 10),
    spans AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN bench USING (gram)),
    brk AS (SELECT doc_id, pos,
                   CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 3
                        THEN 1 ELSE 0 END AS b
            FROM spans),
    isl AS (SELECT doc_id, pos,
                   SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
            FROM brk)
    SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_pos,
           CAST(MAX(pos) + 2 AS INTEGER) AS end_pos,
           COUNT(*) AS n_positions
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, start_pos
    """,
)
def p92_contamination_intervals(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    return dedup.contamination_intervals(corpus, bench, "text", "doc_id").orderBy(
        "doc_id", "start_pos"
    )


# ---------------------------------------------------------------------------
# p93 — Count-Min inner-product source overlap (operators.sketch.
# cm_inner_product_by): pairwise token-DISTRIBUTION mass shared
# between sources via the classic CM join-size estimator (min over
# hash rows of the cell-wise product sum) — the multiset complement
# to p89's HLL set overlap.  The oracle rebuilds the identical
# per-source cell grid from exact counts (CM linearity), replays the
# same product/MIN with the nr=depth empty-row rule, and completes
# the pair matrix, so the approximate estimator is hash-exact
# cross-engine.
# ---------------------------------------------------------------------------
@q(
    "p93_cm_source_overlap",
    rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tk FROM documents),
    exact AS (SELECT source, tk, COUNT(*) AS c FROM tok GROUP BY source, tk),
    cells AS (SELECT source, g.r,
                     ('0x'||substr(md5(CAST(g.r AS VARCHAR)||':'||tk),1,15))::BIGINT
                       % 1024 AS bucket,
                     c
              FROM exact, generate_series(0, 3) g(r)),
    grid AS (SELECT source, r, bucket, CAST(SUM(c) AS BIGINT) AS cnt
             FROM cells GROUP BY source, r, bucket),
    prods AS (SELECT a.source AS ga, b.source AS gb, a.r,
                     SUM(a.cnt * b.cnt) AS ip
              FROM grid a JOIN grid b
                ON a.r = b.r AND a.bucket = b.bucket AND a.source < b.source
              GROUP BY a.source, b.source, a.r),
    per AS (SELECT ga, gb, MIN(ip) AS mn, COUNT(*) AS nr FROM prods GROUP BY ga, gb),
    srcs AS (SELECT DISTINCT source FROM exact),
    pairs AS (SELECT x.source AS ga, y.source AS gb
              FROM srcs x JOIN srcs y ON x.source < y.source)
    SELECT pairs.ga AS group_a, pairs.gb AS group_b,
           CAST(COALESCE(CASE WHEN nr = 4 THEN mn ELSE 0 END, 0) AS BIGINT)
             AS est_inner
    FROM pairs LEFT JOIN per USING (ga, gb)
    ORDER BY group_a, group_b
    """,
)
def p93_cm_source_overlap(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    grid = sketch.count_min_sketch_by(docs, "source", "text")
    return sketch.cm_inner_product_by(grid, "source").orderBy("group_a", "group_b")


# ---------------------------------------------------------------------------
# p94 — calendar-densified rolling distinct (operators.sketch.
# hll_rolling_distinct with densify=True): every fifth epoch-day is
# REMOVED from the events feed to plant real calendar gaps, then the
# 3-day rolling distinct-user estimate is asked for EVERY period in
# the observed [min, max] range — a gap day still answers with its
# trailing window (the question p82/p84's observed-period contract
# documents as out of scope).  The oracle replays the same gap
# filter, rolling fan-out, and min..max densification.
# ---------------------------------------------------------------------------
@q(
    "p94_rolling_densified",
    f"""
    WITH ev0 AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
                        user_id
                 FROM events),
    ev AS (SELECT period,
                  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
           FROM ev0 WHERE period % 5 <> 0),
    r AS (SELECT period, hv % {_HLL_M} AS reg,
                 CASE WHEN (hv >> 6) = 0 THEN 40
                      ELSE LEAST(bit_count(((hv >> 6) & -(hv >> 6)) - 1) + 1, 40)
                 END AS rho
          FROM ev),
    daily AS (SELECT period, reg, MAX(rho) AS max_rho FROM r GROUP BY period, reg),
    contrib AS (SELECT period + s.o AS period, reg, max_rho
                FROM daily, generate_series(0, 2) s(o)),
    rolled AS (SELECT period, reg, MAX(max_rho) AS max_rho
               FROM contrib GROUP BY period, reg),
    bounds AS (SELECT MIN(period) AS lo, MAX(period) AS hi FROM daily),
    keep AS (SELECT unnest(generate_series(lo, hi)) AS period FROM bounds),
    regs AS (SELECT rolled.* FROM rolled SEMI JOIN keep USING (period)),
    s AS (SELECT period,
                 CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (40 - max_rho)), 0) AS BIGINT)
                   AS s_present,
                 COUNT(*) AS n_present
          FROM regs GROUP BY period),
    est AS (SELECT period,
                   CAST({_HLL_NUM} AS DOUBLE) * CAST({float(_POW40)!r} AS DOUBLE)
                   / CAST(s_present + ({_HLL_M} - n_present) * {_POW40} AS DOUBLE) AS raw,
                   {_HLL_M} - n_present AS v
            FROM s)
    SELECT period, ROUND(CASE WHEN v > 0 AND raw <= {2.5 * _HLL_M!r}
                              THEN ({_LC_LIST})[v + 1] ELSE raw END, 3)
             AS est_distinct
    FROM est ORDER BY period
    """,
)
def p94_rolling_densified(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators import sketch

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("period"),
            F.col("user_id").cast("string").alias("user"),
        )
        # plant real calendar gaps: every fifth epoch-day vanishes
        # (periods are positive epoch-days; the oracle applies the
        # identical filter)
        .filter(F.col("period") % 5 != 0)
    )
    daily = sketch.hll_register_table_by(ev, "period", F.col("user"))
    return sketch.hll_rolling_distinct(daily, window=3, densify=True).orderBy(
        "period"
    )


# ---------------------------------------------------------------------------
# p95 — n-gram novelty profile (operators.dedup.ngram_novelty_profile):
# per doc in ingestion order (doc_id), the share of its 8-gram
# positions on grams never seen in ANY earlier doc — the complement of
# p85's repeated-gram share and the growth-curve signal a corpus
# expansion asks before paying to train on a new shard.  Same md5 gram
# hashing; the first-doc tally is a two-phase MIN joined back (no
# window over the hash).  Oracle replays the identical min-doc rule.
# ---------------------------------------------------------------------------
@q(
    "p95_ngram_novelty",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest([array_to_string(list_slice(t, i, i + 7), ' ')
                         for i in generate_series(1, len(t) - 7)]) AS gram
          FROM toks),
    dh AS (SELECT doc_id, ('0x'||substr(md5(gram),1,15))::BIGINT AS hv,
                  COUNT(*) AS c
           FROM g GROUP BY doc_id, hv),
    fs AS (SELECT hv, MIN(doc_id) AS first_doc FROM dh GROUP BY hv),
    agg AS (SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_ngrams,
                   CAST(SUM(CASE WHEN doc_id = first_doc THEN c ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM dh JOIN fs USING (hv) GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_novel,
           ROUND(CAST(n_novel AS DOUBLE) / CAST(n_ngrams AS DOUBLE), 6)
             AS novelty_frac
    FROM agg ORDER BY doc_id
    """,
)
def p95_ngram_novelty(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_novelty_profile(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p96 — source lexical cosine matrix (operators.relevance.
# group_lexical_cosine): pairwise cosine between sources' exact
# token-count vectors — the mixture diagnostic completing the
# source-similarity triptych (p89 distinct-set overlap, p93 CM
# distribution mass, p96 exact angular similarity).  Dot and both
# squared norms are exact int64 sums; the only floating point is the
# final sqrt/multiply/divide chain, IEEE-identical cross-engine, so
# the 6dp matrix is hash-exact.
# ---------------------------------------------------------------------------
@q(
    "p96_source_cosine",
    rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tk FROM documents),
    cnt AS (SELECT source, tk, COUNT(*) AS c FROM tok GROUP BY source, tk),
    nrm AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2
            FROM cnt GROUP BY source),
    dots AS (SELECT a.source AS ga, b.source AS gb,
                    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
             FROM cnt a JOIN cnt b ON a.tk = b.tk AND a.source < b.source
             GROUP BY a.source, b.source),
    srcs AS (SELECT DISTINCT source FROM cnt),
    pairs AS (SELECT x.source AS ga, y.source AS gb
              FROM srcs x JOIN srcs y ON x.source < y.source)
    SELECT pairs.ga AS group_a, pairs.gb AS group_b,
           ROUND(CAST(COALESCE(dot, 0) AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
             AS cos_sim
    FROM pairs
    LEFT JOIN dots USING (ga, gb)
    JOIN nrm na ON pairs.ga = na.source
    JOIN nrm nb ON pairs.gb = nb.source
    ORDER BY group_a, group_b
    """,
)
def p96_source_cosine(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import group_lexical_cosine

    docs = load_table(spark, sf_dir, "documents")
    return group_lexical_cosine(docs, "source", "text").orderBy(
        "group_a", "group_b"
    )


# ---------------------------------------------------------------------------
# p97 — longest duplicated span per doc (operators.dedup.max_dup_span):
# positions on corpus-repeated 8-grams merged into maximal islands
# (the p92 interval rule), each doc reporting its longest island's
# token length + island count — the span-granular readout of p85's
# dup_frac and the unit substring dedup actually cuts.  Oracle replays
# the identical gram hashing, >= 2 tally, and island rewrite.
# ---------------------------------------------------------------------------
@q(
    "p97_max_dup_span",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest([struct_pack(pos := i,
                                     gram := array_to_string(list_slice(t, i, i + 7), ' '))
                         for i in generate_series(1, len(t) - 7)]) AS s
          FROM toks),
    p AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos,
                 ('0x'||substr(md5(s.gram),1,15))::BIGINT AS hv FROM g),
    tot AS (SELECT hv, COUNT(*) AS total FROM p GROUP BY hv),
    rep AS (SELECT doc_id, pos FROM p JOIN tot USING (hv) WHERE total >= 2),
    brk AS (SELECT doc_id, pos,
                   CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                        THEN 1 ELSE 0 END AS b
            FROM rep),
    isl AS (SELECT doc_id, pos,
                   SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
            FROM brk),
    sp AS (SELECT doc_id, island, MAX(pos) + 7 - MIN(pos) + 1 AS len
           FROM isl GROUP BY doc_id, island)
    SELECT doc_id, CAST(MAX(len) AS INTEGER) AS max_dup_span,
           COUNT(*) AS n_dup_spans
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
)
def p97_max_dup_span(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.max_dup_span(docs, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p98 — per-group ECDF (operators.stats.group_ecdf): the percentile
# rank of every distinct document length within its language, WITHOUT
# a per-group row sort — rows collapse into two-phase (lang, n_chars)
# counts and the cumulative SUM runs over the domain-bounded
# distinct-value relation (percent_rank-over-rows would sort a whole
# language on one task at 100 TB).  Oracle replays the identical
# aggregate-then-cumulate rewrite.
# ---------------------------------------------------------------------------
@q(
    "p98_length_ecdf",
    """
    WITH c AS (SELECT lang, n_chars, COUNT(*) AS n
               FROM documents GROUP BY lang, n_chars),
    cum AS (SELECT lang, n_chars, n,
                   SUM(n) OVER (PARTITION BY lang ORDER BY n_chars
                                ROWS UNBOUNDED PRECEDING) AS cum_n,
                   SUM(n) OVER (PARTITION BY lang) AS total
            FROM c)
    SELECT lang, n_chars, n, CAST(cum_n AS BIGINT) AS cum_n,
           ROUND(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS ecdf
    FROM cum ORDER BY lang, n_chars
    """,
)
def p98_length_ecdf(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import group_ecdf

    docs = load_table(spark, sf_dir, "documents")
    return group_ecdf(docs, "n_chars", ["lang"]).orderBy("lang", "n_chars")


# ---------------------------------------------------------------------------
# p99 — daily volume anomalies (composition: per-type daily counts →
# operators.stats.mad_outliers): days whose event volume deviates from
# THEIR event type's median by >= 2 modified z-scores — the pipeline
# health monitor ("ingest dropped 40% on day 17") built entirely from
# existing mergeable pieces; robust scoring matters precisely because
# an outage day would inflate a stddev-based z.  Oracle replays the
# count + median/MAD/threshold math (p91's pattern on the counts CTE).
# ---------------------------------------------------------------------------
@q(
    "p99_volume_anomalies",
    """
    WITH cnt AS (SELECT event_type,
                        epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period,
                        COUNT(*) AS n
                 FROM events GROUP BY event_type, period),
    med AS (SELECT event_type, quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
            FROM cnt GROUP BY event_type),
    dev AS (SELECT cnt.event_type, period, n,
                   CAST(n AS DOUBLE) - med AS delta,
                   ABS(CAST(n AS DOUBLE) - med) AS ad
            FROM cnt JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT dev.event_type, period, n,
           ROUND(0.6745 * delta / mad, 6) AS mscore
    FROM dev JOIN mad USING (event_type)
    WHERE mad > 0 AND ABS(ROUND(0.6745 * delta / mad, 6)) >= 2.0
    ORDER BY event_type, period
    """,
)
def p99_volume_anomalies(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    cnt = ev.select(
        F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").alias("period"),
    ).groupBy("event_type", "period").agg(F.count(F.lit(1)).alias("n"))
    return mad_outliers(cnt, "n", ["event_type"], "period", threshold=2.0).orderBy(
        "event_type", "period"
    )


# ---------------------------------------------------------------------------
# p100 — reproducible training order (operators.ids.training_order):
# the seeded global corpus shuffle a training run streams in — rank of
# the md5 shuffle key, ties by id.  ORDER BY rand() is retry-
# nondeterministic and row_number-over-it is a one-task window; here
# the key is a pure function of (seed, id) and the rank comes from
# hash-domain fixed buckets (uniform BY CONSTRUCTION — no min/max
# pre-pass) + bounded driver prefix sums + a bucket-partitioned
# window.  Oracle is the single-window ROW_NUMBER over the identical
# md5 key.
# ---------------------------------------------------------------------------
@q(
    "p100_training_order",
    """
    SELECT doc_id,
           ('0x'||substr(md5('17_'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
             AS shuffle_key,
           CAST(ROW_NUMBER() OVER (
                  ORDER BY ('0x'||substr(md5('17_'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT,
                           doc_id) AS BIGINT) AS position
    FROM documents ORDER BY position
    """,
)
def p100_training_order(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.ids import training_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return training_order(spark, docs, "doc_id", seed=17).orderBy("position")


# p101's weight grid: weight 1 + i%4 per source (integer stride
# scheduling needs an integer grid; lcm = 12).
_MIX_WEIGHTS = {f"src{i}": 1 + i % 4 for i in range(20)}


# ---------------------------------------------------------------------------
# p101 — weighted mix schedule (operators.sampling.mix_schedule):
# stride-scheduling interleave (Waldspurger & Weihl) of the 20 sources
# at integer weights 1..4 — sched_key = src_rank * (lcm/weight), so
# sorting by (sched_key, source, src_rank) yields a training stream
# whose every prefix carries each source in proportion to its weight.
# Intra-source order is the p100 seeded shuffle (grouped variant), so
# the whole schedule is a pure function of (ids, seed, weights).
# Oracle replays the identical per-source ROW_NUMBER + stride product.
# ---------------------------------------------------------------------------
@q(
    "p101_mix_schedule",
    f"""
    WITH r AS (SELECT doc_id, source,
               ('0x'||substr(md5('19_'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS sk
               FROM documents),
    rk AS (SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY sk, doc_id) AS src_rank
           FROM r),
    w AS (SELECT * FROM (VALUES {", ".join(f"('src{i}', {12 // (1 + i % 4)})" for i in range(20))})
          AS t(source, stride))
    SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
           CAST(src_rank * stride AS BIGINT) AS sched_key
    FROM rk JOIN w USING (source)
    ORDER BY sched_key, source, src_rank
    """,
)
def p101_mix_schedule(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import mix_schedule

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mix_schedule(
        spark, docs, "doc_id", "source", _MIX_WEIGHTS, seed=19
    ).orderBy("sched_key", "source", "src_rank")


# ---------------------------------------------------------------------------
# p102 — per-source dedup report (operators.dedup.dedup_report): the
# end-to-end curation dashboard — exact md5 dedup (min-id keep), then
# Jaccard >= 0.5 connected components on the survivors (p21's CC, p88's
# pair rule) with min-id cluster representatives — tallied per source:
# (n_docs, n_exact_kept, n_final_kept, retention).  Docs count against
# their OWN source even when their duplicate lives elsewhere, so
# cross-source duplication shows as asymmetric retention.  Oracle
# replays exact-keep + the recursive-CTE closure + the same tallies.
# ---------------------------------------------------------------------------
@q(
    "p102_dedup_report",
    rf"""
    WITH RECURSIVE
    ex AS (SELECT doc_id, source, text, md5(text) AS h FROM documents),
    keep AS (SELECT h, MIN(doc_id) AS kid FROM ex GROUP BY h),
    surv AS (SELECT doc_id, source, text
             FROM ex JOIN keep ON ex.h = keep.h AND ex.doc_id = keep.kid),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM surv),
    sh AS (SELECT DISTINCT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in generate_series(1, len(t)-2)]) AS s
           FROM toks),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    pairs AS (SELECT doc_a, doc_b
              FROM inter JOIN cnt ca ON doc_a = ca.doc_id
                         JOIN cnt cb ON doc_b = cb.doc_id
              WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    lab AS (SELECT s.doc_id, s.source, COALESCE(l.cluster_id, s.doc_id) AS cluster
            FROM surv s LEFT JOIN labels l USING (doc_id)),
    pe AS (SELECT source, COUNT(*) AS n_exact_kept,
                  SUM(CASE WHEN cluster = doc_id THEN 1 ELSE 0 END) AS n_final_kept
           FROM lab GROUP BY source),
    pa AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT pa.source, n_docs,
           CAST(COALESCE(n_exact_kept, 0) AS BIGINT) AS n_exact_kept,
           CAST(COALESCE(n_final_kept, 0) AS BIGINT) AS n_final_kept,
           ROUND(CAST(COALESCE(n_final_kept, 0) AS DOUBLE) / n_docs, 6) AS retention
    FROM pa LEFT JOIN pe USING (source) ORDER BY source
    """,
)
def p102_dedup_report(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(
        dedup.dedup_report(docs, "text", "doc_id", "source", threshold=0.5), "source"
    )


# ---------------------------------------------------------------------------
# p103 — lexical diversity profile (operators.text.distinct_ngram_stats):
# distinct-1/-2/-3 per source (Li et al. 2016) — distinct n-grams over
# total n-gram positions; n=1 is the type-token ratio.  The template/
# mode-collapse detector a mixture audit runs per source.  Two-phase
# (source, n, gram) count then a bounded (source, n) rollup — no
# COUNT(DISTINCT) expand, no window.  Oracle counts the same gram
# relations directly.
# ---------------------------------------------------------------------------
@q(
    "p103_distinct_ngrams",
    rf"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    g AS (
      SELECT source, 1 AS n, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT source, 2, unnest([t[i]||' '||t[i+1]
                                for i in generate_series(1, len(t)-1)]) FROM toks
      UNION ALL
      SELECT source, 3, unnest([t[i]||' '||t[i+1]||' '||t[i+2]
                                for i in generate_series(1, len(t)-2)]) FROM toks)
    SELECT source, n,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6)
             AS distinct_ratio
    FROM g GROUP BY source, n ORDER BY source, n
    """,
)
def p103_distinct_ngrams(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.distinct_ngram_stats(docs, "text", "source").orderBy("source", "n")


# ---------------------------------------------------------------------------
# p104 — source JSD matrix (operators.relevance.group_js_divergence):
# pairwise Jensen-Shannon divergence between sources' unigram
# DISTRIBUTIONS — completes the source-similarity family with the
# probability-space answer (p96 asks "same words?", p104 asks "same
# frequencies?"; symmetric, bounded [0,1] in log2, =1 on disjoint
# vocab).  Only the vocabulary intersection joins: the one-sided
# tails fold into 1 - Σ∩p - Σ∩q exactly.  Oracle replays the same
# intersection-only identity.
# ---------------------------------------------------------------------------
@q(
    "p104_source_jsd",
    rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tk FROM documents),
    cnt AS (SELECT source, tk, COUNT(*) AS c FROM tok GROUP BY source, tk),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    j AS (SELECT a.source AS ga, b.source AS gb,
                 CAST(a.c AS DOUBLE) / na.n AS p,
                 CAST(b.c AS DOUBLE) / nb.n AS q
          FROM cnt a JOIN cnt b ON a.tk = b.tk AND a.source < b.source
          JOIN tot na ON na.source = a.source
          JOIN tot nb ON nb.source = b.source),
    inter AS (SELECT ga, gb,
                     SUM(p * log2(2.0 * p / (p + q))
                         + q * log2(2.0 * q / (p + q))) AS s,
                     SUM(p) AS pa, SUM(q) AS qb
              FROM j GROUP BY ga, gb),
    srcs AS (SELECT DISTINCT source FROM cnt),
    pairs AS (SELECT x.source AS ga, y.source AS gb
              FROM srcs x JOIN srcs y ON x.source < y.source)
    SELECT ga AS group_a, gb AS group_b,
           ROUND(0.5 * COALESCE(s, 0) + 1
                 - 0.5 * (COALESCE(pa, 0) + COALESCE(qb, 0)), 6) AS jsd
    FROM pairs LEFT JOIN inter USING (ga, gb) ORDER BY group_a, group_b
    """,
)
def p104_source_jsd(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import group_js_divergence

    docs = load_table(spark, sf_dir, "documents")
    return group_js_divergence(docs, "source", "text").orderBy("group_a", "group_b")


# ---------------------------------------------------------------------------
# p105 — curriculum order (operators.ids.curriculum_order): rank the
# corpus by difficulty (n_chars ASC — easy first), cut into 4
# contiguous stages (stage = (rank-1)·k DIV n + 1), seeded-shuffle
# WITHIN each stage — the curriculum-learning schedule as a pure
# function of (ids, scores, seed).  The rank reuses the p43/p53
# bucket-parallel composite-key pattern and the shuffle is p100's
# hash-bucketed window; position offsets are exact int64
# ceil((stage-1)·n/k).  Oracle replays rank → stage arithmetic →
# one global ROW_NUMBER over (stage, md5 key, id).
# ---------------------------------------------------------------------------
@q(
    "p105_curriculum_order",
    """
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    r AS (SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk
          FROM documents),
    st AS (SELECT doc_id, CAST((rk - 1) * 4 // n + 1 AS INT) AS stage,
                  ('0x'||substr(md5('23_'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS sk
           FROM r CROSS JOIN nn)
    SELECT doc_id, stage,
           CAST(ROW_NUMBER() OVER (ORDER BY stage, sk, doc_id) AS BIGINT) AS position
    FROM st ORDER BY position
    """,
)
def p105_curriculum_order(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.ids import curriculum_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_order(
        spark, docs, "doc_id", "n_chars", n_stages=4, seed=23
    ).orderBy("position")


# ---------------------------------------------------------------------------
# p106 — duplicate-cluster size profile (operators.dedup.
# dup_cluster_profile): near-dup pairs (Jaccard >= 0.5) -> connected
# components -> exact cluster-size histogram (singletons at size 1) —
# the structural duplication readout that distinguishes "two giant
# template clusters" from "scattered pair overlap".  Oracle: p21's
# recursive-CTE closure + the same size tallies.
# ---------------------------------------------------------------------------
@q(
    "p106_dup_cluster_profile",
    f"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    pairs AS (SELECT doc_a, doc_b
              FROM inter JOIN cnt ca ON doc_a = ca.doc_id
                         JOIN cnt cb ON doc_b = cb.doc_id
              WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    lab AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster
            FROM documents d LEFT JOIN labels l USING (doc_id)),
    sizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM lab GROUP BY cluster),
    tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(cluster_size) AS DOUBLE) / tot.n, 6) AS doc_frac
    FROM sizes CROSS JOIN tot GROUP BY cluster_size, tot.n ORDER BY cluster_size
    """,
)
def p106_dup_cluster_profile(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_cluster_profile(docs, "text", "doc_id", threshold=0.5).orderBy(
        "cluster_size"
    )


# ---------------------------------------------------------------------------
# p107 — deterministic per-group row cap (operators.sampling.
# cap_per_group): at most 5 docs per source, longest-first with doc_id
# tie-break — the "at most N pages per host, best first" web-corpus
# cap.  The rank-then-filter window is WindowGroupLimit-eligible
# (plan-pinned in test_plans), so each task keeps a 5-row per-group
# heap BEFORE the exchange; a hot source shuffles <= 5 rows per
# upstream task, never its full row set.
# ---------------------------------------------------------------------------
@q(
    "p107_cap_per_group",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) t
    WHERE rn <= 5 ORDER BY source, doc_id
    """,
)
def p107_cap_per_group(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return cap_per_group(
        docs, ["source"], 5, [F.desc("n_chars"), "doc_id"]
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# p108 — mergeable histogram-MAD outliers (operators.stats.
# mad_outliers_approx): p91's exact per-group percentile pair swapped
# for two fixed-width histogram medians (the histogram_quantiles
# type-1 / upper-bin-edge rule) so both passes are
# associative-commutative integer bin counts — run-stable, mergeable
# across shards, nothing downstream of an aggregate sees corpus-sized
# data.  Oracle: a straight DuckDB replay of the same binned rule
# (bins over [0, 600] x 48 for values, [0, 600] x 48 for deviations;
# medians are exact multiples of the 12.5 bin width in both engines,
# so the score arithmetic is identical, not epsilon-tolerant).
# Threshold 1.25 (vs p91's 1.5): the bin-edge MAD estimate is an
# UPPER edge, deflating scores by up to one bin width per pass.
# ---------------------------------------------------------------------------
@q(
    "p108_mad_outliers_approx",
    """
    WITH v AS (SELECT lang, doc_id, n_chars, CAST(n_chars AS DOUBLE) AS v
               FROM documents WHERE n_chars IS NOT NULL),
    b1 AS (SELECT lang, LEAST(GREATEST(CAST(FLOOR(v / 12.5) AS BIGINT), 0), 47)
                    AS bin, COUNT(*) AS c
           FROM v GROUP BY 1, 2),
    cum1 AS (SELECT lang, bin,
                    SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                    SUM(c) OVER (PARTITION BY lang) AS n FROM b1),
    m1 AS (SELECT lang, 0.0 + (MIN(bin) + 1) * 12.5 AS med
           FROM cum1 WHERE cum >= CEIL(0.5 * n) GROUP BY lang),
    d AS (SELECT v.lang, doc_id, n_chars, v.v - m1.med AS delta,
                 ABS(v.v - m1.med) AS ad
          FROM v JOIN m1 USING (lang)),
    b2 AS (SELECT lang, LEAST(GREATEST(CAST(FLOOR(ad / 12.5) AS BIGINT), 0), 47)
                    AS bin, COUNT(*) AS c
           FROM d GROUP BY 1, 2),
    cum2 AS (SELECT lang, bin,
                    SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                    SUM(c) OVER (PARTITION BY lang) AS n FROM b2),
    m2 AS (SELECT lang, 0.0 + (MIN(bin) + 1) * 12.5 AS mad
           FROM cum2 WHERE cum >= CEIL(0.5 * n) GROUP BY lang)
    SELECT d.lang, doc_id, n_chars, ROUND(0.6745 * delta / mad, 6) AS mscore
    FROM d JOIN m2 USING (lang)
    WHERE ABS(ROUND(0.6745 * delta / mad, 6)) >= 1.25
    ORDER BY lang, doc_id
    """,
)
def p108_mad_outliers_approx(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import mad_outliers_approx

    docs = load_table(spark, sf_dir, "documents")
    return mad_outliers_approx(
        docs, "n_chars", ["lang"], "doc_id",
        lo=0.0, hi=600.0, n_bins=48, threshold=1.25,
    ).orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# p109 — SemDeDup (operators.dedup.semdedup, Abbas et al. 2023):
# k-means-blocked exact-cosine embedding dedup — the convergence-
# terminated Lloyd fit (p77's engine, SAME pinned-stop-round trick:
# tol=0.3 stops at exactly 2 rounds on the catalog embeddings at
# every SF, asserted loudly), deterministic cell assignment, then
# drop the higher id of every WITHIN-CELL pair with cosine >= 0.35
# (p14's threshold; the synthetic embeddings have no true dups, so
# the tail of the distribution exercises the pipeline).  Oracle:
# p77's unrolled Lloyd rounds + p26's assignment + p14's pair rule,
# composed.  Drops are SOUND by construction (every emitted pair is
# exactly verified; cross-cell pairs are the paper's approximation).
# ---------------------------------------------------------------------------
_P109_THRESHOLD = 0.35


def _p109_oracle(rounds: int = _P77_STOP_ROUND) -> str:
    head = """
    WITH cents0 AS (
      SELECT CAST(ce AS DOUBLE[]) AS ce,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0)"""
    body = "".join(
        _p77_lloyd_round(i, f"cents{i - 1}") for i in range(1, rounds + 1)
    )
    tail = f""",
    distF AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents{rounds} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    asgF AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM distF) t WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos
      FROM embeddings a, asgF sa, embeddings b, asgF sb, range(1, 65) r(i)
      WHERE sa.vec_id = a.vec_id AND sb.vec_id = b.vec_id
        AND sa.cell = sb.cell AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id)
    SELECT vb AS drop_id, MIN(va) AS keep_id
    FROM pairs WHERE cos >= {_P109_THRESHOLD}
    GROUP BY vb ORDER BY drop_id"""
    return head + body + tail


@q("p109_semdedup", _p109_oracle())
def p109_semdedup(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    info: dict = {}
    out = _sorted(
        dedup.semdedup(
            emb, "embedding", "vec_id",
            k=8, threshold=_P109_THRESHOLD, tol=0.3, max_iters=10, info=info,
        ),
        "drop_id",
    )
    assert info["iterations"] == _P77_STOP_ROUND, (
        f"p109: Lloyd converged in {info['iterations']} rounds, oracle "
        f"unrolls {_P77_STOP_ROUND} (drifts {info.get('drifts')})"
    )
    return out


# ---------------------------------------------------------------------------
# p110/p111 — full BPE trainer + encoder (operators.text.bpe_learn /
# bpe_apply, Sennrich et al. 2016).  The catalog pair runs on a
# letters-only projection (lower + strip non-[a-z ]), which makes the
# oracle exactly replayable in SQL: the trainer's merge loop unrolls
# as chained CTE stages over the capped word-frequency table — each
# symbol sequence serialized as '<s1><s2>...' so a single
# left-to-right non-overlapping replace('<a><b>' -> '<ab>') IS
# _merge_pair (delimiters make cross-symbol false matches
# impossible), pair counts come from regexp re-splitting, and the
# argmax tie-break (cnt DESC, left, right) matches the trainer's
# min((-cnt, pair)).  The encoder oracle reuses the learned b{i}
# stages and applies the same replaces per document ('#' between
# words so no merge crosses a word boundary).  Exact — the whole
# pipeline is integer counts + string rewrites, no FP anywhere.
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 8
_BPE_CLEAN_SQL = "regexp_replace(lower(text), '[^a-z ]+', ' ', 'g')"


def _bpe_learn_cte(n_merges: int, w0_parts: str | None = None) -> str:
    """Shared trainer CTE stages: w0 (capped word-freq table), v0..vN
    (symbolized vocab per merge round), c{i}/b{i} (pair counts + the
    round's winning merge).  ``w0_parts`` overrides the word-frequency
    CTEs (must end by defining ``w0(w, freq)``) — the balanced trainer
    (p136) swaps in group-reweighted counts here while every merge
    stage stays byte-identical to the certified p110 replay."""
    if w0_parts is None:
        w0_parts = f"""w0 AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+')) AS w
        FROM documents)
      GROUP BY w ORDER BY freq DESC, w LIMIT 50000)"""
    parts = [
        f"""{w0_parts},
    v0 AS MATERIALIZED (
      SELECT '<' || array_to_string(regexp_extract_all(w, '.'), '><') || '>' AS s,
             freq FROM w0)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""c{i} AS MATERIALIZED (
      SELECT u.pair[1] AS l, u.pair[2] AS r, SUM(t.freq) AS cnt
      FROM (SELECT freq, regexp_extract_all(s, '<([a-z]+)>', 1) AS sy FROM v{i}) t,
           UNNEST([[t.sy[k], t.sy[k+1]]
                   for k in generate_series(1, len(t.sy)-1)]) AS u(pair)
      GROUP BY 1, 2),
    b{i} AS MATERIALIZED (
      SELECT {i} AS rank, l, r, cnt FROM c{i} ORDER BY cnt DESC, l, r LIMIT 1),
    v{i + 1} AS MATERIALIZED (
      SELECT replace(s, '<'||(SELECT l FROM b{i})||'><'||(SELECT r FROM b{i})||'>',
                        '<'||(SELECT l FROM b{i})||(SELECT r FROM b{i})||'>') AS s,
             freq FROM v{i})"""
        )
    return ",\n    ".join(parts)


def _bpe_apply_cte(n_merges: int) -> str:
    """Encoder CTE stages over the learned b{i} merges: e0 symbolizes
    each document ('#' separates words), e{i+1} applies merge i."""
    parts = [
        f"""e0 AS MATERIALIZED (
      SELECT doc_id, array_to_string(
        ['<' || array_to_string(regexp_extract_all(w, '.'), '><') || '>'
         for w in regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+')], '#') AS s
      FROM documents)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""e{i + 1} AS MATERIALIZED (
      SELECT doc_id,
             replace(s, '<'||(SELECT l FROM b{i})||'><'||(SELECT r FROM b{i})||'>',
                        '<'||(SELECT l FROM b{i})||(SELECT r FROM b{i})||'>') AS s
      FROM e{i})"""
        )
    return ",\n    ".join(parts)


def _bpe_clean_docs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]+", " ").alias("text"),
    )


@q(
    "p110_bpe_learn",
    f"""WITH {_bpe_learn_cte(_BPE_N_MERGES)}
    SELECT CAST(rank AS INTEGER) AS rank, l AS "left", r AS "right",
           l || r AS merged, CAST(cnt AS BIGINT) AS cnt
    FROM ({' UNION ALL '.join(f'SELECT * FROM b{i}' for i in range(_BPE_N_MERGES))})
    ORDER BY rank""",
)
def p110_bpe_learn(spark: SparkSession, sf_dir: str) -> SDF:
    return text.bpe_learn(
        _bpe_clean_docs(spark, sf_dir), "text", n_merges=_BPE_N_MERGES
    ).orderBy("rank")


@q(
    "p111_bpe_segment",
    f"""WITH {_bpe_learn_cte(_BPE_N_MERGES)},
    {_bpe_apply_cte(_BPE_N_MERGES)}
    SELECT doc_id,
           array_to_string(regexp_extract_all(s, '<([a-z]+)>', 1), '|') AS bpe_text
    FROM e{_BPE_N_MERGES} ORDER BY doc_id""",
)
def p111_bpe_segment(spark: SparkSession, sf_dir: str) -> SDF:
    docs = _bpe_clean_docs(spark, sf_dir)
    merges = text.bpe_learn(docs, "text", n_merges=_BPE_N_MERGES)
    return (
        text.bpe_apply(docs, "text", merges)
        .select("doc_id", F.concat_ws("|", F.col("bpe_tokens")).alias("bpe_text"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p112 — Gopher/MassiveText quality-filter rule table (operators.text.
# gopher_rules, Rae et al. 2021 §A.1.1): per-doc metrics + one boolean
# per published rule + the composite keep verdict.  min_words=20 and
# min_stopword_hits=1 are tuned to the synthetic corpus (10-99-word
# docs whose only Gopher stopword is 'the') so every rule exercises
# both branches.  Pure projection — Exchange-free (plan-pinned); at
# 100 TB this is the single-pass gate in front of every other filter.
# ---------------------------------------------------------------------------
@q(
    "p112_gopher_rules",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents))
    SELECT *,
           (words_ok AND word_len_ok AND symbol_ok AND alpha_ok AND stopword_ok)
             AS keep
    FROM (
      SELECT m.*,
             COALESCE(n_words BETWEEN 20 AND 100000, false) AS words_ok,
             COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false) AS word_len_ok,
             COALESCE(symbol_ratio <= 0.1, false) AS symbol_ok,
             COALESCE(alpha_word_frac >= 0.8, false) AS alpha_ok,
             COALESCE(stopword_hits >= 1, false) AS stopword_ok
      FROM m)
    ORDER BY doc_id
    """,
)
def p112_gopher_rules(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p113 — PSI drift monitor (operators.stats.psi_vs_reference): each
# language's n_chars distribution scored against the pooled corpus —
# the numeric-profile drift axis complementing p104's token-space JSD.
# Binned counts are exact integers; the eps-floored share terms are
# single double ops per bin; the 24-term SUM is epsilon-tolerant under
# ROUND(..., 6) (the JSD family's documented caveat).
# ---------------------------------------------------------------------------
@q(
    "p113_psi_drift",
    """
    WITH v AS (SELECT lang,
                      LEAST(GREATEST(CAST(FLOOR(CAST(n_chars AS DOUBLE) / 25.0)
                                          AS BIGINT), 0), 23) AS bin
               FROM documents WHERE n_chars IS NOT NULL),
    gc AS (SELECT lang, bin, COUNT(*) AS gc FROM v GROUP BY 1, 2),
    gt AS (SELECT lang, SUM(gc) AS gn FROM gc GROUP BY lang),
    rc AS (SELECT bin, COUNT(*) AS rc FROM v GROUP BY bin),
    rt AS (SELECT SUM(rc) AS rn FROM rc),
    grid AS (SELECT gt.lang, gt.gn, gs.b AS bin
             FROM gt CROSS JOIN generate_series(0, 23) gs(b)),
    terms AS (
      SELECT grid.lang,
             GREATEST(CAST(COALESCE(gc.gc, 0) AS DOUBLE) / grid.gn, 1e-6) AS p,
             GREATEST(CAST(COALESCE(rc.rc, 0) AS DOUBLE) / rt.rn, 1e-6) AS q
      FROM grid LEFT JOIN gc ON gc.lang = grid.lang AND gc.bin = grid.bin
                LEFT JOIN rc ON rc.bin = grid.bin
                CROSS JOIN rt)
    SELECT lang, ROUND(SUM((p - q) * ln(p / q)), 6) AS psi
    FROM terms GROUP BY lang ORDER BY lang
    """,
)
def p113_psi_drift(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import psi_vs_reference

    docs = load_table(spark, sf_dir, "documents")
    return psi_vs_reference(
        docs, docs, "n_chars", ["lang"], lo=0.0, hi=600.0, n_bins=24
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# p114 — greedy k-center coreset (operators.similarity.kcenter_coreset,
# Gonzalez 1985): 6-point farthest-point traversal over the embedding
# table — the diverse-subset selection primitive.  Fully deterministic
# (rounded d2 + min-id tie-breaks), so the oracle replays the whole
# trajectory as unrolled CTE rounds: each round joins the corpus
# against the chosen-so-far set, takes MIN distance per candidate, and
# picks the (d DESC, id ASC) argmax — the p77 unroll pattern applied
# to selection instead of assignment.
# ---------------------------------------------------------------------------
_P114_K = 6


def _p114_oracle(k: int = _P114_K) -> str:
    head = """
    WITH cv0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings ORDER BY vec_id LIMIT 1)"""
    parts = []
    for r in range(1, k):
        parts.append(f""",
    dd{r} AS (
      SELECT e.vec_id AS vid, c.vec_id AS cid,
             ROUND(SUM((CAST(e.embedding[i] AS DOUBLE) - c.v[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - c.v[i])), 6) AS dd
      FROM embeddings e CROSS JOIN cv{r - 1} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.vec_id),
    mind{r} AS (SELECT vid, MIN(dd) AS d FROM dd{r} GROUP BY vid),
    pick{r} AS (SELECT vid, d FROM mind{r} ORDER BY d DESC, vid LIMIT 1),
    cv{r} AS (
      SELECT vec_id, v FROM cv{r - 1}
      UNION ALL
      SELECT p.vid, CAST(e.embedding AS DOUBLE[])
      FROM pick{r} p JOIN embeddings e ON e.vec_id = p.vid)""")
    sel = " UNION ALL ".join(
        [f"SELECT 0 AS sel_round, vec_id, 0.0 AS d2 FROM cv0"]
        + [f"SELECT {r}, vid, d FROM pick{r}" for r in range(1, k)]
    )
    tail = f"""
    SELECT CAST(sel_round AS INTEGER) AS sel_round,
           CAST(vec_id AS BIGINT) AS vec_id, d2
    FROM ({sel}) ORDER BY sel_round"""
    return head + "".join(parts) + tail


@q("p114_kcenter_coreset", _p114_oracle())
def p114_kcenter_coreset(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.similarity import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "embedding", "vec_id", k=_P114_K).orderBy(
        "sel_round"
    )


# ---------------------------------------------------------------------------
# p115 — exact-substring canary scan (operators.dedup.canary_scan):
# one row per (doc, canary) verbatim hit — the benchmark-canary audit
# (BIG-bench GUID pattern) that token-n-gram overlap (p38) and Bloom
# membership (p75) cannot express.  Canary literals ride the plan
# (Exchange-free projection, plan-pinned in TestCanaryScan); two
# corpus phrases + one never-present marker exercise both branches.
# ---------------------------------------------------------------------------
@q(
    "p115_canary_scan",
    """
    SELECT doc_id, c.c AS canary
    FROM documents, UNNEST(['key agg', 'the line', 'zz-never-present']) AS c(c)
    WHERE contains(text, c.c)
    ORDER BY doc_id, canary
    """,
)
def p115_canary_scan(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.canary_scan(
        docs, "text", "doc_id", ["key agg", "the line", "zz-never-present"]
    ).orderBy("doc_id", "canary")


# ---------------------------------------------------------------------------
# p116 — Kolmogorov-Smirnov drift (operators.stats.ks_vs_reference):
# each language's n_chars ECDF vs the pooled corpus — the UNBINNED
# member of the drift triad (p104 JSD / p113 PSI / p116 KS).  Exact
# arithmetic: integer cumulative counts, two divisions and one
# order-free MAX per group — no grid, no eps, no FP-sum tolerance.
# ---------------------------------------------------------------------------
@q(
    "p116_ks_drift",
    """
    WITH v AS (SELECT lang, n_chars AS v FROM documents
               WHERE n_chars IS NOT NULL),
    gc AS (SELECT lang, v, COUNT(*) AS c FROM v GROUP BY 1, 2),
    gcum AS (SELECT lang, v,
                    SUM(c) OVER (PARTITION BY lang ORDER BY v) AS gcum,
                    SUM(c) OVER (PARTITION BY lang) AS gn FROM gc),
    rc AS (SELECT v, COUNT(*) AS c FROM v GROUP BY v),
    rcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS rcum FROM rc),
    rt AS (SELECT COUNT(*) AS rn FROM v),
    pts AS (SELECT DISTINCT lang, v FROM (
              SELECT lang, v FROM gcum
              UNION ALL
              SELECT k.lang, r.v
              FROM (SELECT DISTINCT lang FROM gcum) k CROSS JOIN rcum r)),
    filled AS (
      SELECT p.lang, p.v,
             MAX(g.gcum) OVER w AS gf,
             MAX(r.rcum) OVER w AS rf,
             MAX(g.gn) OVER (PARTITION BY p.lang) AS gn
      FROM pts p LEFT JOIN gcum g ON g.lang = p.lang AND g.v = p.v
                 LEFT JOIN rcum r ON r.v = p.v
      WINDOW w AS (PARTITION BY p.lang ORDER BY p.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT lang,
           ROUND(MAX(ABS(CAST(COALESCE(gf, 0) AS DOUBLE) / gn
                         - CAST(COALESCE(rf, 0) AS DOUBLE) / rt.rn)), 6) AS ks
    FROM filled CROSS JOIN rt GROUP BY lang ORDER BY lang
    """,
)
def p116_ks_drift(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import ks_vs_reference

    docs = load_table(spark, sf_dir, "documents")
    return ks_vs_reference(docs, docs, "n_chars", ["lang"]).orderBy("lang")


# ---------------------------------------------------------------------------
# p117 — content-defined chunking (operators.text.cdc_chunks, the
# FastCDC/rsync boundary idea at token granularity): a chunk ends
# after every token whose h32 ≡ 0 (mod 16), so boundaries are local
# content — an edited prefix re-aligns immediately and chunk-level
# dedup still matches (shift-robustness law-tested; fixed windows
# lose all alignment).  One Exchange-free projection + posexplode.
# ---------------------------------------------------------------------------
@q(
    "p117_cdc_chunks",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t
                  FROM documents WHERE length(trim(text)) > 0),
    h AS (SELECT doc_id, t,
                 [('0x'||substr(md5(w),1,8))::BIGINT for w in t] AS hs FROM toks),
    c AS (SELECT doc_id, t,
                 [i for i in generate_series(1, len(t)) if hs[i] % 16 = 0] AS cut
          FROM h),
    e AS (SELECT doc_id, t,
                 CASE WHEN len(cut) > 0 AND cut[-1] = len(t) THEN cut
                      ELSE list_append(cut, CAST(len(t) AS BIGINT)) END AS ends
          FROM c),
    s AS (SELECT doc_id, t, ends,
                 list_prepend(CAST(0 AS BIGINT), ends[1:len(ends)-1]) AS starts
          FROM e)
    SELECT doc_id, CAST(j - 1 AS INTEGER) AS chunk_idx,
           CAST(ends[j] - starts[j] AS INTEGER) AS n_tokens,
           md5(array_to_string(t[starts[j]+1:ends[j]], ' ')) AS chunk_hash,
           array_to_string(t[starts[j]+1:ends[j]], ' ') AS chunk_text
    FROM s, UNNEST(generate_series(1, len(ends))) AS u(j)
    ORDER BY doc_id, chunk_idx
    """,
)
def p117_cdc_chunks(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.cdc_chunks(docs, "text", "doc_id", modulus=16).orderBy(
        "doc_id", "chunk_idx"
    )


# ---------------------------------------------------------------------------
# shared CDC chunk-table CTE for the chunk-level dedup family (p118,
# p119): same slice/md5 replay as the certified p117, condensed to the
# (doc_id, n_tokens, chunk_hash) grain.  `prefix` namespaces the
# relations so two chunkings can coexist in one query.
# ---------------------------------------------------------------------------
def _cdc_chunk_cte(prefix: str, rel: str, modulus: int = 16) -> str:
    return rf"""
    {prefix}toks AS (SELECT doc_id, {_TOKS} AS t
                     FROM {rel} WHERE length(trim(text)) > 0),
    {prefix}h AS (SELECT doc_id, t,
                         [('0x'||substr(md5(w),1,8))::BIGINT for w in t] AS hs
                  FROM {prefix}toks),
    {prefix}c AS (SELECT doc_id, t,
                         [i for i in generate_series(1, len(t))
                          if hs[i] % {modulus} = 0] AS cut
                  FROM {prefix}h),
    {prefix}e AS (SELECT doc_id, t,
                         CASE WHEN len(cut) > 0 AND cut[-1] = len(t) THEN cut
                              ELSE list_append(cut, CAST(len(t) AS BIGINT))
                         END AS ends
                  FROM {prefix}c),
    {prefix}s AS (SELECT doc_id, t, ends,
                         list_prepend(CAST(0 AS BIGINT),
                                      ends[1:len(ends)-1]) AS starts
                  FROM {prefix}e),
    {prefix}ch AS (SELECT doc_id,
                          CAST(ends[j] - starts[j] AS INTEGER) AS n_tokens,
                          md5(array_to_string(t[starts[j]+1:ends[j]], ' '))
                            AS chunk_hash
                   FROM {prefix}s,
                        UNNEST(generate_series(1, len(ends))) AS u(j))"""


# ---------------------------------------------------------------------------
# p118 — chunk-level dedup report (operators.dedup.chunk_dedup_report):
# the PAYOFF of p117's content-defined chunking — CDC-chunk the corpus,
# exact-dedup on chunk_hash (min-id keep), report each doc's duplicated-
# token share.  Catches the re-crawled-page-with-new-header scenario
# that document hashes and fixed windows both miss (law-tested).  One
# Exchange-free chunking + two two-phase aggregates + one hash join.
# ---------------------------------------------------------------------------
@q(
    "p118_chunk_dedup",
    f"""
    WITH {_cdc_chunk_cte('', 'documents')},
    own AS (SELECT chunk_hash, MIN(doc_id) AS first_id
            FROM ch GROUP BY chunk_hash)
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN first_id < ch.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN first_id < ch.doc_id THEN n_tokens ELSE 0 END)
                AS BIGINT) AS dup_tokens,
           ROUND(CAST(SUM(CASE WHEN first_id < ch.doc_id THEN n_tokens
                               ELSE 0 END) AS DOUBLE)
                 / SUM(n_tokens), 6) AS dup_token_share
    FROM ch JOIN own USING (chunk_hash)
    GROUP BY ch.doc_id ORDER BY doc_id
    """,
)
def p118_chunk_dedup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup_report(docs, "text", "doc_id", modulus=16).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# p119 — chunk-level decontamination (operators.dedup.
# chunk_decontaminate): every corpus doc sharing a >=3-token CDC chunk
# with a "benchmark" slice (doc_id % 97 == 0 stands in for an eval
# set), named per (doc, bench doc) pair with span-sized token counts —
# the shift-robust complement of n-gram (p38) and Bloom (p75)
# decontamination.  The tiny bench chunk table broadcasts; the corpus
# is touched once with zero shuffle before the bounded pair tally.
# ---------------------------------------------------------------------------
@q(
    "p119_chunk_decontaminate",
    f"""
    WITH {_cdc_chunk_cte('', 'documents')},
    {_cdc_chunk_cte('b', '(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0)')},
    bd AS (SELECT DISTINCT doc_id AS bench_id, chunk_hash FROM bch)
    SELECT ch.doc_id, bd.bench_id,
           COUNT(*) AS n_shared_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS shared_tokens
    FROM ch JOIN bd USING (chunk_hash)
    WHERE ch.n_tokens >= 3
    GROUP BY ch.doc_id, bd.bench_id
    ORDER BY doc_id, bench_id
    """,
)
def p119_chunk_decontaminate(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return dedup.chunk_decontaminate(
        docs, bench, "text", "doc_id", min_tokens=3
    ).orderBy("doc_id", "bench_id")


# shared DSIR statistics CTE (p120 weights / p123 resampling): one
# definition so a smoothing/bucket/bigram fix can never be applied to
# one entry and not the other.
def _dsir_cte() -> str:
    return rf"""WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    f AS (SELECT doc_id, lang,
                 unnest(list_concat(t, [t[i] || ' ' || t[i+1]
                        for i in generate_series(1, len(t) - 1)])) AS f
          FROM toks),
    fb AS (SELECT doc_id, lang,
                  ('0x'||substr(md5(f),1,8))::BIGINT % 4096 AS b FROM f),
    dc AS (SELECT doc_id, b, COUNT(*) AS c FROM fb GROUP BY 1, 2),
    rc AS (SELECT b, COUNT(*) AS rc FROM fb GROUP BY b),
    rt AS (SELECT COUNT(*) AS rn FROM fb),
    tc AS (SELECT b, COUNT(*) AS tc FROM fb WHERE lang = 'en' GROUP BY b),
    tt AS (SELECT COUNT(*) AS tn FROM fb WHERE lang = 'en'),
    terms AS (
      SELECT dc.doc_id, dc.c,
             ln((COALESCE(tc.tc, 0) + 1.0) / (tt.tn + 1.0 * 4096))
             - ln((rc.rc + 1.0) / (rt.rn + 1.0 * 4096)) AS lr
      FROM dc JOIN rc USING (b) LEFT JOIN tc USING (b)
              CROSS JOIN rt CROSS JOIN tt)"""



# ---------------------------------------------------------------------------
# p120 — DSIR importance weights (operators.relevance.dsir_weights,
# Xie et al. 2023, arXiv:2302.03169): hashed unigram+bigram bucket
# (md5-h32 % 4096, engine-regenerable) importance weights of every doc
# against the lang='en' target slice — the published targeted-data-
# selection method.  All statistics tables are geometry-bounded at
# n_buckets rows and broadcast; the only data-sized exchange is the
# (doc, bucket) partial-aggregated count.  The per-doc double sum is
# unordered -> ROUND(..., 6) epsilon convention (the p70/p104 family).
# ---------------------------------------------------------------------------
@q(
    "p120_dsir_weights",
    f"""
    {_dsir_cte()}
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
           ROUND(SUM(c * lr), 6) AS log_weight,
           ROUND(SUM(c * lr) / SUM(c), 6) AS avg_log_ratio
    FROM terms GROUP BY doc_id ORDER BY doc_id
    """,
)
def p120_dsir_weights(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_weights(
        docs, target, "text", "doc_id", n_buckets=4096, k=1.0
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p121 — 2-pass k-center coreset (operators.similarity.
# kcenter_coreset_2pass): the scale composition for k beyond the
# literal-plan ceiling — pass 1 is p77's convergence-terminated Lloyd
# fit (stop round pinned, same assert discipline), pass 2 the exact
# greedy k-center traversal over the 8-row centroid table.  The oracle
# composes the two certified replays: the p77 Lloyd unroll produces
# cents{R}, then p114's selection-round unroll runs over that bounded
# relation (ci is the selected "vec_id").
# ---------------------------------------------------------------------------
_P121_K = 4


def _p121_oracle(k: int = _P121_K, rounds: int = _P77_STOP_ROUND) -> str:
    head = """
    WITH cents0 AS (
      SELECT CAST(ce AS DOUBLE[]) AS ce,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0)"""
    body = "".join(
        _p77_lloyd_round(i, f"cents{i - 1}") for i in range(1, rounds + 1)
    )
    cf = f"cents{rounds}"
    parts = [f""",
    kc0 AS (SELECT ci, ce FROM {cf} ORDER BY ci LIMIT 1)"""]
    for r in range(1, k):
        parts.append(f""",
    kdd{r} AS (
      SELECT f.ci AS vid, c.ci AS cid,
             ROUND(SUM((f.ce[i] - c.ce[i]) * (f.ce[i] - c.ce[i])), 6) AS dd
      FROM {cf} f CROSS JOIN kc{r - 1} c CROSS JOIN range(1, 65) r(i)
      GROUP BY f.ci, c.ci),
    kmind{r} AS (SELECT vid, MIN(dd) AS d FROM kdd{r} GROUP BY vid),
    kpick{r} AS (SELECT vid, d FROM kmind{r} ORDER BY d DESC, vid LIMIT 1),
    kc{r} AS (
      SELECT ci, ce FROM kc{r - 1}
      UNION ALL
      SELECT p.vid, f.ce FROM kpick{r} p JOIN {cf} f ON f.ci = p.vid)""")
    sel = " UNION ALL ".join(
        ["SELECT 0 AS sel_round, ci AS vec_id, 0.0 AS d2 FROM kc0"]
        + [f"SELECT {r}, vid, d FROM kpick{r}" for r in range(1, k)]
    )
    tail = f"""
    SELECT CAST(sel_round AS INTEGER) AS sel_round,
           CAST(vec_id AS BIGINT) AS vec_id, d2
    FROM ({sel}) ORDER BY sel_round"""
    return head + body + "".join(parts) + tail


@q("p121_kcenter_2pass", _p121_oracle())
def p121_kcenter_2pass(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    info: dict = {}
    out = similarity.kcenter_coreset_2pass(
        emb, "embedding", "vec_id", k=_P121_K, n_cells=8, tol=0.3,
        max_iters=10, info=info,
    ).orderBy("sel_round")
    assert info["iterations"] == _P77_STOP_ROUND, (
        f"p121: Lloyd converged in {info['iterations']} rounds, oracle "
        f"unrolls {_P77_STOP_ROUND} (drifts {info.get('drifts')})"
    )
    return out


# ---------------------------------------------------------------------------
# p122 — sampled-fit SemDeDup (operators.dedup.semdedup with fit_on):
# the paper's deployment shape driver-certified — Lloyd fits on the
# deterministic even-id HALF of the corpus, assignment + exact-cosine
# verify cover ALL of it.  The oracle re-parameterizes the p77 Lloyd
# unroll with the fit slice (seeds = 8 lowest even ids, every round's
# assign/means over the slice) and keeps p109's full-corpus
# assignment + within-cell pair rule.
# ---------------------------------------------------------------------------
def _p122_lloyd_round(i: int, prev: str) -> str:
    return f""",
    dist{i} AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM fit e CROSS JOIN {prev} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    asg{i} AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist{i}) t WHERE rn = 1),
    dm{i} AS (
      SELECT a.cell, r.i, ROUND(AVG(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
      FROM fit e JOIN asg{i} a ON a.vec_id = e.vec_id
      CROSS JOIN range(1, 65) r(i)
      GROUP BY a.cell, r.i),
    m{i} AS (SELECT cell, array_agg(m ORDER BY i) AS ce FROM dm{i} GROUP BY cell),
    cents{i} AS (SELECT p.ci, CAST(COALESCE(m.ce, p.ce) AS DOUBLE[]) AS ce
                 FROM {prev} p LEFT JOIN m{i} m ON m.cell = p.ci)"""


def _p122_oracle(rounds: int = _P77_STOP_ROUND) -> str:
    head = """
    WITH fit AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    cents0 AS (
      SELECT CAST(ce AS DOUBLE[]) AS ce,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS ci FROM
        (SELECT vec_id, embedding AS ce FROM fit ORDER BY vec_id LIMIT 8) c0)"""
    body = "".join(
        _p122_lloyd_round(i, f"cents{i - 1}") for i in range(1, rounds + 1)
    )
    tail = f""",
    distF AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents{rounds} c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    asgF AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM distF) t WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos
      FROM embeddings a, asgF sa, embeddings b, asgF sb, range(1, 65) r(i)
      WHERE sa.vec_id = a.vec_id AND sb.vec_id = b.vec_id
        AND sa.cell = sb.cell AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id)
    SELECT vb AS drop_id, MIN(va) AS keep_id
    FROM pairs WHERE cos >= {_P109_THRESHOLD}
    GROUP BY vb ORDER BY drop_id"""
    return head + body + tail


@q("p122_semdedup_sampled_fit", _p122_oracle())
def p122_semdedup_sampled_fit(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    fit = emb.filter(F.col("vec_id") % 2 == 0)
    info: dict = {}
    out = _sorted(
        dedup.semdedup(
            emb, "embedding", "vec_id",
            k=8, threshold=_P109_THRESHOLD, tol=0.3, max_iters=10,
            fit_on=fit, info=info,
        ),
        "drop_id",
    )
    assert info["iterations"] == _P77_STOP_ROUND, (
        f"p122: Lloyd converged in {info['iterations']} rounds, oracle "
        f"unrolls {_P77_STOP_ROUND} (drifts {info.get('drifts')})"
    )
    return out


# ---------------------------------------------------------------------------
# p123 — DSIR resampling (operators.sampling.gumbel_topk_sample over
# p120's weights): the Gumbel-top-k selection step that completes the
# published pipeline — 50 docs sampled without replacement ∝
# exp(log_weight), keys never leaving log space (log_weight spans
# hundreds of nats; exp would under/overflow priority_sample's w/u
# scheme).  Same md5/2^52 uniform as the sampling family, so the
# selected SET is a pure function of (seed, doc_id) — engine-
# replayable; the oracle re-derives the weights (p120's CTE) and the
# identical Gumbel keys.
# ---------------------------------------------------------------------------
_P123_K = 50


@q(
    "p123_dsir_sample",
    f"""
    {_dsir_cte()},
    dsir AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
             ROUND(SUM(c * lr), 6) AS log_weight,
             ROUND(SUM(c * lr) / SUM(c), 6) AS avg_log_ratio
      FROM terms GROUP BY doc_id),
    -- the key feeds the ROUNDED log_weight (the column the Spark side
    -- selects on): rounding absorbs the sum's association noise, so
    -- identical doubles feed identical ln chains in both engines
    gk AS (
      SELECT doc_id, n_feats, log_weight, avg_log_ratio,
             log_weight - ln(-ln(
               (('0x'||substr(md5('42_'||CAST(doc_id AS VARCHAR)),1,13))::BIGINT
                + 1) / 4503599627370496.0)) AS g
      FROM dsir)
    SELECT doc_id, n_feats, log_weight, avg_log_ratio,
           ROUND(g, 6) AS gumbel_key
    FROM gk ORDER BY g DESC, doc_id LIMIT {_P123_K}
    """,
)
def p123_dsir_sample(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.relevance import dsir_weights
    from spear_spark.operators.sampling import gumbel_topk_sample

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    w = dsir_weights(docs, target, "text", "doc_id", n_buckets=4096, k=1.0)
    return gumbel_topk_sample(w, "doc_id", "log_weight", k=_P123_K).orderBy(
        F.desc("gumbel_key"), "doc_id"
    )


# ---------------------------------------------------------------------------
# p124 — exact embedding Gram/covariance (operators.similarity.
# embedding_gram_exact): vectors quantized to integer micro-units so
# Σ qi·qj is an associative-commutative int64 sum — bit-identical at
# any parallelism and in any engine (the srp_signature_exact device
# applied to second moments).  One Arrow-batched mapInPandas matmul
# per batch emits <= dim(dim+1)/2 + dim partial rows; a bounded
# two-phase SUM merges.  The input every PCA/whitening/drift pass
# needs; p124's table feeds the law-tested pca_project.
# ---------------------------------------------------------------------------
@q(
    "p124_embedding_gram",
    """
    WITH q AS (SELECT vec_id,
                      [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       for e in embedding] AS qv
               FROM embeddings),
    cells AS (SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
                     CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS BIGINT) AS gram_q
              FROM q, range(0, 64) i(i), range(0, 64) j(j)
              WHERE i.i <= j.j GROUP BY 1, 2),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    s AS (SELECT i.i AS i, CAST(SUM(qv[i.i + 1]) AS BIGINT) AS s
          FROM q, range(0, 64) i(i) GROUP BY 1)
    SELECT c.i, c.j, c.gram_q, nn.n,
           ROUND((CAST(c.gram_q AS DOUBLE) / nn.n
                  - (CAST(si.s AS DOUBLE) / nn.n) * (CAST(sj.s AS DOUBLE) / nn.n))
                 / (1000000.0 * 1000000.0), 6) + 0.0 AS cov
    FROM cells c JOIN s si ON si.i = c.i JOIN s sj ON sj.i = c.j CROSS JOIN nn
    ORDER BY c.i, c.j
    """,
)
def p124_embedding_gram(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_gram_exact(emb, "embedding", dim=64).orderBy(
        "i", "j"
    )


# ---------------------------------------------------------------------------
# p125 — boilerplate chunk profile (operators.dedup.boilerplate_chunks):
# the top-20 most widespread >=3-token CDC chunks with doc/occurrence
# tallies and the first owning doc — names the template text a curator
# should kill at the source.  One Exchange-free chunking + one
# two-phase hash aggregate + a TakeOrdered heap.
# ---------------------------------------------------------------------------
@q(
    "p125_boilerplate_chunks",
    f"""
    WITH {_cdc_chunk_cte('', 'documents')}
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           MAX(n_tokens) AS n_tokens,
           MIN(doc_id) AS first_doc
    FROM ch WHERE n_tokens >= 3
    GROUP BY chunk_hash HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash LIMIT 20
    """,
)
def p125_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.boilerplate_chunks(
        docs, "text", "doc_id", modulus=16, min_tokens=3, min_docs=2, top=20
    )


# ---------------------------------------------------------------------------
# p126 — filter agreement / Cohen's kappa (operators.stats.
# filter_agreement): do the Gopher rule gate (p112 params) and a
# quality-score threshold (p09's score >= 0.5) agree beyond chance?
# The swap-one-filter-for-another diagnostic — raw overlap flatters
# filters with skewed marginals; kappa corrects for them.  One
# two-phase global aggregate of four exact conditional counts; the
# oracle replays both rule tables (the p112 + p09 CTEs) and the same
# confusion arithmetic.
# ---------------------------------------------------------------------------
@q(
    "p126_filter_agreement",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    ga AS (
      SELECT doc_id,
             (COALESCE(n_words BETWEEN 20 AND 100000, false)
              AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
              AND COALESCE(symbol_ratio <= 0.1, false)
              AND COALESCE(alpha_word_frac >= 0.8, false)
              AND COALESCE(stopword_hits >= 1, false)) AS a
      FROM m),
    qs AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    qb AS (SELECT doc_id,
                  ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                      + 0.4 * (hits / n_tok)
                      + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) >= 0.5 AS b
           FROM qm),
    cnt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
      FROM ga JOIN qb USING (doc_id))
    SELECT n, n_both, n_a_only, n_b_only, n_neither,
           ROUND((n_both + n_neither) / CAST(n AS DOUBLE), 6) + 0.0 AS po,
           ROUND(((n_both + n_a_only) / CAST(n AS DOUBLE))
                 * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                 + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                 * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE)), 6) + 0.0 AS pe,
           ROUND(CASE WHEN ((n_both + n_a_only) / CAST(n AS DOUBLE))
                           * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                           + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                           * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE)) = 1.0
                      THEN 1.0
                      ELSE ((n_both + n_neither) / CAST(n AS DOUBLE)
                            - (((n_both + n_a_only) / CAST(n AS DOUBLE))
                               * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                               + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                               * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE))))
                           / (1 - (((n_both + n_a_only) / CAST(n AS DOUBLE))
                                   * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                                   + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                                   * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE))))
                 END, 6) + 0.0 AS kappa
    FROM cnt
    """,
)
def p126_filter_agreement(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import filter_agreement

    docs = load_table(spark, sf_dir, "documents")
    a = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    ).select("doc_id", F.col("keep").alias("_a"))
    b = docs.select(
        "doc_id", (text.quality_score("text") >= 0.5).alias("_b")
    )
    return filter_agreement(a.join(b, "doc_id"), "_a", "_b")


# ---------------------------------------------------------------------------
# p127 — cross-source chunk overlap (operators.dedup.
# source_chunk_overlap): exact verbatim-passage sharing between
# source pairs via distinct (source, CDC-chunk-hash) sets — the
# chunk-level member of the source-similarity family (p89 HLL sets,
# p93 CM mass, p96 lexical cosine), and the "source B scrapes source
# A" trigger for cross_source_dups.  Sequenced to lead the round-12
# window (the round-11 window was locked at 50 when this landed).
# ---------------------------------------------------------------------------
@q(
    "p127_source_chunk_overlap",
    f"""
    WITH {_cdc_chunk_cte('', 'documents')},
    sc AS (SELECT DISTINCT d.source AS src, c.chunk_hash
           FROM ch c JOIN documents d USING (doc_id)
           WHERE c.n_tokens >= 3),
    tot AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM sc GROUP BY src),
    sh AS (SELECT a.src AS source_a, b.src AS source_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM sc a JOIN sc b ON a.chunk_hash = b.chunk_hash
           WHERE a.src < b.src GROUP BY 1, 2)
    SELECT sh.source_a, sh.source_b, sh.n_shared,
           ta.n AS n_a, tb.n AS n_b,
           ROUND(CAST(sh.n_shared AS DOUBLE) / ta.n, 6) AS contain_a,
           ROUND(CAST(sh.n_shared AS DOUBLE) / tb.n, 6) AS contain_b
    FROM sh JOIN tot ta ON ta.src = sh.source_a
            JOIN tot tb ON tb.src = sh.source_b
    ORDER BY source_a, source_b
    """,
)
def p127_source_chunk_overlap(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.source_chunk_overlap(
        docs, "text", "doc_id", "source", modulus=16, min_tokens=3
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# p128 — audio decode plumbing, REAL parser (operators.multimodal.
# attach_wav / decode_wav): per-row mono 16-bit PCM WAV bytes are
# synthesized with the stdlib `wave` writer from md5-derived
# (rate, length, samples), parsed back with the stdlib `wave` reader,
# and the integer stats (duration_us, Σ sample², peak) hash-compared
# against a pure-SQL replay of the generation math — a mis-parsed
# header offset, endianness, or sample width becomes a driver-hash
# mismatch.  Unlike the image path (vendored codec / fake fallback
# when Pillow is absent), this modality runs a genuine parser
# end-to-end with zero stubs.  Sequenced to lead the round-12 window
# with p127.
# ---------------------------------------------------------------------------
@q(
    "p128_audio_decode",
    """
    WITH params AS (
      SELECT doc_id,
             ([8000, 16000, 22050, 44100])
               [(('0x'||substr(md5(COALESCE(text, '')),1,4))::BIGINT % 4) + 1]
               AS rate,
             200 + ('0x'||substr(md5(COALESCE(text, '')),5,4))::BIGINT % 800 AS n
      FROM documents),
    samples AS (
      SELECT p.doc_id, p.rate, p.n,
             ('0x'||substr(md5(CAST(p.doc_id AS VARCHAR)||'_'||CAST(i AS VARCHAR)),
                           1,4))::BIGINT - 32768 AS s
      FROM params p, UNNEST(generate_series(0, CAST(p.n - 1 AS BIGINT))) g(i))
    SELECT doc_id,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(MAX(rate) AS INTEGER) AS sample_rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(n) * 1000000 // MAX(rate) AS BIGINT) AS duration_us,
           CAST(SUM(s * s) AS BIGINT) AS sumsq,
           CAST(MAX(ABS(s)) AS INTEGER) AS peak
    FROM samples GROUP BY doc_id ORDER BY doc_id
    """,
)
def p128_audio_decode(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    wavs = multimodal.attach_wav(docs, "text", "doc_id")
    # materialize the per-clip stats before the global sort: orderBy's
    # range-partitioning SAMPLING pass would otherwise re-run the whole
    # synth+decode pipeline a second time (measured 12s -> ~7s at sf0.1)
    return (
        stage(multimodal.decode_wav(wavs, "doc_id", "payload"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p129 — BPE fertility per language (operators.text.bpe_fertility):
# tokens-per-word and chars-per-token of the p110-trained vocabulary,
# per language — the standard tokenizer-evaluation readout that
# catches a vocabulary short-changing an out-of-distribution slice
# before training pays for it.  Composes the certified learn/apply
# CTE replays; counts are the encoder's own pre-tokens so all three
# sums are mutually consistent by construction.  Leads round 12 with
# p127/p128.
# ---------------------------------------------------------------------------
@q(
    "p129_bpe_fertility",
    rf"""WITH {_bpe_learn_cte(_BPE_N_MERGES)},
    {_bpe_apply_cte(_BPE_N_MERGES)},
    met AS (
      SELECT d.lang,
             len(regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+')) AS w,
             length(array_to_string(
               regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+'), '')) AS c,
             len(regexp_extract_all(e.s, '<([a-z]+)>', 1)) AS t
      FROM documents d JOIN e{_BPE_N_MERGES} e USING (doc_id))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(t) AS DOUBLE) / SUM(w), 6) AS fertility,
           ROUND(CAST(SUM(c) AS DOUBLE) / SUM(t), 6) AS chars_per_token
    FROM met GROUP BY lang HAVING SUM(w) > 0 AND SUM(t) > 0
    ORDER BY lang""",
)
def p129_bpe_fertility(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    clean = _bpe_clean_docs(spark, sf_dir)
    merges = text.bpe_learn(clean, "text", n_merges=_BPE_N_MERGES)
    with_lang = clean.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "text"
    )
    return text.bpe_fertility(with_lang, "text", "lang", merges).orderBy("lang")


# ---------------------------------------------------------------------------
# p130 — source token yield after exact dedup (operators.dedup.
# source_token_yield): kept (min-id representative) tokens / raw
# tokens per source — the reprice-the-source number mix planning
# should weight instead of raw volume.  One hash projection, one
# two-phase MIN, one bounded per-source aggregate.
# ---------------------------------------------------------------------------
@q(
    "p130_source_token_yield",
    rf"""
    WITH base AS (
      SELECT doc_id, source,
             md5(lower(trim(text))) AS h,
             len({_TOKS}) AS nt
      FROM documents),
    keeps AS (SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           ROUND(CAST(SUM(CASE WHEN doc_id = keep_id THEN nt ELSE 0 END)
                      AS DOUBLE) / SUM(nt), 6) AS yield_frac
    FROM base JOIN keeps USING (h)
    GROUP BY source ORDER BY source
    """,
)
def p130_source_token_yield(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.source_token_yield(docs, "text", "doc_id", "source").orderBy(
        "source"
    )


# ---------------------------------------------------------------------------
# p131 — split-leakage audit (operators.dedup.split_leakage_report):
# content groups spanning both sides of a split, at NEAR-DUP
# granularity (connected-component labels over >=0.5-Jaccard pairs —
# the p21 clustering; exact-dup-only audits pass trivially on this
# corpus, whose duplication is fuzzy).  The catalog audits the NAIVE
# id-parity split, which leaks (non-degenerate rows); the law
# certifies leakage_safe_split always audits EMPTY.
# ---------------------------------------------------------------------------
@q(
    "p131_split_leakage",
    f"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    prs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM prs
      UNION SELECT doc_b, doc_a FROM prs
      UNION SELECT doc_a, doc_a FROM prs
      UNION SELECT doc_b, doc_b FROM prs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    keyed AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN lab l USING (doc_id))
    SELECT group_key,
           -- train = NOT(doc_id % 2 = 1), matching the Spark side's
           -- negated boolean exactly: signed % puts a negative odd id
           -- at -1, which belongs in TRAIN in both engines (the
           -- signed-% trap — a %2=0 train bucket would drop it)
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_train,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val,
           MIN(doc_id) AS example_id
    FROM keyed GROUP BY group_key
    HAVING n_train > 0 AND n_val > 0
    ORDER BY group_key
    """,
)
def p131_split_leakage(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id").filter(
        F.col("jaccard") >= 0.5
    )
    labels = dedup.connected_components(pairs)
    keyed = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        "text",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("_g"),
    )
    return dedup.split_leakage_report(
        keyed, "text", "doc_id", F.col("doc_id") % 2 == 1, group_key=F.col("_g")
    ).orderBy("group_key")


# ---------------------------------------------------------------------------
# p132 — edit-distance-verified near-dup pairs (operators.dedup.
# edit_distance_pairs): MinHash-LSH candidates (the certified p03
# banding) verified by the JVM built-in levenshtein — the
# character-grain member of the near-dup family, catching OCR-noise/
# machine-mangled copies whose within-word edits token Jaccard
# under-weights.  Relative distance = one IEEE division of exact
# ints, rounded, thresholded — engine-exact emitted set.  Leads
# round 12 with p127-p131.
# ---------------------------------------------------------------------------
@q(
    "p132_edit_distance_pairs",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    v AS (SELECT doc_a, doc_b,
                 CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
                 GREATEST(length(da.text), length(db.text), 1) AS m
          FROM cand JOIN documents da ON da.doc_id = doc_a
                    JOIN documents db ON db.doc_id = doc_b)
    SELECT doc_a, doc_b, edit_dist,
           ROUND(CAST(edit_dist AS DOUBLE) / m, 6) AS rel_edit
    FROM v WHERE ROUND(CAST(edit_dist AS DOUBLE) / m, 6) <= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def p132_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(
        dedup.edit_distance_pairs(docs, "text", "doc_id", max_rel=0.2, k=12, bands=4),
        "doc_a", "doc_b",
    )


# ---------------------------------------------------------------------------
# p133 — video decode plumbing, REAL container (operators.multimodal.
# attach_y4m / decode_y4m): per-row mono YUV4MPEG2 clips (a public
# format the ffmpeg toolchain opens natively) synthesized from
# md5-derived frame counts and md5-digest luma planes, parsed back
# with a pure-Python header/FRAME-marker/plane walker, and the exact
# integer stats hash-compared against a SQL replay of every plane
# byte (hex pairs of the same digests).  With p12 (image) and p128
# (audio), all three media modalities now run genuine decode paths.
# Leads round 12.
# ---------------------------------------------------------------------------
@q(
    "p133_video_decode",
    """
    WITH params AS (
      SELECT doc_id,
             2 + ('0x'||substr(md5(COALESCE(text, '')),9,4))::BIGINT % 6 AS n
      FROM documents),
    fb AS (
      SELECT p.doc_id, p.n,
             md5(CAST(p.doc_id AS VARCHAR)||'_'||CAST(f.f AS VARCHAR)
                 ||'_'||CAST(blk.b AS VARCHAR)) AS h
      FROM params p,
           UNNEST(generate_series(0, CAST(p.n - 1 AS BIGINT))) f(f),
           UNNEST(generate_series(0, CAST(3 AS BIGINT))) blk(b)),
    byt AS (
      SELECT doc_id, n,
             ('0x'||substr(h, CAST(2 * u.p + 1 AS INTEGER), 2))::INTEGER AS v
      FROM fb, UNNEST(generate_series(0, CAST(15 AS BIGINT))) u(p))
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(25 AS INTEGER) AS fps_num, CAST(1 AS INTEGER) AS fps_den,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(MAX(n) * 40000 AS BIGINT) AS duration_us,
           CAST(SUM(v) AS BIGINT) AS luma_sum,
           CAST(MAX(v) AS INTEGER) AS luma_max
    FROM byt GROUP BY doc_id ORDER BY doc_id
    """,
)
def p133_video_decode(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.attach_y4m(docs, "text", "doc_id")
    # stats-before-sort: see p128 (sampling pass re-runs the decode)
    return (
        stage(multimodal.decode_y4m(clips, "doc_id", "payload"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p134 — char-gram-candidate edit-distance pairs (operators.dedup.
# edit_distance_pairs, candidates='char'): the recall-matched
# generator for the Levenshtein verify — char-gram MinHash banding
# degrades linearly with noise density where word-shingle banding
# cliff-drops (one flip per 3rd word -> zero word candidates,
# law-tested in tests/test_dedup_recall.py).  Parameterization is the
# ENTROPY-matched regime (see edit_distance_pairs' docstring): this
# corpus is natural-language-like, whose cross-document char-gram
# baseline is high, so the entry runs 7-grams at 4 bands × 3 rows —
# measured 4.3k candidates at sf0.1 vs 1.09M (~9% of ALL pairs, each
# a 300×300 Levenshtein DP) at the 5-gram/2-row setting the
# dense-OCR recall contract uses on its high-entropy corpus.  Same
# 12 seeded permutations as p02/p03.
# ---------------------------------------------------------------------------
_CSHINGLES_CTE = """
  csh AS (SELECT DISTINCT doc_id,
                 unnest([substr(lower(trim(text)), i, 7)
                         for i in generate_series(1, length(lower(trim(text))) - 6)]) AS s
          FROM documents)
"""
_CSIG_CTE = (
    f"WITH {_CSHINGLES_CTE}, "
    f"chv AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT % {_P} AS hv FROM csh), "
    "csig AS (SELECT doc_id, "
    + ", ".join(f"MIN(({a}*hv+{b}) % {_P}) AS mh{i}" for i, (a, b) in enumerate(_PERMS))
    + " FROM chv GROUP BY doc_id)"
)
_CBANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, "
    f"md5(concat_ws('_', {', '.join(f'CAST(mh{bi*3+j} AS VARCHAR)' for j in range(3))})) AS bh "
    "FROM csig"
    for bi in range(4)
)


@q(
    "p134_edit_distance_char",
    _CSIG_CTE
    + f""", cbands AS ({_CBANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM cbands a JOIN cbands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    v AS (SELECT doc_a, doc_b,
                 CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
                 GREATEST(length(da.text), length(db.text), 1) AS m
          FROM cand JOIN documents da ON da.doc_id = doc_a
                    JOIN documents db ON db.doc_id = doc_b)
    SELECT doc_a, doc_b, edit_dist,
           ROUND(CAST(edit_dist AS DOUBLE) / m, 6) AS rel_edit
    FROM v WHERE ROUND(CAST(edit_dist AS DOUBLE) / m, 6) <= 0.3
    ORDER BY doc_a, doc_b
    """,
)
def p134_edit_distance_char(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(
        dedup.edit_distance_pairs(
            docs, "text", "doc_id", max_rel=0.3, k=12, bands=4,
            candidates="char", char_n=7,
        ),
        "doc_a", "doc_b",
    )


# ---------------------------------------------------------------------------
# p135 — CC-grade leakage-safe split (operators.sampling.
# leakage_safe_split with group_key): the constructor now runs at the
# SAME granularity as the p131 audit — the split decision hashes the
# connected-component label over >=0.5-Jaccard pairs (singletons
# coalesced to their own id), so a whole near-dup cluster moves as one
# unit and the CC-grade audit of this split is EMPTY by construction
# (law-tested).  Pure projection over the edge-set-sized CC labels.
# ---------------------------------------------------------------------------
@q(
    "p135_leakage_split_cc",
    f"""
    WITH RECURSIVE
    {_SHINGLES_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    prs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM prs
      UNION SELECT doc_b, doc_a FROM prs
      UNION SELECT doc_a, doc_a FROM prs
      UNION SELECT doc_b, doc_b FROM prs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    lab AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    keyed AS (
      SELECT d.doc_id, CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR) AS g
      FROM documents d LEFT JOIN lab l USING (doc_id))
    SELECT doc_id, g AS group_hash,
           CASE WHEN ('0x'||substr(md5('13_'||g),1,13))::BIGINT
                     / 4503599627370496.0 < 0.3
                THEN 'validation' ELSE 'train' END AS split
    FROM keyed ORDER BY doc_id
    """,
)
def p135_leakage_split_cc(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id").filter(
        F.col("jaccard") >= 0.5
    )
    labels = dedup.connected_components(pairs)
    keyed = docs.join(labels, "doc_id", "left").withColumn(
        "_g", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    return _sorted(
        leakage_safe_split(keyed, "text", "doc_id", val_frac=0.3, group_key=F.col("_g")),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# p136 — fertility-balanced BPE (operators.text.bpe_learn with
# balance_by + bpe_fertility): p129 reads out the per-language
# fertility gap; this entry closes it — each language's word counts
# are reweighted to equal pre-token mass with exact integer
# multipliers m_g = (T_max·1000) div T_g before the trainer runs, so
# the minority slice co-owns the merge budget (law: its fertility
# strictly drops vs the raw vocabulary).  The oracle swaps ONLY the
# w0 CTE under the certified p110/p111 learn/apply replay.
# ---------------------------------------------------------------------------
_BPE_BALANCED_W0 = f"""gw AS MATERIALIZED (
      SELECT lang, w, COUNT(*) AS c FROM (
        SELECT lang, unnest(regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+')) AS w
        FROM documents WHERE lang IS NOT NULL)
      GROUP BY lang, w),
    gt AS (SELECT lang, SUM(c) AS t FROM gw GROUP BY lang),
    gm AS (SELECT lang, (SELECT MAX(t) FROM gt) * 1000 // t AS m FROM gt),
    w0 AS MATERIALIZED (
      SELECT w, SUM(c * m) AS freq FROM gw JOIN gm USING (lang)
      GROUP BY w ORDER BY freq DESC, w LIMIT 50000)"""


@q(
    "p136_bpe_fertility_balanced",
    rf"""WITH {_bpe_learn_cte(_BPE_N_MERGES, w0_parts=_BPE_BALANCED_W0)},
    {_bpe_apply_cte(_BPE_N_MERGES)},
    met AS (
      SELECT d.lang,
             len(regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+')) AS w,
             length(array_to_string(
               regexp_extract_all({_BPE_CLEAN_SQL}, '[a-z]+'), '')) AS c,
             len(regexp_extract_all(e.s, '<([a-z]+)>', 1)) AS t
      FROM documents d JOIN e{_BPE_N_MERGES} e USING (doc_id))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(t) AS DOUBLE) / SUM(w), 6) AS fertility,
           ROUND(CAST(SUM(c) AS DOUBLE) / SUM(t), 6) AS chars_per_token
    FROM met GROUP BY lang HAVING SUM(w) > 0 AND SUM(t) > 0
    ORDER BY lang""",
)
def p136_bpe_fertility_balanced(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    clean = _bpe_clean_docs(spark, sf_dir)
    with_lang = clean.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "text"
    )
    merges = text.bpe_learn(
        with_lang, "text", n_merges=_BPE_N_MERGES, balance_by="lang",
        balance_scale=1000,
    )
    return text.bpe_fertility(with_lang, "text", "lang", merges).orderBy("lang")


# ---------------------------------------------------------------------------
# p137 — chunk-grade dedup report (operators.dedup.dedup_report,
# chunk_grade=True): p102's per-source retention dashboard re-run at
# VERBATIM-CHUNK granularity — survivors cluster iff they share a
# >=3-token CDC chunk (p117 machinery via chunk_shared_pairs), the
# grade that charges a header-prepended scraping source for its
# verbatim bodies where whole-document Jaccard is diluted below any
# threshold (law-tested asymmetric retention).  Exact stage + one
# Exchange-free chunking + chunk-hash self-join + CC + bounded
# tallies.
# ---------------------------------------------------------------------------
@q(
    "p137_dedup_report_chunks",
    rf"""
    WITH RECURSIVE
    ex AS (SELECT doc_id, source, text, md5(text) AS h FROM documents),
    keep AS (SELECT h, MIN(doc_id) AS kid FROM ex GROUP BY h),
    surv AS (SELECT doc_id, source, text
             FROM ex JOIN keep ON ex.h = keep.h AND ex.doc_id = keep.kid),
    {_cdc_chunk_cte('', 'surv')},
    dch AS (SELECT DISTINCT doc_id, chunk_hash FROM ch WHERE n_tokens >= 3),
    prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM dch a JOIN dch b
              ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id),
    edges(a, b) AS (
      SELECT doc_a, doc_b FROM prs
      UNION SELECT doc_b, doc_a FROM prs
      UNION SELECT doc_a, doc_a FROM prs
      UNION SELECT doc_b, doc_b FROM prs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    lab AS (SELECT s.doc_id, s.source, COALESCE(l.cluster_id, s.doc_id) AS cluster
            FROM surv s LEFT JOIN labels l USING (doc_id)),
    pe AS (SELECT source, COUNT(*) AS n_exact_kept,
                  SUM(CASE WHEN cluster = doc_id THEN 1 ELSE 0 END) AS n_final_kept
           FROM lab GROUP BY source),
    pa AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT pa.source, n_docs,
           CAST(COALESCE(n_exact_kept, 0) AS BIGINT) AS n_exact_kept,
           CAST(COALESCE(n_final_kept, 0) AS BIGINT) AS n_final_kept,
           ROUND(CAST(COALESCE(n_final_kept, 0) AS DOUBLE) / n_docs, 6) AS retention
    FROM pa LEFT JOIN pe USING (source) ORDER BY source
    """,
)
def p137_dedup_report_chunks(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(
        dedup.dedup_report(
            docs, "text", "doc_id", "source",
            chunk_grade=True, chunk_modulus=16, min_chunk_tokens=3,
        ),
        "source",
    )


# ---------------------------------------------------------------------------
# p138 — filter-ensemble agreement matrix (operators.stats.
# filter_agreement_matrix): pairwise Cohen's kappa across all six
# Gopher rule flags + the composite keep in ONE corpus scan / one
# two-phase aggregate (law: every row bit-equals the certified p126
# two-filter operator on that pair) — the which-gates-are-redundant
# readout a curation stack consults before pruning filters.  Oracle
# replays the p112 flag CTE and one SELECT per pair over it.
# ---------------------------------------------------------------------------
_P138_FLAGS = ["words_ok", "word_len_ok", "symbol_ok", "alpha_ok",
               "stopword_ok", "keep"]


def _p138_pair_sql(a: str, b: str) -> str:
    return f"""
    SELECT '{a}' AS filter_a, '{b}' AS filter_b,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN {a} AND NOT {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
           CAST(SUM(CASE WHEN NOT {a} AND {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
           CAST(SUM(CASE WHEN NOT {a} AND NOT {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
    FROM fl"""


_P138_PAIRS_SQL = " UNION ALL ".join(
    _p138_pair_sql(a, b)
    for i, a in enumerate(_P138_FLAGS)
    for b in _P138_FLAGS[i + 1:]
)


@q(
    "p138_filter_agreement_matrix",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    fl AS (
      SELECT *,
             (words_ok AND word_len_ok AND symbol_ok AND alpha_ok AND stopword_ok)
               AS keep
      FROM (
        SELECT m.*,
               COALESCE(n_words BETWEEN 20 AND 100000, false) AS words_ok,
               COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false) AS word_len_ok,
               COALESCE(symbol_ratio <= 0.1, false) AS symbol_ok,
               COALESCE(alpha_word_frac >= 0.8, false) AS alpha_ok,
               COALESCE(stopword_hits >= 1, false) AS stopword_ok
        FROM m)),
    cells AS ({_P138_PAIRS_SQL})
    SELECT filter_a, filter_b, n, n_both, n_a_only, n_b_only, n_neither,
           ROUND((n_both + n_neither) / CAST(n AS DOUBLE), 6) + 0.0 AS po,
           ROUND((n_both + n_a_only) / CAST(n AS DOUBLE)
                 * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                 + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                 * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE)), 6) + 0.0 AS pe,
           ROUND(CASE WHEN (n_both + n_a_only) / CAST(n AS DOUBLE)
                           * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                           + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                           * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE)) = 1.0
                      THEN 1.0
                      ELSE ((n_both + n_neither) / CAST(n AS DOUBLE)
                            - ((n_both + n_a_only) / CAST(n AS DOUBLE)
                               * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                               + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                               * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE))))
                           / (1 - ((n_both + n_a_only) / CAST(n AS DOUBLE)
                                   * ((n_both + n_b_only) / CAST(n AS DOUBLE))
                                   + (1 - (n_both + n_a_only) / CAST(n AS DOUBLE))
                                   * (1 - (n_both + n_b_only) / CAST(n AS DOUBLE))))
                 END, 6) + 0.0 AS kappa
    FROM cells ORDER BY filter_a, filter_b
    """,
)
def p138_filter_agreement_matrix(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import filter_agreement_matrix

    docs = load_table(spark, sf_dir, "documents")
    flags = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    )
    return filter_agreement_matrix(flags, _P138_FLAGS).orderBy(
        "filter_a", "filter_b"
    )


# ---------------------------------------------------------------------------
# p139 — packing preview (operators.text.packing_preview): per-source
# training-sequence yield at context length 128 — concat-and-chunk
# packed floor vs one-doc-per-sequence padded ceiling, padding waste
# share, overflow-doc count.  Ceil division is exact int64
# ((x + L-1) div L), never a float floor (the 2^53 trap).  One narrow
# projection + one two-phase aggregate.
# ---------------------------------------------------------------------------
@q(
    "p139_packing_preview",
    rf"""
    WITH t AS (SELECT source, len({_TOKS}) AS nt FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN nt > 128 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_docs,
           CAST((CAST(SUM(nt) AS BIGINT) + 127) // 128 AS BIGINT) AS n_seq_packed,
           CAST(SUM((nt + 127) // 128) AS BIGINT) AS n_seq_padded,
           -- integer half-up at 6dp: L-smooth denominators hit exact
           -- decimal midpoints (1647/3200 = .5146875 at sf0.01), where
           -- double ROUND and Spark's decimal HALF_UP disagree
           CAST(((CAST(SUM((nt + 127) // 128) AS BIGINT) * 128
                  - CAST(SUM(nt) AS BIGINT)) * 2000000
                 + CAST(SUM((nt + 127) // 128) AS BIGINT) * 128)
                // (CAST(SUM((nt + 127) // 128) AS BIGINT) * 256)
                AS DOUBLE) / 1000000.0 + 0.0 AS pad_waste_frac
    FROM t GROUP BY source ORDER BY source
    """,
)
def p139_packing_preview(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.packing_preview(docs, "text", "source", 128).orderBy("source")


# ---------------------------------------------------------------------------
# p140 — BPE vocabulary coverage / char-fallback rate (operators.text.
# bpe_coverage): share of emitted symbols that are single characters —
# the byte-fallback analogue completing the tokenizer-eval triad with
# p129 (fertility) and p136 (balanced trainer).  A slice segmenting
# mostly to characters pays maximum sequence cost for the least
# meaningful units.  Oracle reuses the certified p110/p111 learn/apply
# CTE replay and counts length-1 symbols.
# ---------------------------------------------------------------------------
@q(
    "p140_bpe_coverage",
    rf"""WITH {_bpe_learn_cte(_BPE_N_MERGES)},
    {_bpe_apply_cte(_BPE_N_MERGES)},
    sym AS (
      SELECT d.lang, unnest(regexp_extract_all(e.s, '<([a-z]+)>', 1)) AS t
      FROM documents d JOIN e{_BPE_N_MERGES} e USING (doc_id))
    SELECT lang,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN length(t) = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_char_tokens,
           ROUND(CAST(SUM(CASE WHEN length(t) = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS char_token_frac
    FROM sym GROUP BY lang ORDER BY lang""",
)
def p140_bpe_coverage(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    clean = _bpe_clean_docs(spark, sf_dir)
    with_lang = clean.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang", "text"
    )
    merges = text.bpe_learn(with_lang, "text", n_merges=_BPE_N_MERGES)
    return text.bpe_coverage(with_lang, "text", "lang", merges).orderBy("lang")


# ---------------------------------------------------------------------------
# p141 — n-way leakage-safe split (operators.sampling.stratified_split):
# train/validation/test from ONE content-group uniform cut at
# cumulative thresholds, so no content group straddles ANY pair of
# splits (law: pairwise audits empty; the two-way case bitwise-equals
# the certified p57).  Thresholds are driver-computed double literals
# embedded identically in both engines — the 0.1 and 0.1+0.2 cuts
# below parse to the same IEEE doubles in Spark and DuckDB.  Pure
# projection.
# ---------------------------------------------------------------------------
_P141_T1 = 0.1
_P141_T2 = 0.1 + 0.2


@q(
    "p141_stratified_split",
    f"""
    WITH keyed AS (
      SELECT doc_id, md5(lower(trim(coalesce(text, '')))) AS g FROM documents)
    SELECT doc_id, g AS group_hash,
           CASE WHEN ('0x'||substr(md5('13_'||g),1,13))::BIGINT
                     / 4503599627370496.0 < {_P141_T1!r} THEN 'test'
                WHEN ('0x'||substr(md5('13_'||g),1,13))::BIGINT
                     / 4503599627370496.0 < {_P141_T2!r} THEN 'validation'
                ELSE 'train' END AS split
    FROM keyed ORDER BY doc_id
    """,
)
def p141_stratified_split(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import stratified_split

    docs = load_table(spark, sf_dir, "documents")
    return stratified_split(
        docs, "text", "doc_id", {"test": 0.1, "validation": 0.2, "train": 0.7}
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p142 — score AUC / Mann-Whitney (operators.stats.score_auc): how well
# does the cheap p09 quality score RANK gopher-kept docs above dropped
# ones, before any threshold is picked?  Completes the filter-eval
# family (p126 kappa pair, p138 kappa matrix judge BINARY gates; this
# judges the CONTINUOUS score itself — the p126 kappa at >= 0.5 is one
# point on this curve).  Tie-corrected over the score-value histogram:
# the corpus collapses to <= 10^6 six-dp score cells before the window,
# the numerator 2·Σ pos·(2·cumneg+neg) is exact integer (decimal(38,0)
# against the n_pos·n_neg ~ N² overflow), FP only at the final divide.
# Oracle replays the p112 keep + p09 quality CTEs and the same
# histogram arithmetic.
# ---------------------------------------------------------------------------
@q(
    "p142_score_auc",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    ga AS (
      SELECT doc_id,
             (COALESCE(n_words BETWEEN 20 AND 100000, false)
              AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
              AND COALESCE(symbol_ratio <= 0.1, false)
              AND COALESCE(alpha_word_frac >= 0.8, false)
              AND COALESCE(stopword_hits >= 1, false)) AS y
      FROM m),
    qs AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    qq AS (SELECT doc_id,
                  ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                      + 0.4 * (hits / n_tok)
                      + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS s
           FROM qm),
    cells AS (
      SELECT s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM qq JOIN ga USING (doc_id) GROUP BY s),
    c AS (
      SELECT *,
             SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg AS cnb
      FROM cells)
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores,
           ROUND(CAST(SUM(pos * (2 * cnb + neg)) AS DOUBLE)
                 / (2.0 * CAST(SUM(pos) AS DOUBLE)
                    * CAST(SUM(neg) AS DOUBLE)), 6) + 0.0 AS auc
    FROM c
    """,
)
def p142_score_auc(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import score_auc

    docs = load_table(spark, sf_dir, "documents")
    flags = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    ).select("doc_id", "keep")
    scored = docs.select(
        "doc_id", text.quality_score("text").alias("q")
    ).join(flags, "doc_id")
    return score_auc(scored, "q", "keep")


# ---------------------------------------------------------------------------
# p143 — token-budget selection (operators.sampling.token_budget_select):
# greedy quality-first prefix under an 800-token budget per source —
# the "which docs fill the allocation" step after budget_waterfill
# splits a global budget across sources.  Monotone int64 cumulative
# sum makes cum <= budget a clean prefix of the (quality DESC, doc_id)
# order: deterministic, auditable, no FP in the cut.  One window per
# source (groups parallelize; the giant-group two-phase form is
# documented).  Oracle replays the p09 quality CTE and the same
# window prefix.
# ---------------------------------------------------------------------------
@q(
    "p143_token_budget_select",
    rf"""
    WITH qs AS (
      SELECT doc_id, source, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id, source,
                  CAST(len(t) AS BIGINT) AS tokens,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    scored AS (
      SELECT doc_id, source, tokens,
             ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                 + 0.4 * (hits / n_tok)
                 + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS quality
      FROM qm),
    c AS (
      SELECT source, doc_id, tokens, quality,
             SUM(tokens) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM scored)
    SELECT source, doc_id, tokens, quality,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 800 ORDER BY source, doc_id
    """,
)
def p143_token_budget_select(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.sampling import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(text.tokens("text")).cast("long").alias("tokens"),
        text.quality_score("text").alias("quality"),
    )
    return token_budget_select(
        scored, "doc_id", "tokens", "quality", budget=800, group_col="source"
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# p144 — embedding centroid drift (operators.similarity.centroid_drift):
# per-label L1/L-inf distance between the label centroid and the corpus
# centroid, plus the max-displacement dimension — the embedding-space
# member of the drift family (PSI/KS/JSD watch scalars; this watches
# WHERE each slice sits in vector space).  The p124 exactness device:
# integer micro-unit quantization + cleared denominators in
# decimal(38,0)/HUGEINT, so both engines do pure integer arithmetic
# until one final division.  One posexplode + two-phase (label, dim)
# aggregate; the global row is a window over the <= |labels|*dim cell
# table, never a second scan.
# ---------------------------------------------------------------------------
@q(
    "p144_centroid_drift",
    """
    WITH q AS (SELECT label,
                      [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       for e in embedding] AS qv
               FROM embeddings),
    cell AS (SELECT label, d.d AS d,
                    CAST(SUM(qv[d.d + 1]) AS BIGINT) AS s,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM q, range(0, 64) d(d) GROUP BY 1, 2),
    tot AS (SELECT d, CAST(SUM(s) AS BIGINT) AS gs, CAST(SUM(n) AS BIGINT) AS nn
            FROM cell GROUP BY d),
    diff AS (SELECT label, cell.d AS d, cell.n AS n, tot.nn AS nn,
                    abs(CAST(cell.s AS HUGEINT) * tot.nn
                        - CAST(tot.gs AS HUGEINT) * cell.n) AS ad
             FROM cell JOIN tot USING (d)),
    agg AS (SELECT label, MIN(n) AS n, MIN(nn) AS nn,
                   SUM(ad) AS l1q, MAX(ad) AS linfq
            FROM diff GROUP BY label),
    top AS (SELECT diff.label, MIN(diff.d) AS top_dim
            FROM diff JOIN agg ON diff.label = agg.label
                              AND diff.ad = agg.linfq
            GROUP BY diff.label)
    SELECT agg.label, agg.n,
           ROUND(CAST(agg.l1q AS DOUBLE)
                 / (CAST(agg.n AS DOUBLE) * CAST(agg.nn AS DOUBLE)
                    * 1000000.0), 6) + 0.0 AS l1_drift,
           ROUND(CAST(agg.linfq AS DOUBLE)
                 / (CAST(agg.n AS DOUBLE) * CAST(agg.nn AS DOUBLE)
                    * 1000000.0), 6) + 0.0 AS linf_drift,
           CAST(top.top_dim AS INTEGER) AS top_dim
    FROM agg JOIN top USING (label) ORDER BY label
    """,
)
def p144_centroid_drift(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_drift(emb, "embedding", "label", dim=64).orderBy(
        "label"
    )


# ---------------------------------------------------------------------------
# p145 — Zipf rank-frequency fit (operators.text.zipf_fit): per-lang
# OLS of ln(freq) on ln(rank) over the top-100 token ranks — natural
# text slopes near -1; flat means boilerplate spam, steep means
# degenerate token domination.  Explode + two-phase (lang, token)
# count collapses the corpus to the vocab table before the exchange;
# the rank window runs over the VOCAB table and the fit aggregates
# <= 100 rows per lang.  Deterministic ranks ((freq DESC, token) ties
# lexical), identical OLS op order both engines, intercept from the
# UNROUNDED slope.
# ---------------------------------------------------------------------------
@q(
    "p145_zipf_fit",
    rf"""
    WITH tok AS (SELECT lang, unnest({_TOKS}) AS w FROM documents),
    freq AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f
             FROM tok GROUP BY 1, 2),
    rk AS (SELECT lang, f,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY f DESC, w) AS r
           FROM freq),
    t AS (SELECT lang,
                 ln(CAST(r AS DOUBLE)) AS x,
                 ln(CAST(f AS DOUBLE)) AS y
          FROM rk WHERE r <= 100),
    a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ranks,
                 SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                 SUM(x * x) AS sxx, SUM(y * y) AS syy
          FROM t GROUP BY lang)
    SELECT lang AS "group", n_ranks,
           CASE WHEN n_ranks >= 2
                 AND CAST(n_ranks AS DOUBLE) * sxx - sx * sx <> 0.0
                THEN ROUND((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                           / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx), 6)
                     + 0.0 END AS slope,
           CASE WHEN n_ranks >= 2
                 AND CAST(n_ranks AS DOUBLE) * sxx - sx * sx <> 0.0
                THEN ROUND((sy - ((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                                  / (CAST(n_ranks AS DOUBLE) * sxx - sx * sx))
                                 * sx)
                           / CAST(n_ranks AS DOUBLE), 6) + 0.0 END AS intercept,
           CASE WHEN n_ranks >= 2
                 AND CAST(n_ranks AS DOUBLE) * sxx - sx * sx <> 0.0
                 AND CAST(n_ranks AS DOUBLE) * syy - sy * sy <> 0.0
                THEN ROUND((CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                           * (CAST(n_ranks AS DOUBLE) * sxy - sx * sy)
                           / ((CAST(n_ranks AS DOUBLE) * sxx - sx * sx)
                              * (CAST(n_ranks AS DOUBLE) * syy - sy * sy)), 6)
                     + 0.0 END AS r2
    FROM a ORDER BY "group"
    """,
)
def p145_zipf_fit(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.zipf_fit(docs, "text", "lang", top_ranks=100).orderBy("group")


# ---------------------------------------------------------------------------
# p146 — cross-split NEAR-dup leakage (operators.dedup.
# cross_split_neardup): LSH-verified near-dup pairs that straddle an
# id-parity train/eval split — the pair-grade complement of the p131
# group audit, naming each leaked eval doc, its train twin, and the
# Jaccard as evidence (exact-grade audits pass trivially when the
# duplication is fuzzy).  Plan = the certified p29 composition (band
# equi-join + per-candidate exact verify, nothing corpus-quadratic)
# plus two hash joins against the (id, split) projection.
# ---------------------------------------------------------------------------
@q(
    "p146_cross_split_neardup",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
              FROM cand c JOIN sh x ON x.doc_id = c.doc_a
                          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
              GROUP BY c.doc_a, c.doc_b),
    vp AS (SELECT doc_a, doc_b,
                  ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
           FROM inter JOIN cnt ca ON doc_a = ca.doc_id
                      JOIN cnt cb ON doc_b = cb.doc_id
           WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    st AS (SELECT doc_id, doc_id % 2 = 1 AS v FROM documents)
    SELECT CASE WHEN sa.v THEN doc_b ELSE doc_a END AS doc_train,
           CASE WHEN sa.v THEN doc_a ELSE doc_b END AS doc_eval,
           jaccard
    FROM vp JOIN st sa ON doc_a = sa.doc_id
            JOIN st sb ON doc_b = sb.doc_id
    WHERE sa.v <> sb.v
    ORDER BY doc_train, doc_eval
    """,
)
def p146_cross_split_neardup(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cross_split_neardup(
        docs, "text", "doc_id", F.col("doc_id") % 2 == 1, threshold=0.5
    ).orderBy("doc_train", "doc_eval")


# ---------------------------------------------------------------------------
# p147 — threshold sweep (operators.stats.threshold_sweep): every
# operating point of the p09 quality score against the p112 gopher
# keep — confusion counts + precision/recall/F1 for keep-iff-score>=t
# at EVERY distinct score, from one descending cumulative window over
# the score-value histogram (never one pass per threshold).  The
# "pick the cut" readout completing the filter-eval quartet
# (p126 pair kappa, p138 kappa matrix, p142 AUC).  Oracle replays the
# same two CTEs and the same cumulative arithmetic.
# ---------------------------------------------------------------------------
@q(
    "p147_threshold_sweep",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    ga AS (
      SELECT doc_id,
             (COALESCE(n_words BETWEEN 20 AND 100000, false)
              AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
              AND COALESCE(symbol_ratio <= 0.1, false)
              AND COALESCE(alpha_word_frac >= 0.8, false)
              AND COALESCE(stopword_hits >= 1, false)) AS y
      FROM m),
    qs AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    qq AS (SELECT doc_id,
                  ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                      + 0.4 * (hits / n_tok)
                      + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS s
           FROM qm),
    cells AS (
      SELECT s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM qq JOIN ga USING (doc_id) GROUP BY s),
    c AS (
      SELECT s AS threshold,
             CAST(SUM(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
             CAST(SUM(pos) OVER () - SUM(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fn,
             CAST(SUM(neg) OVER () - SUM(neg) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tn
      FROM cells)
    SELECT threshold, tp, fp, fn, tn,
           ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) + 0.0
             AS precision,
           CASE WHEN tp + fn > 0
                THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
                     + 0.0 END AS recall,
           CASE WHEN tp + fn > 0
                THEN ROUND(CAST(2 * tp AS DOUBLE)
                           / CAST(2 * tp + fp + fn AS DOUBLE), 6) + 0.0
                END AS f1
    FROM c ORDER BY threshold
    """,
)
def p147_threshold_sweep(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import threshold_sweep

    docs = load_table(spark, sf_dir, "documents")
    flags = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    ).select("doc_id", "keep")
    scored = docs.select(
        "doc_id", text.quality_score("text").alias("q")
    ).join(flags, "doc_id")
    return threshold_sweep(scored, "q", "keep").orderBy("threshold")


# ---------------------------------------------------------------------------
# p148 — Heaps'-law vocabulary growth fit (operators.text.heaps_fit):
# each source is one (total tokens, distinct tokens) point; OLS of
# ln(V) on ln(N) across sources recovers the vocabulary-growth
# exponent, and each source's residual from the line flags template
# mills (far below) and vocabulary anomalies (far above) — the
# cross-group complement of p145's within-group Zipf curve.  Corpus
# collapses to the vocab table in ONE two-phase count; the fit is a
# window over the 20-row point table.  Identical OLS op order both
# engines; exact int64 point coordinates.
# ---------------------------------------------------------------------------
@q(
    "p148_heaps_fit",
    rf"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS w FROM documents),
    vocab AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    pts AS (SELECT source AS "group",
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS vocab
            FROM vocab GROUP BY source),
    s AS (SELECT *,
                 ln(CAST(n_tokens AS DOUBLE)) AS x,
                 ln(CAST(vocab AS DOUBLE)) AS y,
                 CAST(COUNT(*) OVER () AS DOUBLE) AS k,
                 SUM(ln(CAST(n_tokens AS DOUBLE))) OVER () AS sx,
                 SUM(ln(CAST(vocab AS DOUBLE))) OVER () AS sy,
                 SUM(ln(CAST(n_tokens AS DOUBLE))
                     * ln(CAST(vocab AS DOUBLE))) OVER () AS sxy,
                 SUM(ln(CAST(n_tokens AS DOUBLE))
                     * ln(CAST(n_tokens AS DOUBLE))) OVER () AS sxx,
                 SUM(ln(CAST(vocab AS DOUBLE))
                     * ln(CAST(vocab AS DOUBLE))) OVER () AS syy
          FROM pts)
    SELECT "group", n_tokens, vocab,
           CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
                THEN ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) + 0.0
                END AS beta,
           CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
                 AND k * syy - sy * sy <> 0.0
                THEN ROUND((k * sxy - sx * sy) * (k * sxy - sx * sy)
                           / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
                     + 0.0 END AS r2,
           CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
                THEN ROUND(y - ((sy - ((k * sxy - sx * sy)
                                       / (k * sxx - sx * sx)) * sx) / k
                                + ((k * sxy - sx * sy)
                                   / (k * sxx - sx * sx)) * x), 6) + 0.0
                END AS residual
    FROM s ORDER BY "group"
    """,
)
def p148_heaps_fit(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.heaps_fit(docs, "text", "source").orderBy("group")


# ---------------------------------------------------------------------------
# p149 — per-source quality report (operators.stats.
# source_quality_report): keep rate, mean quality, and WITHIN-SOURCE
# score-vs-gate AUC for every source in one readout — the
# drop-or-downweight dashboard.  "src keeps 40%, scores low, and the
# cheap score can't even rank its docs" is three different problems;
# this separates them.  Two bounded two-phase aggregates (group
# confusion + the p142 cell-histogram AUC grouped by source) joined on
# the 20-row group key.  Oracle replays the p142 CTEs grouped.
# ---------------------------------------------------------------------------
@q(
    "p149_source_quality_report",
    rf"""
    WITH m AS (
      SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, source, text, {_TOKS} AS t FROM documents)),
    ga AS (
      SELECT doc_id, source,
             (COALESCE(n_words BETWEEN 20 AND 100000, false)
              AND COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
              AND COALESCE(symbol_ratio <= 0.1, false)
              AND COALESCE(alpha_word_frac >= 0.8, false)
              AND COALESCE(stopword_hits >= 1, false)) AS y
      FROM m),
    qs AS (
      SELECT doc_id, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    qq AS (SELECT doc_id,
                  ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                      + 0.4 * (hits / n_tok)
                      + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS s
           FROM qm),
    j AS (SELECT ga.source, qq.s, ga.y FROM qq JOIN ga USING (doc_id)),
    rates AS (
      SELECT source AS "group",
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS keep_rate,
             ROUND(CAST(SUM(CAST(ROUND(s * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) + 0.0
               AS mean_score
      FROM j GROUP BY source),
    cells AS (
      SELECT source, s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM j GROUP BY source, s),
    c AS (
      SELECT *,
             SUM(neg) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg AS cnb
      FROM cells),
    auc AS (
      SELECT source AS "group",
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0
                  THEN ROUND(CAST(SUM(pos * (2 * cnb + neg)) AS DOUBLE)
                             / (2.0 * CAST(SUM(pos) AS DOUBLE)
                                * CAST(SUM(neg) AS DOUBLE)), 6) + 0.0
                  END AS auc
      FROM c GROUP BY source)
    SELECT rates."group", n_docs, keep_rate, mean_score, n_pos, n_neg, auc
    FROM rates JOIN auc USING ("group") ORDER BY "group"
    """,
)
def p149_source_quality_report(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import source_quality_report

    docs = load_table(spark, sf_dir, "documents")
    flags = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    ).select("doc_id", "keep")
    scored = docs.select(
        "doc_id", "source", text.quality_score("text").alias("q")
    ).join(flags, "doc_id")
    return source_quality_report(scored, "q", "keep", "source").orderBy("group")


# ---------------------------------------------------------------------------
# p150 — scene-cut / frame-difference profile (operators.multimodal.
# frame_cut_profile): the first ANALYSIS pass on the p133 video
# plumbing — per consecutive frame pair the exact luma SAD, per clip
# the pair count, SAD sum/max, and cuts at threshold 5500 (the
# md5-plane SAD distribution straddles it, so the cut count is
# per-clip discriminative).  Same shared walker, same loud failure
# modes; every output an exact int64.  Oracle extends the p133
# byte-replay with a (frame, byte-position) self-join — consecutive
# planes, never all pairs.
# ---------------------------------------------------------------------------
@q(
    "p150_frame_cuts",
    """
    WITH params AS (
      SELECT doc_id,
             2 + ('0x'||substr(md5(COALESCE(text, '')),9,4))::BIGINT % 6 AS n
      FROM documents),
    fb AS (
      SELECT p.doc_id, p.n, f.f AS f,
             CAST(blk.b AS BIGINT) AS b,
             md5(CAST(p.doc_id AS VARCHAR)||'_'||CAST(f.f AS VARCHAR)
                 ||'_'||CAST(blk.b AS VARCHAR)) AS h
      FROM params p,
           UNNEST(generate_series(0, CAST(p.n - 1 AS BIGINT))) f(f),
           UNNEST(generate_series(0, CAST(3 AS BIGINT))) blk(b)),
    byt AS (
      SELECT doc_id, n, f, b * 16 + u.p AS pos,
             ('0x'||substr(h, CAST(2 * u.p + 1 AS INTEGER), 2))::BIGINT AS v
      FROM fb, UNNEST(generate_series(0, CAST(15 AS BIGINT))) u(p)),
    sad AS (
      SELECT a.doc_id, a.f,
             CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS sad
      FROM byt a JOIN byt b
        ON a.doc_id = b.doc_id AND a.pos = b.pos AND b.f = a.f + 1
      GROUP BY a.doc_id, a.f),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(sad) AS BIGINT) AS sad_sum,
             CAST(MAX(sad) AS BIGINT) AS sad_max,
             CAST(SUM(CASE WHEN sad >= 5500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cuts
      FROM sad GROUP BY doc_id)
    SELECT p.doc_id, CAST(p.n AS BIGINT) AS n_frames,
           COALESCE(a.n_pairs, 0) AS n_pairs,
           COALESCE(a.sad_sum, 0) AS sad_sum,
           COALESCE(a.sad_max, 0) AS sad_max,
           COALESCE(a.n_cuts, 0) AS n_cuts
    FROM params p LEFT JOIN agg a USING (doc_id) ORDER BY p.doc_id
    """,
)
def p150_frame_cuts(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.attach_y4m(docs, "text", "doc_id")
    # stats-before-sort: see p128 (sampling pass re-runs the decode)
    return (
        stage(multimodal.frame_cut_profile(clips, "doc_id", "payload", cut_threshold=5500))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p151 — language-ID confusion matrix (operators.text.lang_confusion):
# labeled lang vs p08's detector, (labeled, detected, n, row share) —
# the multiclass member of the filter-eval family; a lang leaking into
# 'und' means the stopword table is starving and a detected-lang
# filter would silently drop that slice.  One two-phase aggregate
# collapses the corpus to <= |langs|^2 cells; the share is a window
# over the cell table.  Oracle reuses the generated p08 scorer CTE.
# ---------------------------------------------------------------------------
def _p151_sql() -> str:
    hits = {
        lang: (
            f"CAST(len(list_filter(t, x -> x IN "
            f"({', '.join(repr(w) for w in text.STOPWORDS[lang])}))) AS DOUBLE) / greatest(len(t), 1)"
        )
        for lang in text.LANG_ORDER
    }
    scores = ", ".join(f"{expr} AS s_{lang}" for lang, expr in hits.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in text.LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'"
        for lang in text.LANG_ORDER
    ) + " ELSE 'und' END"
    return f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    scored AS (SELECT doc_id, lang, {scores} FROM toks),
    det AS (SELECT COALESCE(lang, 'und') AS labeled_lang,
                   {case} AS detected_lang
            FROM scored),
    m AS (SELECT labeled_lang, detected_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM det GROUP BY 1, 2)
    SELECT labeled_lang, detected_lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang)
                        AS DOUBLE), 6) + 0.0 AS row_frac
    FROM m ORDER BY labeled_lang, detected_lang
    """


@q("p151_lang_confusion", _p151_sql())
def p151_lang_confusion(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_confusion(docs, "text", "lang").orderBy(
        "labeled_lang", "detected_lang"
    )


# ---------------------------------------------------------------------------
# p152 — within-label embedding dispersion (operators.similarity.
# centroid_dispersion): exact trace variance + highest-variance dim
# per label — the scatter complement of p144 (drift says WHERE the
# centroid moved; this says whether the group COLLAPSED to
# near-identical embeddings or exploded).  Same integer device:
# Σq/Σq² associative sums (Σq² in decimal/HUGEINT from the start —
# int64 dies at ~9e6 vectors), n·Σq²−(Σq)² cleared in decimal, one
# final division.  One posexplode + one two-phase (label, dim)
# aggregate.
# ---------------------------------------------------------------------------
@q(
    "p152_centroid_dispersion",
    """
    WITH q AS (SELECT label,
                      [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       for e in embedding] AS qv
               FROM embeddings),
    cell AS (SELECT label, d.d AS d,
                    CAST(SUM(qv[d.d + 1]) AS BIGINT) AS s,
                    SUM(CAST(qv[d.d + 1] AS HUGEINT)
                        * CAST(qv[d.d + 1] AS HUGEINT)) AS sq,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM q, range(0, 64) d(d) GROUP BY 1, 2),
    vd AS (SELECT label, d, n,
                  CAST(n AS HUGEINT) * sq
                  - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS v
           FROM cell),
    agg AS (SELECT label, MIN(n) AS n, SUM(v) AS tr, MAX(v) AS top
            FROM vd GROUP BY label),
    tp AS (SELECT vd.label, MIN(vd.d) AS top_dim
           FROM vd JOIN agg ON vd.label = agg.label AND vd.v = agg.top
           GROUP BY vd.label)
    SELECT agg.label, agg.n,
           ROUND(CAST(agg.tr AS DOUBLE)
                 / (CAST(agg.n AS DOUBLE) * CAST(agg.n AS DOUBLE)
                    * 1000000000000.0), 6) + 0.0 AS trace_var,
           CAST(tp.top_dim AS INTEGER) AS top_dim,
           ROUND(CAST(agg.top AS DOUBLE)
                 / (CAST(agg.n AS DOUBLE) * CAST(agg.n AS DOUBLE)
                    * 1000000000000.0), 6) + 0.0 AS top_var
    FROM agg JOIN tp USING (label) ORDER BY label
    """,
)
def p152_centroid_dispersion(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_dispersion(
        emb, "embedding", "label", dim=64
    ).orderBy("label")


# ---------------------------------------------------------------------------
# p153 — dedup method comparison (operators.dedup.dedup_method_report):
# the what-would-it-cost capstone — exact / LSH-verified-near /
# CDC-chunk grades side by side as (docs kept, tokens kept, token
# reduction) over one shared denominator.  Each grade is its certified
# machinery (p01 hash group, p29 banded verify, p118 chunk ownership)
# collapsed to a 1-row aggregate before a 3-row union; the corpus
# total joins as a 1-row broadcast.  Oracle composes the same three
# certified CTE fragments.
# ---------------------------------------------------------------------------
@q(
    "p153_dedup_method_report",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
              FROM cand c JOIN sh x ON x.doc_id = c.doc_a
                          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
              GROUP BY c.doc_a, c.doc_b),
    drops AS (SELECT DISTINCT doc_b AS did
              FROM inter JOIN cnt ca ON doc_a = ca.doc_id
                         JOIN cnt cb ON doc_b = cb.doc_id
              WHERE ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.5),
    tok AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS nt FROM documents),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS n_tokens FROM tok),
    ex_keep AS (SELECT MIN(doc_id) AS did FROM documents
                GROUP BY md5(lower(trim(text)))),
    ex AS (SELECT 'exact' AS method,
                  CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                  CAST(SUM(nt) AS BIGINT) AS n_tokens_kept
           FROM ex_keep JOIN tok ON did = doc_id),
    near AS (SELECT 'near_lsh' AS method,
                    CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                    CAST(SUM(nt) AS BIGINT) AS n_tokens_kept
             FROM tok WHERE doc_id NOT IN (SELECT did FROM drops)),
    {_cdc_chunk_cte('k', 'documents')},
    own AS (SELECT kch.doc_id, kch.n_tokens,
                   MIN(kch.doc_id) OVER (PARTITION BY kch.chunk_hash)
                     AS first_id
            FROM kch),
    perdoc AS (SELECT doc_id,
                      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                      CAST(SUM(CASE WHEN first_id < doc_id
                                    THEN n_tokens ELSE 0 END) AS BIGINT)
                        AS dup_tokens
               FROM own GROUP BY doc_id),
    chunk AS (SELECT 'chunk' AS method,
                     CAST(SUM(CASE WHEN dup_tokens < n_tokens
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_kept,
                     CAST(SUM(n_tokens - dup_tokens) AS BIGINT)
                       AS n_tokens_kept
              FROM perdoc),
    rows_ AS (SELECT * FROM ex UNION ALL SELECT * FROM near
              UNION ALL SELECT * FROM chunk)
    SELECT method, n_docs, n_tokens, n_docs_kept, n_tokens_kept,
           ROUND(1.0 - CAST(n_tokens_kept AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS token_reduction
    FROM rows_ CROSS JOIN tot ORDER BY method
    """,
)
def p153_dedup_method_report(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return _sorted(dedup.dedup_method_report(docs, "text", "doc_id"), "method")


# ---------------------------------------------------------------------------
# p154 — per-source score calibration (operators.stats.score_calibrate):
# within-source cume_dist percentile of the p09 quality score — the
# REPAIR for what p149 diagnoses: a fixed raw cut keeps wildly
# different shares per source; the percentile makes "keep the top
# half" mean the same thing everywhere.  One window per source
# (groups parallelize); ties share the cume_dist value in both
# engines.  Oracle replays the p09 CTE + cume_dist.
# ---------------------------------------------------------------------------
@q(
    "p154_score_calibrate",
    rf"""
    WITH qs AS (
      SELECT doc_id, source, {_TOKS} AS t,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nc
      FROM documents),
    qm AS (SELECT doc_id, source,
                  CAST(greatest(len(t), 1) AS DOUBLE) AS n_tok,
                  CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS hits,
                  nc
           FROM qs),
    scored AS (
      SELECT doc_id, source,
             ROUND(0.3 * LEAST(n_tok / 100.0, 1.0)
                 + 0.4 * (hits / n_tok)
                 + 0.3 * LEAST((nc / n_tok) / 8.0, 1.0), 6) AS quality
      FROM qm)
    SELECT doc_id, source, quality,
           ROUND(cume_dist() OVER (PARTITION BY source ORDER BY quality), 6)
             + 0.0 AS pct
    FROM scored ORDER BY doc_id
    """,
)
def p154_score_calibrate(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import score_calibrate

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", text.quality_score("text").alias("quality")
    )
    return score_calibrate(scored, "quality", "source").orderBy("doc_id")


# ---------------------------------------------------------------------------
# p155 — hard-negative mining (operators.similarity.hard_negatives):
# per anchor, the top-5 most similar items strictly BELOW the 0.9
# near-dup ceiling — the contrastive-training batch builder that
# excludes the false-negative poison (a near-duplicate labeled
# "negative").  Band filter BEFORE the rank (a post-rank filter
# silently under-fills k — law-tested); anchors broadcast, one corpus
# scan, norms once per row.  Oracle: 5-anchor cross join + band +
# row_number replay.
# ---------------------------------------------------------------------------
@q(
    "p155_hard_negatives",
    """
    WITH a AS (SELECT vec_id AS anchor_id, embedding AS qe
               FROM embeddings ORDER BY vec_id LIMIT 5),
    s AS (SELECT a.anchor_id, e.vec_id,
                 ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(a.qe[i] AS DOUBLE))
                       / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)
                                   * CAST(e.embedding[i] AS DOUBLE)))
                          * SQRT(SUM(CAST(a.qe[i] AS DOUBLE)
                                     * CAST(a.qe[i] AS DOUBLE)))), 6) AS cos_sim
          FROM embeddings e CROSS JOIN a CROSS JOIN range(1, 65) r(i)
          WHERE e.vec_id <> a.anchor_id
          GROUP BY a.anchor_id, e.vec_id),
    b AS (SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                    ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk
          FROM s WHERE cos_sim < 0.9)
    SELECT anchor_id, vec_id, cos_sim, rnk
    FROM b WHERE rnk <= 5 ORDER BY anchor_id, rnk
    """,
)
def p155_hard_negatives(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )
    return similarity.hard_negatives(
        emb, "embedding", "vec_id", anchors, "aid", "av", k=5, max_sim=0.9
    ).orderBy("anchor_id", "rnk")


# ---------------------------------------------------------------------------
# p156 — k-NN label purity (operators.similarity.knn_label_purity):
# per-label share of each anchor's top-5 cosine neighbors carrying the
# anchor's label, over a 20-anchor evaluation slice — the is-this-
# embedding-any-good gate before an encoder's output drives curation
# (purity ~ 1/|labels| = the space is noise for this label).  Anchors
# broadcast, one corpus scan, deterministic tie-break on id.  Oracle:
# 20-anchor cross-join + row_number + purity replay.
# ---------------------------------------------------------------------------
@q(
    "p156_knn_label_purity",
    """
    WITH a AS (SELECT vec_id AS aid, embedding AS av, label AS alabel
               FROM embeddings ORDER BY vec_id LIMIT 20),
    s AS (SELECT a.aid, a.alabel, e.vec_id, e.label AS nlabel,
                 ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE))
                       / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)
                                   * CAST(e.embedding[i] AS DOUBLE)))
                          * SQRT(SUM(CAST(a.av[i] AS DOUBLE)
                                     * CAST(a.av[i] AS DOUBLE)))), 6) AS cos_sim
          FROM embeddings e CROSS JOIN a CROSS JOIN range(1, 65) r(i)
          WHERE e.vec_id <> a.aid
          GROUP BY a.aid, a.alabel, e.vec_id, e.label),
    b AS (SELECT *, row_number() OVER (PARTITION BY aid
                    ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM s),
    pa AS (SELECT aid, alabel,
                  CAST(SUM(CASE WHEN nlabel = alabel THEN 1 ELSE 0 END)
                       AS BIGINT) AS hit,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM b WHERE rnk <= 5 GROUP BY aid, alabel)
    SELECT alabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) + 0.0
             AS purity
    FROM pa GROUP BY alabel ORDER BY label
    """,
)
def p156_knn_label_purity(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.orderBy("vec_id").limit(20)
    return similarity.knn_label_purity(
        emb, "embedding", "vec_id", "label", anchors_df=anchors, k=5
    ).orderBy("label")


# ---------------------------------------------------------------------------
# p157 — centroid distance matrix (operators.similarity.
# centroid_distance_matrix): exact pairwise L1 between label centroids
# from the p144 integer cell state — the source-similarity map (two
# coinciding centroids = redundant sources; the far outlier = the
# mixture's diversity carrier).  Corpus collapses to cells once; the
# pair join is a self-join of the bounded cell table on the dim key —
# groups^2 over CENTROIDS, never data.  Oracle replays cells + the
# cleared-denominator pair arithmetic in HUGEINT.
# ---------------------------------------------------------------------------
@q(
    "p157_centroid_distance_matrix",
    """
    WITH q AS (SELECT label,
                      [CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       for e in embedding] AS qv
               FROM embeddings),
    cell AS (SELECT label, d.d AS d,
                    CAST(SUM(qv[d.d + 1]) AS BIGINT) AS s,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM q, range(0, 64) d(d) GROUP BY 1, 2),
    pr AS (SELECT a.label AS label_a, b.label AS label_b, a.d,
                  abs(CAST(a.s AS HUGEINT) * b.n
                      - CAST(b.s AS HUGEINT) * a.n) AS ad,
                  a.n AS na, b.n AS nb
           FROM cell a JOIN cell b ON a.d = b.d AND a.label < b.label)
    SELECT label_a, label_b,
           ROUND(CAST(SUM(ad) AS DOUBLE)
                 / (CAST(MIN(na) AS DOUBLE) * CAST(MIN(nb) AS DOUBLE)
                    * 1000000.0), 6) + 0.0 AS l1_dist
    FROM pr GROUP BY label_a, label_b ORDER BY label_a, label_b
    """,
)
def p157_centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.centroid_distance_matrix(
        emb, "embedding", "label", dim=64
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# p158 — Fleiss' kappa over the gopher rule ensemble (operators.stats.
# fleiss_kappa): one chance-corrected agreement number for the five
# rule gates as a WHOLE (the derived 'keep' column is excluded — it
# is their conjunction, not a sixth rater) — the go/no-go before
# treating the ensemble's
# majority vote as a label (p126/p138 judge pairs; this judges the
# committee).  Per item only t = #true matters, so Σt and Σt² (exact
# int64) determine P-bar and Pe — ONE two-phase aggregate.  Oracle
# replays the p112 flag CTE and the same closed form.
# ---------------------------------------------------------------------------
@q(
    "p158_fleiss_kappa",
    rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len(t), 6) AS symbol_ratio,
             ROUND(CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(t), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(t),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS stopword_hits
      FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)),
    fl AS (
      SELECT (CASE WHEN COALESCE(n_words BETWEEN 20 AND 100000, false)
                   THEN 1 ELSE 0 END
            + CASE WHEN COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, false)
                   THEN 1 ELSE 0 END
            + CASE WHEN COALESCE(symbol_ratio <= 0.1, false)
                   THEN 1 ELSE 0 END
            + CASE WHEN COALESCE(alpha_word_frac >= 0.8, false)
                   THEN 1 ELSE 0 END
            + CASE WHEN COALESCE(stopword_hits >= 1, false)
                   THEN 1 ELSE 0 END) AS t
      FROM m),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                 CAST(SUM(t) AS BIGINT) AS st,
                 CAST(SUM(t * t) AS BIGINT) AS st2
          FROM fl)
    SELECT n_items, CAST(5 AS INTEGER) AS k,
           ROUND((2.0 * CAST(st2 AS DOUBLE) - 2.0 * 5.0 * CAST(st AS DOUBLE)
                  + CAST(n_items AS DOUBLE) * 5.0 * 5.0
                  - CAST(n_items AS DOUBLE) * 5.0)
                 / (CAST(n_items AS DOUBLE) * 5.0 * (5.0 - 1.0)), 6) + 0.0
             AS p_bar,
           ROUND((CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0))
                 * (CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0))
                 + (1.0 - CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0))
                 * (1.0 - CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0)),
                 6) + 0.0 AS p_e,
           ROUND(CASE WHEN (CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0))
                           * (CAST(st AS DOUBLE) / (CAST(n_items AS DOUBLE) * 5.0))
                           + (1.0 - CAST(st AS DOUBLE)
                              / (CAST(n_items AS DOUBLE) * 5.0))
                           * (1.0 - CAST(st AS DOUBLE)
                              / (CAST(n_items AS DOUBLE) * 5.0)) = 1.0
                      THEN 1.0
                      ELSE ((2.0 * CAST(st2 AS DOUBLE)
                             - 2.0 * 5.0 * CAST(st AS DOUBLE)
                             + CAST(n_items AS DOUBLE) * 5.0 * 5.0
                             - CAST(n_items AS DOUBLE) * 5.0)
                            / (CAST(n_items AS DOUBLE) * 5.0 * (5.0 - 1.0))
                            - ((CAST(st AS DOUBLE)
                                / (CAST(n_items AS DOUBLE) * 5.0))
                               * (CAST(st AS DOUBLE)
                                  / (CAST(n_items AS DOUBLE) * 5.0))
                               + (1.0 - CAST(st AS DOUBLE)
                                  / (CAST(n_items AS DOUBLE) * 5.0))
                               * (1.0 - CAST(st AS DOUBLE)
                                  / (CAST(n_items AS DOUBLE) * 5.0))))
                           / (1.0 - ((CAST(st AS DOUBLE)
                                      / (CAST(n_items AS DOUBLE) * 5.0))
                                     * (CAST(st AS DOUBLE)
                                        / (CAST(n_items AS DOUBLE) * 5.0))
                                     + (1.0 - CAST(st AS DOUBLE)
                                        / (CAST(n_items AS DOUBLE) * 5.0))
                                     * (1.0 - CAST(st AS DOUBLE)
                                        / (CAST(n_items AS DOUBLE) * 5.0))))
                 END, 6) + 0.0 AS kappa
    FROM a
    """,
)
def p158_fleiss_kappa(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import fleiss_kappa

    docs = load_table(spark, sf_dir, "documents")
    flags = text.gopher_rules(
        docs, "text", "doc_id", min_words=20, min_stopword_hits=1
    )
    return fleiss_kappa(
        flags,
        ["words_ok", "word_len_ok", "symbol_ok", "alpha_ok", "stopword_ok"],
    )


# ---------------------------------------------------------------------------
# p159 — MinHash estimator calibration (operators.dedup.
# lsh_calibration): per estimated-Jaccard bucket (matching signature
# components / k — an exact 0..k grid), the mean EXACT Jaccard and
# mean absolute error over the LSH candidate pairs — the measured-on-
# YOUR-corpus argument for the verify step (folklore says 1/sqrt(k);
# this says what k=12 actually costs here).  Candidates from the
# certified banding; estimate one projection over joined signatures;
# exact the per-candidate intersection; report one bounded aggregate.
# ---------------------------------------------------------------------------
_P159_MATCH = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(12)
)


@q(
    "p159_lsh_calibration",
    _SIG_CTE
    + f""", bands AS ({_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    m AS (SELECT c.doc_a, c.doc_b, ({_P159_MATCH}) AS n_match
          FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                      JOIN sig sb ON sb.doc_id = c.doc_b),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
              FROM cand c JOIN sh x ON x.doc_id = c.doc_a
                          JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
              GROUP BY c.doc_a, c.doc_b),
    pr AS (SELECT m.n_match,
                  ROUND(CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i), 6) AS ex
           FROM m JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
                  JOIN cnt ca ON m.doc_a = ca.doc_id
                  JOIN cnt cb ON m.doc_b = cb.doc_id),
    em AS (SELECT n_match,
                  CAST(ROUND(ex * 1000000.0, 0) AS BIGINT) AS exm
           FROM pr)
    SELECT CAST(n_match AS BIGINT) AS n_match,
           ROUND(CAST(n_match AS DOUBLE) / 12.0, 6) + 0.0 AS est_jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(exm) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) + 0.0
             AS mean_exact_jaccard,
           ROUND(CAST(SUM(ABS(n_match * 1000000 - 12 * exm)) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 12000000.0), 6) + 0.0
             AS mean_abs_err
    FROM em GROUP BY n_match ORDER BY n_match
    """,
)
def p159_lsh_calibration(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_calibration(docs, "text", "doc_id", k=12, bands=4).orderBy(
        "n_match"
    )


# ---------------------------------------------------------------------------
# p160 — session journey n-grams (operators.profile.journey_ngrams):
# the top-20 3-step event-type sequences users actually walk, with
# session counts so one looping user can't impersonate a common path
# — the pattern miner that precedes funnel design (q79 tests a
# hypothesized path; this surfaces candidates).  Gap-rule sessions
# (30 min, the q40/q83 convention), deterministic (ts, event_id)
# ordering, gram counts via a pre-aggregated (gram, session) pair
# table, TakeOrdered top-k.  Leads the round-13 window.
# ---------------------------------------------------------------------------
@q(
    "p160_journey_ngrams",
    """
    WITH f AS (
      SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS ts, event_id AS id,
             event_type AS t,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY u ORDER BY ts, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f),
    g AS (SELECT u, sid,
                 t || '>' || lead(t, 1) OVER w || '>' || lead(t, 2) OVER w
                   AS gram,
                 lead(t, 2) OVER w IS NOT NULL AS full_
          FROM s WINDOW w AS (PARTITION BY u, sid ORDER BY ts, id)),
    ps AS (SELECT gram, u, sid, CAST(COUNT(*) AS BIGINT) AS occ
           FROM g WHERE full_ GROUP BY gram, u, sid)
    SELECT gram, CAST(SUM(occ) AS BIGINT) AS n_occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM ps GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 20
    """,
)
def p160_journey_ngrams(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.profile import journey_ngrams

    ev = load_table(spark, sf_dir, "events")
    return journey_ngrams(
        ev, "user_id", "ts", "event_type", "event_id", gap_minutes=30, n=3,
        top=20,
    )


# ---------------------------------------------------------------------------
# p161 — daily-volume autocorrelation (operators.stats.volume_autocorr):
# Pearson r of the daily event count against itself at lags 1..7 —
# the seasonality detector that tells the p99 volume monitor whether a
# Monday dip is rhythm or incident.  Corpus collapses to the epoch-day
# count table in ONE two-phase count; the lag join is a self-join of
# that bounded table; the five correlation sums run in decimal/HUGEINT
# (day counts at scale overflow int64 products).  Queued with p160 to
# lead round 13.
# ---------------------------------------------------------------------------
@q(
    "p161_volume_autocorr",
    """
    WITH d AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS p,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    pr AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM d a, d b, UNNEST(generate_series(1, 7)) l(lag)
      WHERE b.p = a.p + l.lag),
    agg AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM pr GROUP BY lag)
    SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
           CASE WHEN n_pairs >= 2
                 AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                 AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
                THEN ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / SQRT((CAST(n_pairs AS DOUBLE)
                                   * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n_pairs AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6) + 0.0
                END AS r
    FROM agg ORDER BY lag
    """,
)
def p161_volume_autocorr(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import volume_autocorr

    ev = load_table(spark, sf_dir, "events")
    return volume_autocorr(ev, "ts", max_lag=7)


# ---------------------------------------------------------------------------
# p162 — IVF recall curve (operators.similarity.ivf_recall_curve):
# recall@5 of the deterministic IVF index vs brute-force truth at
# probe depths 1..4, averaged over 10 anchors — the measured "how many
# cells buy 95% recall ON MY DATA" curve; the p159 honesty posture
# applied to the ANN family (the test-suite recall contracts pin
# points; this certifies the whole curve).  One assignment projection,
# broadcast anchors/cell-ranks, a sequence(rc, max) explode instead of
# per-depth rescans, rank windows over probed candidates only.
# Queued with p160/p161 to lead round 13.
# ---------------------------------------------------------------------------
@q(
    "p162_ivf_recall_curve",
    f"""
    WITH cents AS (
      SELECT ce, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci FROM
        (SELECT vec_id, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8) c0),
    anch AS (SELECT vec_id AS aid, embedding AS av
             FROM embeddings ORDER BY vec_id DESC LIMIT 10),
    dist AS (
      SELECT e.vec_id, c.ci, {_D2.format(a='e.embedding')} AS d2
      FROM embeddings e CROSS JOIN cents c CROSS JOIN range(1, 65) r(i)
      GROUP BY e.vec_id, c.ci),
    assigned AS (SELECT vec_id, ci AS cell FROM
      (SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ci) AS rn
       FROM dist) t WHERE rn = 1),
    adist AS (
      SELECT a.aid, c.ci, {_D2.format(a='a.av')} AS d2
      FROM anch a CROSS JOIN cents c CROSS JOIN range(1, 65) r(i)
      GROUP BY a.aid, c.ci),
    cellrank AS (SELECT aid, ci,
                        ROW_NUMBER() OVER (PARTITION BY aid ORDER BY d2, ci) AS rc
                 FROM adist),
    sims AS (
      SELECT a.aid, e.vec_id,
        ROUND(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(a.av[i] AS DOUBLE)) /
          (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))) *
           SQRT(SUM(CAST(a.av[i] AS DOUBLE)*CAST(a.av[i] AS DOUBLE)))), 6) AS cos_sim
      FROM embeddings e CROSS JOIN anch a CROSS JOIN range(1, 65) r(i)
      WHERE e.vec_id <> a.aid GROUP BY a.aid, e.vec_id),
    truth AS (SELECT aid, vec_id FROM
      (SELECT aid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cos_sim DESC, vec_id) AS rn
       FROM sims) t WHERE rn <= 5),
    cand AS (SELECT s.aid, s.vec_id, s.cos_sim, cr.rc
             FROM sims s JOIN assigned asg ON asg.vec_id = s.vec_id
                         JOIN cellrank cr ON cr.aid = s.aid AND cr.ci = asg.cell
             WHERE cr.rc <= 4),
    pp AS (SELECT aid, vec_id, cos_sim, p.p AS n_probe
           FROM cand, UNNEST(generate_series(CAST(rc AS BIGINT),
                                             CAST(4 AS BIGINT))) p(p)),
    ivtop AS (SELECT aid, vec_id, n_probe FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY aid, n_probe
                 ORDER BY cos_sim DESC, vec_id) AS rn FROM pp) t
      WHERE rn <= 5),
    hits AS (SELECT iv.n_probe, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM ivtop iv JOIN truth t
               ON t.aid = iv.aid AND t.vec_id = iv.vec_id
             GROUP BY iv.n_probe)
    SELECT CAST(n_probe AS INTEGER) AS n_probe,
           CAST(10 AS INTEGER) AS n_anchors, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 50.0, 6) + 0.0 AS recall_at_k
    FROM hits ORDER BY n_probe
    """,
)
def p162_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> SDF:
    emb = load_table(spark, sf_dir, "embeddings")
    ends = sorted(
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).unionAll(
            emb.select("vec_id", "embedding")
            .orderBy(F.col("vec_id").desc())
            .limit(10)
        ).collect(),
        key=lambda r: r["vec_id"],
    )
    centroids = [list(map(float, r["embedding"])) for r in ends[:8]]
    anchors = [(int(r["vec_id"]), list(map(float, r["embedding"])))
               for r in ends[8:]]
    return similarity.ivf_recall_curve(
        emb, "embedding", "vec_id", anchors, centroids, k=5, max_probe=4
    )


# ---------------------------------------------------------------------------
# p163 — readability / Flesch-Kincaid (operators.text.readability):
# per-source grade estimate from three exact integer tallies (words,
# [.!?]+ sentence runs floored at 1/doc, [aeiouy]+ syllable runs) —
# the complexity axis p09 doesn't carry; a curriculum or mix plan
# distinguishes simple-wiki from legalese here.  No sum-order surface
# at all: integers in, three single double ops out.  One projection +
# one two-phase aggregate.  Queued with p160-p162 to lead round 13.
# ---------------------------------------------------------------------------
@q(
    "p163_readability",
    rf"""
    WITH t AS (
      SELECT source,
             CAST(len({_TOKS}) AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS y
      FROM documents),
    a AS (SELECT source AS "group",
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(w) AS BIGINT) AS n_words,
                 CAST(SUM(s) AS BIGINT) AS n_sentences,
                 CAST(SUM(y) AS BIGINT) AS n_syllables
          FROM t GROUP BY source HAVING SUM(w) > 0)
    SELECT "group", n_docs, n_words, n_sentences, n_syllables,
           ROUND(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
             + 0.0 AS words_per_sentence,
           ROUND(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
             + 0.0 AS syllables_per_word,
           ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))
                 - 15.59, 6) + 0.0 AS fk_grade
    FROM a ORDER BY "group"
    """,
)
def p163_readability(spark: SparkSession, sf_dir: str) -> SDF:
    docs = load_table(spark, sf_dir, "documents")
    return text.readability(docs, "text", "source").orderBy("group")


# ---------------------------------------------------------------------------
# p164 — volume Gini (operators.stats.volume_gini): concentration of
# corpus volume across sources in one number (0 = even, ->1 = one
# source is the corpus) — the imbalance monitor a mix plan checks
# before/after rebalancing.  Corpus collapses to the 20-row source
# table in one two-phase count; the sorted closed form runs over that
# bounded table with an exact int64 numerator; the only FP op is the
# final division.  Queued with p160-p163 to lead round 13.
# ---------------------------------------------------------------------------
@q(
    "p164_volume_gini",
    """
    WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS x
                 FROM documents GROUP BY source),
    rk AS (SELECT x,
                  ROW_NUMBER() OVER (ORDER BY x, source) AS i,
                  COUNT(*) OVER () AS n
           FROM per)
    SELECT CAST(MIN(n) AS BIGINT) AS n_groups,
           CAST(SUM(x) AS BIGINT) AS total,
           CASE WHEN MIN(n) >= 2 AND SUM(x) > 0
                THEN ROUND(CAST(SUM((2 * i - n - 1) * x) AS DOUBLE)
                           / (CAST(MIN(n) AS DOUBLE)
                              * CAST(SUM(x) AS DOUBLE)), 6) + 0.0
                END AS gini
    FROM rk
    """,
)
def p164_volume_gini(spark: SparkSession, sf_dir: str) -> SDF:
    from spear_spark.operators.stats import volume_gini

    docs = load_table(spark, sf_dir, "documents")
    return volume_gini(docs, "source")
