"""Text relevance scoring: TF-IDF term weights and BM25 ranking.

The retrieval half of a training-data pipeline: score documents against
query terms (quality-targeted sampling, topic bucketing, dedup-aware
search).  Both operators are built from the same two aggregates —
per-(doc, term) term frequencies and per-term document frequencies —
so the token explode is paid once and everything downstream is
hash-aggregate + broadcast joins.

Scale: the explode fans out ~tokens-per-doc rows, immediately collapsed
by a map-side partial count into the (doc, term) table; document
frequencies and the corpus constants (N, avgdl) are tiny aggregates
that broadcast.  No all-pairs stage anywhere; the one shuffle of the
(doc, term) table is the floor for any exact TF-IDF at 100 TB.

Determinism: weights are ROUND(·, 6) after fixed double formulas, so
rankings are reproducible across engines and partitionings (ties break
on term / doc id).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spear_spark.config import stage
from spear_spark.operators.text import tokens


def term_doc_frequencies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-(doc, term) frequency table: the shared base aggregate.
    The token array is materialized in its own projection *before* the
    explode (generator-adjacent expressions re-evaluate per output row
    otherwise — see dedup.shingles).  explode_OUTER + isnotnull (r15):
    a plain explode of the staged attribute triggers
    InferFiltersFromGenerate, whose size/isnotnull filter gets
    alias-substituted onto the scan, re-running the tokenizer split
    twice more per document (plan-verified); split() elements are
    never null (tokens('') is ['']), so outer + isnotnull(term) is
    row-identical — only NULL-text docs gain a null-term generate row,
    dropped exactly as the inner explode dropped the doc."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return (
        toks.select(id_col, F.explode_outer("_toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_terms: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Smoothed TF-IDF weight per (doc, term):
    ``tf * (ln((N + 1) / (df_t + 1)) + 1)`` — the sklearn-style smooth
    idf, always positive.  With ``top_terms``, keeps each document's
    top-k terms (weight desc, term asc) — its keyword signature."""
    tf = term_doc_frequencies(df, text_col, id_col)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    n = df.agg(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n") + F.lit(1.0)) / (F.col("dft") + F.lit(1.0))) + F.lit(1.0)
    out = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col, "term", "tf",
            F.round(F.col("tf") * idf, decimals).alias("tfidf"),
        )
    )
    if top_terms is not None:
        w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), "term")
        out = out.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= top_terms
        ).drop("_rn")
    return out


def bm25(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """BM25 document score for a bag of query terms (Robertson/Sparck
    Jones idf): ``Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5)) ·
    tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.  Documents matching
    no query term are omitted (score would be 0).

    The query-term tf table is a tiny slice of the (doc, term)
    aggregate; N and avgdl are 1-row broadcasts, so the whole score is
    one filtered aggregate + broadcast joins over the corpus scan."""
    tf = term_doc_frequencies(df, text_col, id_col).filter(
        F.col("term").isin(*[str(t) for t in query_terms])
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    dl = df.select(F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("dl"))
    corpus = df.agg(
        F.count(F.lit(1)).alias("n"),
    )
    avgdl = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    out = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(avgdl))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), decimals).alias("bm25"))
    )
    if top is not None:
        out = out.orderBy(F.col("bm25").desc(), id_col).limit(top)
    return out


def corpus_surprisal(df, text_col: str, id_col: str, decimals: int = 6):
    """Per-document cross-entropy under the corpus unigram MLE
    (bits/token): ``H(d) = -(1/|d|) Σ_t c_dt · log2(c_t / C)`` — the
    unigram version of the perplexity filters (CCNet-style) that rank
    documents by how surprising they are under a corpus language model.
    Low = stereotypical/boilerplate, high = rare-token-heavy (often
    noise).  No smoothing needed: every scored token is by construction
    in the corpus, so c_t >= 1.

    Scale shape: one token explode feeding BOTH grains — per-doc counts
    and corpus counts — each a two-phase aggregate; the (doc,term) ⋈
    (term) join shuffles on the term key (posting-list sized, like
    tf-idf); C rides in as a broadcast 1-row literal.  Pure Column
    math; the unordered double sum rounds at the end (epsilon
    convention).
    """
    from pyspark.sql import functions as F

    from spear_spark.operators.text import tokens

    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    doc_counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c_dt"))
    corpus_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t"))
    total = toks.agg(F.count(F.lit(1)).alias("C"))
    joined = doc_counts.join(corpus_counts, "tok").crossJoin(F.broadcast(total))
    lp = F.log2(F.col("c_t").cast("double") / F.col("C").cast("double"))
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.sum(F.col("c_dt").cast("double") * lp).alias("_s"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round(-F.col("_s") / F.col("n_tokens").cast("double"), decimals).alias(
                "surprisal_bits"
            ),
        )
    )


def bigram_lm_score(df, text_col: str, id_col: str, k: float = 0.5, decimals: int = 6):
    """Per-document cross-entropy under the corpus BIGRAM language
    model with add-k smoothing (bits/bigram): the Markov upgrade of
    :func:`corpus_surprisal` and the shape of CCNet/KenLM-style
    perplexity filters — a doc whose word TRANSITIONS are improbable
    under the corpus scores high even when its unigrams are ordinary
    (shuffled or machine-mangled text), which is exactly what the
    unigram score cannot see.  SURVEY §2.4 extension — the reference
    has no scoring functions.

    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)`` with V the corpus
    vocabulary size; score = -mean log2 P over the doc's bigram
    instances.  Docs with < 2 tokens emit no row.

    Scale shape: ONE bigram explode feeds both grains (per-doc and
    corpus counts, two-phase each) — made real by materializing the
    exploded table once (lazy ``localCheckpoint``; without it the
    scan+tokenize+explode subtree re-executes per consumer, the same
    multi-consumer trap graph.py's edge build documents); the scoring
    joins shuffle on the (w1, w2) / (w1) keys — posting-list sized,
    the same floor as tf-idf — and V rides in as a broadcast 1-row
    literal.  Unordered double sum rounds at the end (epsilon
    convention)."""
    staged = stage(df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")))
    bg = stage(
        staged.filter(F.size("_toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 1),"
                    " i -> struct(_toks[i-1] AS w1, _toks[i] AS w2))"
                )
            ).alias("b"),
        )
        .select(F.col(id_col), F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # (w1, w2, count) — vocab²-bounded, feeds both ctx_counts and the
    # scoring join; checkpoint so the bg aggregate runs once
    big_counts = stage(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    ctx_counts = big_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = staged.select(F.explode("_toks").alias("w")).agg(
        F.countDistinct("w").alias("V")
    )
    doc_bg = bg.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("c_db"))
    lp = F.log2(
        (F.col("c12").cast("double") + F.lit(float(k)))
        / (F.col("c1").cast("double") + F.lit(float(k)) * F.col("V").cast("double"))
    )
    return (
        doc_bg.join(big_counts, ["w1", "w2"])
        .join(ctx_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("c_db").alias("n_bigrams"),
            F.sum(F.col("c_db").cast("double") * lp).alias("_s"),
        )
        .select(
            F.col(id_col),
            F.col("n_bigrams"),
            F.round(-F.col("_s") / F.col("n_bigrams").cast("double"), decimals).alias(
                "lm_bits"
            ),
        )
    )


def sparse_cosine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    top: int | None = None,
    max_df: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """All-pairs LEXICAL cosine similarity over TF-IDF vectors via an
    inverted index — the weighted complement to n-gram Jaccard
    (set-overlap, no term importance) and embedding cosine (dense,
    model-dependent): two docs score high exactly when they share
    RARE terms.  SURVEY §2.7 extension; classic sparse-vector
    similarity join.

    Returns (doc_a, doc_b, cos_sim) for pairs whose 6dp-rounded cosine
    meets ``threshold``; ``top`` keeps the global top-k
    (cos desc, doc_a, doc_b).

    Cross-engine exactness discipline: weights are unit-normalized
    per doc BEFORE any product — norms come from the ``decimals``-
    rounded TF-IDF weights, unit weights round to ``decimals + 3``
    (three guard digits, so the unordered-association FP noise of the
    dot sum, ~1e-15·shared_terms, vanishes under the final
    ``decimals`` rounding; the two precisions are COUPLED — a fixed
    unit precision would silently void the noise argument for a
    caller passing a larger ``decimals``).  Summing raw TF-IDF
    products (magnitudes ~1e3-1e5) would leave association noise at
    the rounding boundary and break oracle pairing.  ``decimals`` is
    capped at 9 so the guard digits stay inside double precision.

    ``max_df`` is the same 100 TB safety knob as
    :func:`~spear_spark.operators.dedup.ngram_jaccard_pairs`: terms in
    more than ``max_df`` docs are dropped BEFORE pair generation
    (a df-D term contributes D·(D−1)/2 pairs), while norms keep every
    term — capped cosines are deterministic underestimates, mirrored
    exactly by the oracle.  Hot terms are exactly the low-idf ones, so
    the rank signal they carry is minimal.

    Scale shape: one token explode collapsed map-side into (doc, term,
    tf); document frequencies and N broadcast back; the pair stage is
    posting-list combinations on the term key (bounded by ``max_df``)
    + one two-phase (doc_a, doc_b) sum.  No all-pairs stage, no
    cartesian — the same inverted-index shape as the Jaccard family,
    with weights riding the postings."""
    if not 1 <= decimals <= 9:
        raise ValueError("sparse_cosine_pairs: decimals must be in [1, 9]")
    tf = tf_idf(df, text_col, id_col, top_terms=None, decimals=decimals)
    norms = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("_norm")
    )
    unit = tf.join(norms, id_col).select(
        F.col(id_col).alias("_id"),
        F.col("term"),
        # decimals+3 unit weights: both engines share EXACT operands
        # for the dot product (the same iter_decimals discipline as
        # PageRank), with guard digits tied to the output precision
        F.round(F.col("tfidf") / F.col("_norm"), decimals + 3).alias("_u"),
    )
    if max_df is not None:
        # Two-phase groupBy count + join, NOT count-over-window on the
        # term: a stop term's window partition is a single-task sort of
        # O(corpus docs) rows at scale (AQE splits skewed joins, never
        # window partitions) — same fix as the shingle-df path in
        # dedup._shingle_pair_intersections.  The checkpoint pays the
        # tf-idf pipeline once for both the tally and the probe side;
        # shuffle_hash keeps the posting stream unsorted (build side =
        # vocabulary-sized surviving-term set).
        unit = stage(unit)
        ok = (
            unit.groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("term")
        )
        unit = unit.join(ok.hint("shuffle_hash"), "term")
    postings = (
        unit.select(F.struct(F.col("_id"), F.col("_u")).alias("d"), "term")
        .groupBy("term")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # Pair combinations via two chained codegen Generates (posexplode
    # anchor + explode of the strictly-after slice) — the nested
    # transform/flatten/slice HOF form is CodegenFallback (interpreted)
    # and materializes the full per-list pair array first; see the
    # measured A/B at dedup._shingle_pair_intersections (same rewrite,
    # rows verified identical).
    anchors = postings.select(F.col("ds"), F.posexplode("ds").alias("i", "a"))
    pair = anchors.select(
        F.col("a"),
        F.explode(
            F.slice(
                F.col("ds"),
                F.col("i") + F.lit(2),
                F.greatest(F.size("ds") - F.col("i") - 1, F.lit(0)),
            )
        ).alias("b"),
    )
    out = (
        pair.groupBy(
            F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")
        )
        .agg(F.round(F.sum(F.col("a._u") * F.col("b._u")), decimals).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )
    if top:
        out = out.orderBy(F.col("cos_sim").desc(), "doc_a", "doc_b").limit(top)
    return out


def group_lexical_cosine(
    df: DataFrame, group_col: str, text_col: str, decimals: int = 6
) -> DataFrame:
    """Pairwise LEXICAL cosine similarity between groups' token-COUNT
    vectors — the source-level mixture diagnostic ("which sources say
    the same things?") complementing :func:`sparse_cosine_pairs`
    (doc pairs, TF-IDF-weighted) and the sketch overlaps (p89 set
    cardinality, p93 distribution mass): cos(a, b) =
    Σ c_a·c_b / (√Σc_a² · √Σc_b²) over exact per-(group, token)
    occurrence counts.  Returns the complete (group_a, group_b,
    cos_sim) matrix, lexicographic within the pair, zero-overlap pairs
    included at 0.0.

    Cross-engine exactness: dot and both squared norms are EXACT int64
    sums; the only floating-point is the final sqrt/multiply/divide
    chain — each IEEE-deterministic on exact integer inputs, so the
    6dp rounding is hash-exact against the oracle (no accumulated
    double association noise anywhere).  int64 caveat: Σc² overflows
    past ~3·10⁹ occurrences of one token in one group — switch the
    products to decimal(38,0) on both engines at that scale.

    Scale: one explode collapsed map-side into the vocabulary-sized
    (group, token, c) staging (checkpointed — norms and the pair stage
    both read it); the pair stage is a self-join on the token key
    producing ≤ |groups|² rows per token, collapsed by a two-phase
    (group_a, group_b) SUM; norms broadcast onto the |pairs|-row
    matrix.  Nothing is ever doc-pairwise."""
    counts = stage(
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = counts.groupBy(group_col).agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    a = counts.select(
        F.col(group_col).alias("ga"), "tok", F.col("c").alias("_ca")
    )
    b = counts.select(
        F.col(group_col).alias("gb"), "tok", F.col("c").alias("_cb")
    )
    dots = (
        a.join(b, "tok")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_dot"))
    )
    groups = counts.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.alias("x")
        .join(F.broadcast(groups.alias("y")), F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    na = norms.select(F.col(group_col).alias("ga"), F.col("n2").alias("_na2"))
    nb = norms.select(F.col(group_col).alias("gb"), F.col("n2").alias("_nb2"))
    return (
        pairs.join(F.broadcast(dots), ["ga", "gb"], "left")
        .join(F.broadcast(na), "ga")
        .join(F.broadcast(nb), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            F.round(
                F.coalesce(F.col("_dot"), F.lit(0)).cast("double")
                / (F.sqrt(F.col("_na2").cast("double")) * F.sqrt(F.col("_nb2").cast("double"))),
                decimals,
            ).alias("cos_sim"),
        )
    )


def group_js_divergence(
    df: DataFrame, group_col: str, text_col: str, decimals: int = 6
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (log2, so ∈ [0, 1]) between
    groups' unigram DISTRIBUTIONS — the probability-space complement of
    :func:`group_lexical_cosine`'s count-vector angle: cosine asks "do
    the sources use the same words?", JSD asks "with the same
    *frequencies*?", and unlike KL it is symmetric, bounded, and finite
    on disjoint support (JSD = 1 exactly), which is what makes it the
    standard mixture-shift diagnostic between corpus snapshots.

    Only the vocabulary INTERSECTION is ever joined: with
    p = c_a/N_a, q = c_b/N_b, the one-sided tails collapse to
    Σ_{A∖B} p = 1 − Σ_{∩} p (and symmetrically), so

        JSD = ½·Σ_{∩} [p·log2(2p/(p+q)) + q·log2(2q/(p+q))]
              + 1 − ½·(Σ_{∩} p + Σ_{∩} q)

    — the same token-keyed equi-join shape as the cosine matrix, no
    full-outer join, no union-vocabulary fan-out.  Returns the complete
    ``(group_a, group_b, jsd)`` matrix (lexicographic pairs,
    disjoint-vocabulary pairs at 1.0).

    Determinism: counts and totals are exact int64; the double terms
    are summed once per pair and rounded to ``decimals``.  At
    real-corpus vocabulary sizes the per-pair sum accumulates ~|V∩|
    double terms whose association order differs across engines —
    the 6dp round absorbs that at test scale; at 100 TB compare with
    a tolerance, not a hash (same caveat as any float reduction).

    Scale: vocabulary-sized (group, token, c) staging (checkpointed,
    read by totals and the pair stage), ≤ |groups|² rows per token in
    the pair join collapsed by a two-phase SUM, totals broadcast.
    """
    counts = stage(
        df.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy(group_col).agg(F.sum("c").alias("n"))
    a = counts.select(F.col(group_col).alias("ga"), "tok", F.col("c").alias("_ca"))
    b = counts.select(F.col(group_col).alias("gb"), "tok", F.col("c").alias("_cb"))
    na = totals.select(F.col(group_col).alias("ga"), F.col("n").alias("_na"))
    nb = totals.select(F.col(group_col).alias("gb"), F.col("n").alias("_nb"))
    p = F.col("_ca").cast("double") / F.col("_na").cast("double")
    qq = F.col("_cb").cast("double") / F.col("_nb").cast("double")
    term = p * F.log2(F.lit(2.0) * p / (p + qq)) + qq * F.log2(
        F.lit(2.0) * qq / (p + qq)
    )
    inter = (
        a.join(b, "tok")
        .filter(F.col("ga") < F.col("gb"))
        .join(F.broadcast(na), "ga")
        .join(F.broadcast(nb), "gb")
        .groupBy("ga", "gb")
        .agg(
            F.sum(term).alias("_s"),
            F.sum(p).alias("_pa"),
            F.sum(qq).alias("_qb"),
        )
    )
    groups = counts.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.alias("x")
        .join(F.broadcast(groups.alias("y")), F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    return pairs.join(F.broadcast(inter), ["ga", "gb"], "left").select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.round(
            F.lit(0.5) * F.coalesce(F.col("_s"), F.lit(0.0))
            + F.lit(1.0)
            - F.lit(0.5)
            * (
                F.coalesce(F.col("_pa"), F.lit(0.0))
                + F.coalesce(F.col("_qb"), F.lit(0.0))
            ),
            decimals,
        ).alias("jsd"),
    )


def jsd_vs_reference(
    counts: DataFrame,
    key_cols: Sequence[str],
    ref_counts: DataFrame,
    tok_col: str = "tok",
    c_col: str = "c",
    decimals: int = 6,
) -> DataFrame:
    """Per-key Jensen-Shannon divergence against a REFERENCE token
    distribution — the drift-monitor readout over any (key…, token,
    count) table: each key's distribution (a day's ingest, a source, a
    shard) is scored against the reference corpus's, giving the
    continuous "has what we're ingesting drifted from what we trained
    on?" signal.  Composes with any count producer — a batch explode,
    or :func:`spear_spark.streaming.daily_token_counts_stream`'s
    drained daily tables (batch-equivalence tested there), so drift is
    computed from tiny persisted aggregates, never by re-scanning raw
    text.

    Same intersection-only identity as :func:`group_js_divergence`
    (one-sided tails fold into 1 − Σ∩p − Σ∩q); returns
    ``(key…, jsd)`` for every key present in ``counts``, 1.0 when the
    key shares no vocabulary with the reference.

    Scale: the reference is a vocabulary-sized table joined on the
    token key (broadcast when it fits — typical: a capped top-K
    reference vocabulary); per-key totals broadcast back; one
    two-phase SUM per key.  The reference total is computed once and
    attached as a literal-free cross join of a 1-row aggregate
    (broadcast, no collect).
    """
    keys = list(key_cols)
    # key columns are re-aliased on every derived side: totals and inter
    # both stem from `counts`, and some leaf plans (memory-sink views)
    # defeat Spark's same-exprId self-join deduplication
    tks = [f"_tk{i}" for i in range(len(keys))]
    totals = counts.groupBy(*keys).agg(F.sum(c_col).alias("_nk")).select(
        *[F.col(k).alias(a) for k, a in zip(keys, tks)], "_nk"
    )
    ref = ref_counts.select(
        F.col(tok_col).alias("_rtok"), F.col(c_col).alias("_rc")
    )
    ref_tot = ref.agg(F.sum("_rc").alias("_nr"))
    p = F.col(c_col).cast("double") / F.col("_nk").cast("double")
    qq = F.col("_rc").cast("double") / F.col("_nr").cast("double")
    term = p * F.log2(F.lit(2.0) * p / (p + qq)) + qq * F.log2(
        F.lit(2.0) * qq / (p + qq)
    )
    tot_cond = None
    for k, a in zip(keys, tks):
        c = F.col(k).eqNullSafe(F.col(a))
        tot_cond = c if tot_cond is None else tot_cond & c
    inter = (
        counts.join(F.broadcast(ref), F.col(tok_col) == F.col("_rtok"))
        .join(F.broadcast(totals), tot_cond)
        .crossJoin(F.broadcast(ref_tot))
        .groupBy(*keys)
        .agg(
            F.sum(term).alias("_s"),
            F.sum(p).alias("_pa"),
            F.sum(qq).alias("_qb"),
        )
    )
    return totals.join(F.broadcast(inter), tot_cond, "left").select(
        *[F.col(a).alias(k) for k, a in zip(keys, tks)],
        F.round(
            F.lit(0.5) * F.coalesce(F.col("_s"), F.lit(0.0))
            + F.lit(1.0)
            - F.lit(0.5)
            * (
                F.coalesce(F.col("_pa"), F.lit(0.0))
                + F.coalesce(F.col("_qb"), F.lit(0.0))
            ),
            decimals,
        ).alias("jsd"),
    )


def dsir_features(df: DataFrame, text_col: str, id_col: str, n_buckets: int) -> DataFrame:
    """The hashed n-gram feature explode shared by :func:`dsir_weights`'
    three grains (per-doc, raw-corpus and target-corpus bucket counts):
    word unigrams plus space-joined bigrams (a token can't contain a
    space, so the two families can't collide), each hashed into
    ``n_buckets`` via the repo-standard md5-derived
    :func:`~spear_spark.operators.dedup.h32` — deterministic across
    engines, so the DuckDB oracle regenerates identical buckets.
    Emits ``(id, bucket)``, one row per feature INSTANCE."""
    from spear_spark.operators.dedup import h32

    staged = stage(df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")))
    uni = staged.select(F.col(id_col), F.explode("_toks").alias("_f"))
    bi = staged.filter(F.size("_toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 1),"
                " i -> concat(_toks[i-1], ' ', _toks[i]))"
            )
        ).alias("_f"),
    )
    return uni.unionByName(bi).select(
        F.col(id_col), (h32(F.col("_f")) % F.lit(int(n_buckets))).alias("bucket")
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    target_text_col: str | None = None,
    n_buckets: int = 10_000,
    k: float = 1.0,
    decimals: int = 6,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169,
    "Data Selection for Language Models via Importance Resampling"):
    score every raw-corpus document by how much more likely its hashed
    n-gram features are under a TARGET distribution (the
    high-quality / in-domain corpus you want more of) than under the
    raw corpus itself — ``log w(x) = Σ_buckets c_x(b) · (ln p̂_t(b) −
    ln p̂_r(b))`` with add-``k``-smoothed bucket unigram+bigram
    estimates.  The published method behind targeted pre-training
    data selection; downstream, resample by weight (compose with
    :func:`~spear_spark.operators.sampling.priority_sample` /
    ``cap_per_group`` — the Gumbel-top-k trick the paper uses is
    exactly priority sampling on ``log_weight``).

    Returns ``(id, n_feats, log_weight, avg_log_ratio)`` — the raw
    sum (the paper's resampling weight, length-sensitive by design)
    and the per-feature mean (the length-invariant diagnostic).
    Documents whose text yields zero features (empty after
    tokenization) are absent.

    Scale shape: the feature space is HASHED (the paper's device), so
    every statistics table is geometry-bounded at ``n_buckets`` rows
    no matter the corpus size: raw and target bucket counts are
    two-phase aggregates that BROADCAST back; the only data-sized
    exchange is the per-(doc, bucket) partial-aggregated count, the
    same floor as TF-IDF.  Totals ride as broadcast 1-row literals;
    the unordered double sum rounds at the end (epsilon convention).
    """
    tt = target_text_col or text_col
    feats = stage(dsir_features(df, text_col, id_col, n_buckets))
    doc_counts = feats.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("_c")
    )
    raw_counts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("_rc"))
    raw_tot = feats.agg(F.count(F.lit(1)).alias("_rn"))
    # same two-consumer staging as feats: t_counts and t_tot would each
    # re-run the target's explode+hash otherwise
    tfeats = stage(
        dsir_features(
            target.select(F.lit(0).alias("_tid"), F.col(tt).alias(tt)), tt, "_tid",
            n_buckets,
        )
    )
    t_counts = tfeats.groupBy("bucket").agg(F.count(F.lit(1)).alias("_tc"))
    t_tot = tfeats.agg(F.count(F.lit(1)).alias("_tn"))
    kk = F.lit(float(k))
    denom_r = F.col("_rn").cast("double") + kk * F.lit(int(n_buckets))
    denom_t = F.col("_tn").cast("double") + kk * F.lit(int(n_buckets))
    p_r = (F.coalesce(F.col("_rc"), F.lit(0)).cast("double") + kk) / denom_r
    p_t = (F.coalesce(F.col("_tc"), F.lit(0)).cast("double") + kk) / denom_t
    ratio = F.log(p_t) - F.log(p_r)
    joined = (
        doc_counts.join(F.broadcast(raw_counts), "bucket", "left")
        .join(F.broadcast(t_counts), "bucket", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(t_tot))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_feats"),
            F.sum(F.col("_c").cast("double") * ratio).alias("_s"),
        )
        .select(
            F.col(id_col),
            F.col("n_feats"),
            F.round(F.col("_s"), decimals).alias("log_weight"),
            F.round(
                F.col("_s") / F.col("n_feats").cast("double"), decimals
            ).alias("avg_log_ratio"),
        )
    )
