"""Text analysis operators for large-scale training-data pipelines:
language ID (stopword n-gram heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), document fingerprinting.

All pure-Column implementations — JVM-side, codegen-eligible, zero
Python in the hot path.  At 100 TB these run as a single narrow
projection over the scan: no shuffle, no UDF serialization.

The reference has no text functions beyond concat/rlike/length
(SURVEY §2.4); this module is a north-star extension.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from spear_spark.config import stage

# Tiny per-language stopword lists for the n-gram/stopword-ratio
# heuristic.  Deterministic and engine-portable (plain IN lists).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "une", "que", "pour", "dans", "est"),
    "zh": ("的", "了", "是", "我", "不", "在", "人", "有", "他", "这"),
}
LANG_ORDER = ("en", "de", "es", "fr", "zh")

# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def stopword_hits(toks: Column, lang: str) -> Column:
    """Count of tokens (with repeats) in the language's stopword list."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit ratio in [0, 1]."""
    toks = tokens(text)
    n = F.greatest(F.size(toks), F.lit(1))
    return {lang: stopword_hits(toks, lang).cast("double") / n for lang in LANG_ORDER}


def lang_id(text: Column | str) -> Column:
    """Argmax language by stopword ratio, 'und' (undetermined) when all
    ratios are zero.  Ties resolve in LANG_ORDER — a fixed, documented
    priority so the operator is deterministic across engines/partitions.
    The token array is ``let_``-bound: the argmax chain references each
    score twice (≈10 token-array references total)."""
    from spear_spark.functions import let_

    def body(toks: Column) -> Column:
        n = F.greatest(F.size(toks), F.lit(1))
        scores = {
            lang: stopword_hits(toks, lang).cast("double") / n for lang in LANG_ORDER
        }
        best = F.greatest(*scores.values())
        out = F.lit("und")
        # build when-chain in reverse priority so earlier langs win ties
        for lang in reversed(LANG_ORDER):
            out = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
        return out

    return let_(tokens(text), body)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digit runs / punct)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0, 1]: length saturation, stopword
    ratio, mean-word-length saturation.  Fixed double-math formula
    (identical operation order in the DuckDB oracle)."""
    from spear_spark.functions import let_

    c = F.col(text) if isinstance(text, str) else text
    n_chars_nospace = F.length(F.regexp_replace(c, r"\s+", "")).cast("double")

    def body(toks: Column) -> Column:
        n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
        stop_ratio = stopword_hits(toks, "en").cast("double") / n_tok
        len_sat = F.least(n_tok / F.lit(100.0), F.lit(1.0))
        awl_sat = F.least((n_chars_nospace / n_tok) / F.lit(8.0), F.lit(1.0))
        return F.round(
            F.lit(0.3) * len_sat + F.lit(0.4) * stop_ratio + F.lit(0.3) * awl_sat, 6
        )

    return let_(tokens(c), body)


def rolling_hash(text: Column | str, base: int = 257, mod: int = (1 << 31) - 1) -> Column:
    """Order-sensitive Karp-Rabin document hash: left fold
    ``h = (h*base + h32(token)) mod p`` over the token sequence.
    Distinguishes permuted documents (unlike :func:`fingerprint`);
    pure-Column fold, no explode."""
    from spear_spark.operators.dedup import h32

    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * base + h32(t) % mod) % mod,
    )


def winnow_fingerprints(text: Column | str, window: int = 4) -> Column:
    """Winnowing (local-minima fingerprint selection, Schleimer et al.):
    hash each token, take the min hash of every sliding window of
    ``window`` hashes, return the distinct selected values sorted.  The
    standard sketch for substring-level near-dup/plagiarism detection —
    robust to insertions that shift positions."""
    from spear_spark.functions import let_
    from spear_spark.operators.dedup import h32

    # sliding-window min via iterative zip_with (each array argument
    # evaluated once — the transform+element_at form re-hashes per
    # window index, see dedup.shingles' perf note).  The hash array is
    # ``let_``-bound: the window chain references it ~window+2 times and
    # re-evaluating it means an md5 per token per reference (measured
    # 3.5× at sf0.1).
    def body(hashes: Column) -> Column:
        big = F.greatest(F.size(hashes), F.lit(1))
        mins = hashes
        for j in range(1, window):
            mins = F.zip_with(
                mins, F.slice(hashes, j + 1, big), lambda a, b: F.least(a, b)
            )
        n_win = F.size(hashes) - (window - 1)
        selected = F.when(n_win >= 1, F.slice(mins, 1, n_win)).otherwise(
            F.array(F.array_min(hashes))
        )
        return F.array_sort(F.array_distinct(selected))

    return let_(F.transform(tokens(text), lambda t: h32(t)), body)


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set.  The canonical key for fuzzy-then-exact dedup passes."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


# ---------------------------------------------------------------------------
# Repetition / typicality profiling (DataFrame-level: these need corpus
# or per-doc grouped aggregates, not just a per-row projection)
# ---------------------------------------------------------------------------


def repetition_stats(df, text_col: str, id_col: str):
    """Gopher-style repetition quality metrics, adapted to line-less
    corpora: per document, the fraction of tokens belonging to the
    single most frequent token (``top_tok_frac``), the fraction of
    token occurrences beyond each type's first (``dup_tok_frac`` =
    (n - distinct)/n), and the same top-fraction over word bigrams
    (``top_bigram_frac``).  High values flag boilerplate / degenerate
    repetition that perplexity filters miss.

    Scale shape: one explode per granularity feeding a two-phase
    (doc, term) count whose second phase re-groups by doc — the
    exchange carries (doc, term, cnt) partials, never raw tokens.  No
    HOF mode-finding (an interpreted array-mode lambda is O(n^2) per
    doc — the pitfalls lesson).  All outputs are exact rationals
    rounded once, so the DuckDB oracle matches bit-for-bit.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    tok_stats = (
        toks.groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tok"),
            F.max("c").alias("top_c"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    # non-distinct word bigrams via zip_with over the shifted slice
    # (each array argument evaluates exactly once — never transform +
    # element_at, which re-evaluates the split per element)
    def bigram_arr(c):
        big = F.greatest(F.size(c), F.lit(1))
        grams = F.zip_with(
            c, F.slice(c, 2, big), lambda a, b: F.concat(a, F.lit(" "), b)
        )
        n = F.size(c) - 1
        return F.when(n >= 1, F.slice(grams, 1, n)).otherwise(
            F.array().cast("array<string>")
        )

    from spear_spark.functions import let_

    bigrams = df.select(
        F.col(id_col), F.explode(let_(tokens(text_col), bigram_arr)).alias("b")
    )
    bi_stats = (
        bigrams.groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_bi"), F.max("c").alias("top_bi"))
    )
    return (
        tok_stats.join(bi_stats, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tok"),
            F.round(F.col("top_c").cast("double") / F.col("n_tok"), 6).alias(
                "top_tok_frac"
            ),
            F.round(
                (F.col("n_tok") - F.col("n_distinct")).cast("double") / F.col("n_tok"),
                6,
            ).alias("dup_tok_frac"),
            F.coalesce(
                F.round(F.col("top_bi").cast("double") / F.col("n_bi"), 6), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def token_typicality(df, text_col: str, id_col: str):
    """Per-document typicality: the dot product between the document's
    token distribution and the corpus's, computed as the exact integer
    numerator sum_t(doc_cnt_t * corpus_cnt_t) divided once by
    (n_doc * N_corpus).  Low typicality = rare-token-heavy outlier
    documents; high = documents made of the corpus's most common
    tokens.  The rational form is deliberate: a unigram log-likelihood
    needs ln(), whose last ulp differs between JVM and C libm — this
    statistic ranks documents the same way for filtering purposes and
    is bit-exact cross-engine (integer sums, one IEEE division).

    Scale shape: corpus counts are a bounded-vocabulary aggregate
    (broadcast to the join); the per-doc numerator is a two-phase SUM
    over the (doc, token, cnt) partials.
    """
    from pyspark.sql import functions as F  # noqa: F811

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    doc_cnt = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("dc"))
    corpus_cnt = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cc"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        doc_cnt.join(F.broadcast(corpus_cnt), "t")
        .groupBy(id_col)
        .agg(
            F.sum("dc").alias("n_doc"),
            F.sum(F.col("dc") * F.col("cc")).alias("num"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("n_doc"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n_doc") * F.col("n_total")).cast("double"),
                9,
            ).alias("typicality"),
        )
    )


# default redaction patterns: email first (emails contain digits), then
# digit runs.  Plain character-class regexes only — no backreferences
# or lookaround — so Java (Spark) and RE2-style (DuckDB) engines match
# identically.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]+", "<NUM>"),
)


def redact_pii(text: Column | str, patterns=PII_PATTERNS) -> Column:
    """Chained regex scrubbing for training-data PII hygiene: each
    (pattern, replacement) applies in order (order matters — the email
    pattern must fire before its digits are eaten by the number rule).
    Pure-Column ``regexp_replace`` chain: JVM-side, no shuffle, runs as
    a narrow projection over the scan at any scale."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_match_count(text: Column | str, patterns=PII_PATTERNS) -> Column:
    """Total matches the redaction pass would replace — the audit
    metric logged next to every scrub job.  Counted on the SAME
    sequentially-redacted intermediates as :func:`redact_pii` (count,
    then replace, then count the next pattern), so overlapping
    patterns are not double-counted."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.lit(0)
    for pat, repl in patterns:
        total = total + F.regexp_count(c, F.lit(pat))
        c = F.regexp_replace(c, pat, repl)
    return total.cast("bigint")


def chunk_documents(
    df, text_col: str, id_col: str, window: int = 16, stride: int = 8
):
    """Sliding-window chunking for training/RAG pipelines: token
    windows of ``window`` tokens every ``stride`` tokens (overlap =
    window - stride), emitted as (doc_id, chunk_id, n_chunk_tokens,
    chunk_text).  The final chunk may be shorter; empty documents
    produce one empty chunk (chunk_id 0) so no document silently
    disappears from the corpus.

    Scale shape: the token array is materialized as a NAMED COLUMN
    before the explode (generator-adjacent expressions re-evaluate per
    output row — the round-1 pitfall), the chunk starts are a
    ``sequence`` explode, and each chunk is a per-row ``slice`` of the
    stored array — one narrow pass, no shuffle, no Python."""
    from pyspark.sql import functions as F  # noqa: F811

    base = df.select(
        F.col(id_col), tokens(text_col).alias("_t")
    ).withColumn("_n", F.greatest(F.size("_t"), F.lit(1)))
    starts = F.sequence(F.lit(1), F.col("_n"), F.lit(stride))
    exploded = base.select(
        F.col(id_col), "_t", F.posexplode(starts).alias("_ci", "_start")
    )
    chunk = F.slice(F.col("_t"), F.col("_start"), F.lit(window))
    return exploded.select(
        F.col(id_col),
        F.col("_ci").cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def token_entropy(df, text_col: str, id_col: str):
    """Per-document unigram statistics: Shannon entropy of the token
    distribution (bits), type/token ratio, and token count — the
    lexical-diversity trio quality filters threshold on (low entropy =
    boilerplate/repetition, TTR near 0 = stuck generation loops).

    Entropy is computed in the count domain,
    ``log2(n) - sum(c*log2(c))/n``, so there is exactly one division
    and one rounding at the end; the unordered double sum is rounded
    to 6 dp for cross-engine comparability (same epsilon convention as
    the tf-idf / distance operators).

    Scale shape: one token explode collapsed by a two-phase (id, token)
    count, then a two-phase per-id aggregate — the shuffles carry token
    counts, not token instances, after map-side partials.  Pure Column
    math, no Python in the hot path.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c").cast("double")
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(c * F.log2(c)).alias("_clogc"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("_clogc") / F.col("n_tokens").cast("double"),
                6,
            ).alias("entropy_bits"),
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("type_token_ratio"),
        )
    )


def normalize_text(text: Column | str) -> Column:
    """Engine-portable text normalization chain (the cleanup pass run
    before hashing/dedup so trivial formatting differences don't
    defeat exact dedup): lowercase → strip non-alphanumerics →
    collapse whitespace → trim.  Restricted to ASCII-regex operations
    both Spark and DuckDB implement identically; full Unicode NFC /
    accent folding needs ICU, which is a documented non-goal of the
    portable chain (plug a pandas_udf with unicodedata at the same
    call site when fidelity beats portability).  The whitespace class
    is written out explicitly ([\\t\\n\\f\\r ]): Java's \\s includes
    vertical tab where RE2's does not, so a shorthand class would
    silently break the cross-engine byte-identity contract."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(F.lower(c), "[^a-z0-9\t\n\f\r ]", "")
    return F.trim(F.regexp_replace(stripped, "[\t\n\f\r ]+", " "))


def top_ngrams_per_group(
    df,
    text_col: str,
    group_col: str,
    n: int = 2,
    k: int = 5,
):
    """Top-``k`` word n-grams per group by corpus frequency (ties
    broken lexicographically) — the vocabulary-drift probe run per
    language/source when curating a mix: a shifted top-bigram list is
    the cheapest signal a source changed character.  SURVEY §2.4
    extension — the reference has no n-gram or grouping-window
    machinery.

    Scale shape: n-gram expansion is a pure projection (adjacent-slice
    transform + one explode); counting is a two-phase aggregate on
    (group, ngram); the top-k is a window over the AGGREGATED counts
    partitioned by group — state k per group, never the raw corpus.
    No driver collection, no cross-group interaction."""
    from pyspark.sql.window import Window as W

    # materialize the token array BEFORE the n-gram transform:
    # interpreted HOF lambdas get no common-subexpression elimination,
    # so referencing tokens() inside the lambda re-splits the whole
    # text per element_at — O(tokens²) per doc (measured 5× on the
    # p62 catalog query; same `let_` discipline as quantize_embeddings)
    toks = F.col("_toks")
    staged = df.select(F.col(group_col), tokens(F.col(text_col)).alias("_toks"))
    # guard: Spark's sequence(1, stop) REVERSES when stop < 1 (a doc
    # with < n tokens would index element_at(0) — an ANSI error)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        staged.select(F.col(group_col), F.explode(grams).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .groupBy(group_col, "ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy(group_col).orderBy(F.desc("cnt"), F.col("ngram"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(group_col, F.col("rk").cast("int").alias("rk"), "ngram", "cnt")
    )


def bpe_pair_counts(df, text_col: str, top: int = 20):
    """One BPE merge-candidate scan: corpus-wide counts of adjacent
    character pairs inside BPE-ish pre-tokens (letter runs / digit
    runs / punctuation — ``BPE_PATTERN``), returning the ``top`` pairs
    by (count desc, pair asc).  Iterating this scan + merging the
    argmax pair IS byte-pair-encoding vocabulary construction; one
    step is the operator (SURVEY §2.4 extension) because each
    iteration is a fresh corpus
    aggregate (the merge rewrites the token stream between steps).

    Scale shape: token and pair expansion are projections (regexp
    extract + adjacent-substring transform + explode); the count is a
    two-phase aggregate whose key domain is bounded by the alphabet
    squared (~1-10k pairs, NOT corpus-sized), so the exchange is tiny
    regardless of input; the global top-k plans as per-partition heaps
    (TakeOrderedAndProject)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length(F.col("_tok")) - F.lit(1)),
        lambda i: F.col("_tok").substr(i, F.lit(2)),
    )
    return (
        df.select(F.explode(toks).alias("_tok"))
        .filter(F.length("_tok") >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("pair"))
        .limit(top)
    )


def quality_funnel(
    df,
    text_col: str,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    min_quality: float = 0.35,
):
    """Filter-funnel attrition report: how many docs survive each
    successive quality gate — (1) non-empty after normalization,
    (2) token count in [min_tokens, max_tokens], (3) composite
    quality ≥ min_quality, (4) zero PII matches — with per-stage pass
    counts and the share of the ORIGINAL corpus remaining.  The
    observability query every curation pipeline runs before committing
    thresholds: a stage that suddenly drops 40% is a bug or a drift,
    and you want to know WHICH stage.

    Scale shape: all four predicates are pure Columns computed in ONE
    projection pass (no joins, no shuffle of the data); the cumulative
    AND collapses to four counters via map-side partial aggregation,
    and the 4-row report is assembled from the single aggregate row
    with a literal explode — driver never sees data, only counters."""
    t = F.col(text_col)
    s1 = F.length(normalize_text(t)) > 0
    ntok = token_count(t)
    s2 = s1 & ntok.between(min_tokens, max_tokens)
    s3 = s2 & (quality_score(t) >= F.lit(float(min_quality)))
    s4 = s3 & (pii_match_count(t) == 0)
    agg = df.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(s1.cast("long")).alias("n1"),
        F.sum(s2.cast("long")).alias("n2"),
        F.sum(s3.cast("long")).alias("n3"),
        F.sum(s4.cast("long")).alias("n4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(name).alias("gate"),
                F.col(f"n{i}").alias("n_pass"),
            )
            for i, name in enumerate(
                ["input", "non_empty", "token_range", "quality_min", "pii_free"]
            )
        ]
    )
    return (
        agg.select(F.explode(stages).alias("s"), F.col("n0"))
        .select(
            F.col("s.stage").cast("int").alias("stage"),
            F.col("s.gate").alias("gate"),
            F.col("s.n_pass").alias("n_pass"),
            F.round(F.col("s.n_pass") / F.col("n0").cast("double"), 6).alias(
                "share_of_input"
            ),
        )
        .orderBy("stage")
    )


def distinct_ngram_stats(df, text_col: str, group_col: str, max_n: int = 3):
    """Corpus lexical-diversity profile per group: for n = 1..``max_n``,
    the total n-gram positions, the distinct n-gram count, and
    distinct-n = distinct/total — the standard diversity metric
    (Li et al. 2016's distinct-1/-2) that flags template-generated or
    mode-collapsed text (low distinct-n) before it dilutes a training
    mix; n=1 is the classic type-token ratio.

    Returns ``(group, n, total_ngrams, distinct_ngrams,
    distinct_ratio)`` — one row per (group, n).

    Scale: tokens are staged ONCE (one corpus scan + tokenize, lineage
    cut with a lazy ``localCheckpoint`` so the ``max_n``-way union
    fan-out rereads the staged arrays, not the text — the health
    report's staging pattern), then one explode per n over the staged
    arrays, unioned, then a two-phase ``(group, n, gram)`` count
    followed by a bounded ``(group, n)`` rollup — the same
    aggregate-the-aggregate shape as the health report's gram tallies;
    no COUNT(DISTINCT) expand, no window, state bounded by vocabulary
    size.
    """
    from pyspark.sql import functions as F

    from spear_spark.operators.dedup import ngram_positions

    staged = stage(df.select(F.col(group_col), tokens(F.col(text_col)).alias("_toks")))
    levels = [
        ngram_positions(
            staged, [F.col(group_col), F.lit(n).alias("n")], F.col("_toks"), n
        )
        for n in range(1, max_n + 1)
    ]
    grams = levels[0]
    for lv in levels[1:]:
        grams = grams.unionAll(lv)
    per_gram = grams.groupBy(group_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_gram.groupBy(group_col, "n").agg(
        F.sum("c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6
        ).alias("distinct_ratio"),
    )


def _merge_pair(syms: tuple, a: str, b: str) -> tuple:
    """Standard BPE merge application: replace every left-to-right
    non-overlapping adjacent (a, b) occurrence with the fused symbol."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def bpe_learn(
    df,
    text_col: str,
    n_merges: int,
    top_words: int = 50_000,
    balance_by: str | None = None,
    balance_scale: int = 1000,
):
    """Learn a BPE merge table from the corpus — the full vocabulary-
    construction loop p63's single pair-scan is one step of (Sennrich,
    Haddow & Birch 2016).  Returns (rank, left, right, merged, cnt):
    the merge learned at each rank and the weighted pair count that
    won it; ties break by (left, right) ascending, so the table is
    deterministic.  Stops early if the symbol stream runs out of pairs.

    ``balance_by`` is the fertility-equalization knob the per-language
    fertility readout (:func:`bpe_fertility`) calls for: a vocabulary
    trained on raw counts is owned by the majority slice, so a
    minority language pays more (shorter) tokens per word.  Pass a
    group column (e.g. ``lang``) and every group's word counts are
    reweighted to EQUAL total pre-token mass before the trainer runs:
    ``freq'(w) = Σ_g count_g(w) · m_g`` with the integer multiplier
    ``m_g = (T_max · balance_scale) div T_g`` (``T_g`` = the group's
    total pre-token count, ``T_max`` the largest group's) — exact
    int64 arithmetic end-to-end, so the merge argmax stays
    engine-exact and deterministic; ``balance_scale`` bounds the
    quantization error of the ratio at 1/scale.  The law
    (tests/test_text_ops.py): on a skewed corpus, the balanced
    vocabulary strictly lowers the minority group's fertility.
    Weighted mass is bounded by |groups| · T_max · balance_scale —
    keep ``balance_scale`` ≤ 10⁶ at trillion-token scale to stay
    far inside int64.

    Scale shape — the standard trainer design, not an iterated corpus
    scan: BPE statistics are a pure function of the WORD-FREQUENCY
    table, so ONE two-phase (word, freq) aggregate over the corpus
    (pre-tokens = ``BPE_PATTERN`` runs, the p63 tokenizer) is the only
    corpus pass (balancing adds one bounded per-group total + a 1-row
    max, broadcast back — no extra corpus scan); the table is capped
    at ``top_words`` by (freq desc, word asc) — a
    TakeOrderedAndProject heap, and the cap is the standard trainer
    practice (the top words carry effectively all pair mass;
    GPT-2-style trainers learn from capped word-frequency dicts).
    The merge loop then runs driver-side over that bounded table — a
    bounded collect of ``top_words`` rows, data-size-independent like
    the k-means centroid fetch, NOT a corpus collect."""
    if n_merges < 0:
        raise ValueError("bpe_learn: n_merges must be >= 0")
    if not 0 < top_words <= 10_000_000:
        # the cap sizes BOTH the TakeOrderedAndProject heap and the
        # driver-side trainer state — an absurd cap would OOM the heap
        # long before the collect
        raise ValueError("bpe_learn: top_words must be in (0, 10_000_000]")
    if not 0 < int(balance_scale) <= 1_000_000:
        raise ValueError("bpe_learn: balance_scale must be in (0, 10^6]")
    pre_tokens = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0)
    ).alias("w")
    if balance_by is None:
        words = (
            df.select(pre_tokens)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
    else:
        from spear_spark.functions import div

        # one (group, word) count is the only corpus-sized aggregate —
        # checkpointed, because THREE consumers read it (the totals,
        # the max, and the final weighted join) and the tokenize+
        # explode pipeline behind it is the dominant trainer cost
        # (the repo's pinned multi-consumer discipline: an unstaged
        # subtree re-executes per consumer, measured 3-4×); totals and
        # the 1-row max are bounded by the group domain and ride back
        # as broadcasts — rows with a NULL group are dropped (no group
        # to equalize against), loudly documented here
        gw = stage(
            df.select(F.col(balance_by).alias("_g"), pre_tokens)
            .filter(F.col("_g").isNotNull())
            .groupBy("_g", "w")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        tot = stage(gw.groupBy("_g").agg(F.sum("_c").alias("_t")))
        tmax = tot.agg(F.max("_t").alias("_tmax"))
        mult = (
            tot.crossJoin(F.broadcast(tmax))
            .select(
                "_g",
                div(F.col("_tmax") * F.lit(int(balance_scale)), F.col("_t")).alias(
                    "_m"
                ),
            )
        )
        words = (
            gw.join(F.broadcast(mult), "_g")
            .groupBy("w")
            .agg(F.sum(F.col("_c") * F.col("_m")).alias("freq"))
        )
    words = words.orderBy(F.desc("freq"), F.col("w")).limit(int(top_words))
    vocab: dict[tuple, int] = {
        tuple(r["w"]): int(r["freq"]) for r in words.collect()
    }
    merges = []
    for rank in range(int(n_merges)):
        counts: dict[tuple, int] = {}
        for syms, freq in vocab.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        vocab = {_merge_pair(syms, a, b): freq for syms, freq in vocab.items()}
    return df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, cnt long"
    )


def _merge_list_of(merges) -> list:
    """Normalize a merge table (``bpe_learn`` DataFrame or iterable of
    (left, right) pairs in rank order) into the bounded driver-side
    list shipped in encoder task closures."""
    from pyspark.sql import DataFrame

    if isinstance(merges, DataFrame):
        return [
            (r["left"], r["right"])
            for r in merges.select("rank", "left", "right").orderBy("rank").collect()
        ]
    return [(a, b) for a, b in merges]


def _bpe_word_piece_stats(word_counts, merges):
    """Per-WORD encoder statistics: given a word-grain relation whose
    ``w`` column holds pre-token words (e.g. the (group, w, count)
    aggregate of a corpus), run the :func:`bpe_apply` merge loop once
    per distinct word per batch and APPEND ``n_pieces`` /
    ``n_char_pieces`` to the input rows.

    This is the vocabulary-grain core of the count-only tokenizer
    readouts (:func:`bpe_fertility`, :func:`bpe_coverage`): the BPE
    segmentation of a word depends only on the word, so corpus text
    never needs to cross the JVM→Python boundary — only the
    word-count table does (vocabulary-sized, ≪ corpus at any scale).
    Appending to the aggregated rows (rather than encoding a distinct
    word table and joining back) keeps the plan at the groupBy
    exchanges alone; the per-batch cache collapses duplicate words
    across groups exactly like :func:`bpe_apply`'s."""
    from pyspark.sql.types import LongType, StructField, StructType

    merge_list = _merge_list_of(merges)
    schema = StructType(
        list(word_counts.schema.fields)
        + [
            StructField("n_pieces", LongType()),
            StructField("n_char_pieces", LongType()),
        ]
    )

    def stats_batches(batches):
        cache: dict[str, tuple] = {}

        def enc_stats(w):
            got = cache.get(w)
            if got is None:
                syms = tuple(w)
                for a, b in merge_list:
                    if len(syms) < 2:
                        break
                    syms = _merge_pair(syms, a, b)
                got = cache[w] = (
                    len(syms),
                    sum(1 for s in syms if len(s) == 1),
                )
            return got

        for pdf in batches:
            stats = [enc_stats(w) for w in pdf["w"]]
            pdf["n_pieces"] = [s[0] for s in stats]
            pdf["n_char_pieces"] = [s[1] for s in stats]
            yield pdf

    return word_counts.mapInPandas(stats_batches, schema)


def bpe_apply(df, text_col: str, merges, out_col: str = "bpe_tokens"):
    """Encode ``text_col`` with a learned BPE merge table (the output
    of :func:`bpe_learn`, or an iterable of (left, right) pairs in
    rank order): pre-tokenize with ``BPE_PATTERN``, start each word as
    characters, and apply the merges in rank order — the standard
    encoder, equivalent to repeatedly fusing the lowest-rank pair
    present.  Appends ``out_col`` (array<string>) to the input rows.

    Scale shape: the merge table is bounded (``n_merges`` rows —
    collected once, shipped in the task closure) and encoding is an
    Arrow-batched ``mapInPandas`` projection — no shuffle, no per-row
    Python UDF; a per-batch word cache collapses the per-word merge
    loop to once per distinct word per batch (Zipf makes that a large
    saving)."""
    import re

    from pyspark.sql import DataFrame
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    if out_col in df.columns:
        raise ValueError(f"bpe_apply: column {out_col!r} already exists")
    merge_list = _merge_list_of(merges)
    schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(StringType()))]
    )
    # re.ASCII pins \s to Java's ASCII whitespace class so the encoder
    # pre-tokenizes exactly like the JVM-side regexp_extract_all in
    # bpe_learn/bpe_pair_counts
    pat = re.compile(BPE_PATTERN, re.ASCII)

    def encode_batches(batches):
        cache: dict[str, list] = {}

        def enc_word(w):
            got = cache.get(w)
            if got is None:
                syms = tuple(w)
                for a, b in merge_list:
                    if len(syms) < 2:
                        break
                    syms = _merge_pair(syms, a, b)
                got = cache[w] = list(syms)
            return got

        for pdf in batches:
            pdf[out_col] = [
                None
                if t is None
                else [s for w in pat.findall(str(t).lower()) for s in enc_word(w)]
                for t in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(encode_batches, schema)


#: Gopher's "stop word" presence list (Rae et al. 2021, §A.1.1 — the
#: MassiveText rule requires >= 2 of these to appear in a document).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> "DataFrame":
    """Gopher / MassiveText quality-filter rules (Rae et al. 2021,
    §A.1.1) as a per-document flag table — the published heuristic
    gate most web-corpus recipes start from, adapted to the repo's
    whitespace tokenizer: word count in [min_words, max_words], mean
    word length in [min, max], symbol-to-word ratio ('#' chars and
    '...' runs) <= max, fraction of words containing an [a-z] letter
    >= min, and at least ``min_stopword_hits`` DISTINCT
    :data:`GOPHER_STOPWORDS` present.  Emits the raw metrics, one
    boolean per rule, and ``keep`` = AND of all rules — keep the
    metrics, not just the verdict, so threshold re-tuning is a filter
    over this table, not a corpus re-scan.

    Scale shape: a single pure-Column projection per document — no
    join, no shuffle, no UDF (plan-pinned Exchange-free); ratios are
    rounded to 6dp so the flags are engine-exact (counts and lengths
    are integers; the divisions are single double ops).

    NULL text: the metrics stay NULL (nothing to measure) but every
    per-rule boolean and ``keep`` coalesce to false — a NULL row can
    never pass the gate, and consumers that negate the flag
    (``filter(~keep)`` for rejects) see it too."""
    from pyspark.sql import DataFrame  # noqa: F401 — annotation only

    from spear_spark.functions import let_

    t = F.col(text_col)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)

    def body(toks: Column) -> Column:
        n = F.size(toks)
        mean_len = F.round(
            F.length(F.concat_ws("", toks)).cast("double") / n, 6
        )
        alpha = F.round(
            F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("double") / n,
            6,
        )
        sym = F.round((n_hash + n_ellipsis).cast("double") / n, 6)
        stop = F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )
        )
        return F.struct(
            n.cast("long").alias("n_words"),
            mean_len.alias("mean_word_len"),
            sym.alias("symbol_ratio"),
            alpha.alias("alpha_word_frac"),
            stop.cast("long").alias("stopword_hits"),
        )

    m = let_(tokens(t), body)
    out = df.select(F.col(id_col), m.alias("_m")).select(
        id_col,
        "_m.n_words",
        "_m.mean_word_len",
        "_m.symbol_ratio",
        "_m.alpha_word_frac",
        "_m.stopword_hits",
    )
    # NULL text -> NULL metrics -> NULL comparisons; coalesce every
    # rule verdict to false so `keep` (and its negation) stay total
    words_ok = F.coalesce(
        F.col("n_words").between(int(min_words), int(max_words)), F.lit(False)
    )
    len_ok = F.coalesce(
        F.col("mean_word_len").between(
            float(min_mean_word_len), float(max_mean_word_len)
        ),
        F.lit(False),
    )
    sym_ok = F.coalesce(
        F.col("symbol_ratio") <= F.lit(float(max_symbol_ratio)), F.lit(False)
    )
    alpha_ok = F.coalesce(
        F.col("alpha_word_frac") >= F.lit(float(min_alpha_word_frac)), F.lit(False)
    )
    stop_ok = F.coalesce(
        F.col("stopword_hits") >= F.lit(int(min_stopword_hits)), F.lit(False)
    )
    return out.select(
        "*",
        words_ok.alias("words_ok"),
        len_ok.alias("word_len_ok"),
        sym_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stopword_ok"),
        (words_ok & len_ok & sym_ok & alpha_ok & stop_ok).alias("keep"),
    )


def cdc_chunks(
    df,
    text_col: str,
    id_col: str,
    modulus: int = 64,
) -> "DataFrame":
    """Content-defined chunking (the FastCDC/rsync boundary idea at
    token granularity): a chunk ends AFTER every token whose 32-bit
    hash ≡ 0 (mod ``modulus``), so boundaries are a pure function of
    LOCAL content — inserting or deleting text early in a document
    shifts ONLY the chunks it touches, while every later chunk keeps
    its exact text and hash (shift-robustness, law-tested).  This is
    what makes chunk-level dedup catch a re-crawled page with one new
    header paragraph: :func:`chunk_documents`' fixed-size windows all
    shift and nothing matches; CDC chunks re-align immediately.
    Expected chunk length ≈ ``modulus`` tokens.

    Emits one row per chunk: ``(id, chunk_idx, n_tokens, chunk_hash,
    chunk_text)`` with ``chunk_hash = md5(chunk_text)`` — feed the
    hash straight to :func:`~spear_spark.operators.dedup.exact_dedup`
    / :func:`~spear_spark.operators.dedup.segment_dedup`-style
    keeps, or group on it for a chunk-frequency boilerplate profile.

    Scale shape (r15): boundary detection is ONE fused HOF pass (the
    per-token md5 evaluated inline in the position filter — no
    intermediate hash array), and chunk-text assembly is a streaming
    codegen Generate: ``posexplode`` of the per-doc boundary array
    plus a per-chunk ``concat_ws(slice(toks, …))`` — the
    :func:`~spear_spark.operators.dedup.ngram_positions` recipe.  The
    pre-r15 form built the chunk ARRAY with an interpreted ``zip_with``
    (CodegenFallback, one closure call per chunk copying every token)
    after a separate ``transform`` hash pass; boundary positions,
    chunk text, hashes and multiplicities are identical (pinned by
    ``tests/test_codegen_chunk_identity.py``).  Still no shuffle, no
    Python — the same Exchange-free class as the quality gate; a
    downstream chunk-hash groupBy is the only exchange any consumer
    pays.  Empty documents produce zero rows."""
    from pyspark.sql import functions as F

    from spear_spark.functions import let_
    from spear_spark.operators.dedup import h32

    if modulus < 1:
        raise ValueError("cdc_chunks: modulus must be >= 1")

    # blank/whitespace-only docs yield zero rows (tokens('') is [''],
    # which would otherwise emit one empty chunk); after this filter
    # the token array always has >= 1 element, so `ends` is never
    # empty and the old array-form's when(n > 0) guard is vacuous.
    toked = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size(F.col("_toks"))
    # one pass: position i (1-based) is a boundary iff its token's
    # 32-bit hash ≡ 0 (mod modulus) — h32 inline, no hash array
    cut = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: h32(F.element_at(F.col("_toks"), i)) % modulus == 0,
    )
    # last chunk always ends at n (append n unless already a cut);
    # let_-bound so the filter pass runs once per row, not 3x
    ends = let_(
        cut,
        lambda c: F.when(
            (F.size(c) > 0) & (F.element_at(c, -1) == n), c
        ).otherwise(F.concat(c, F.array(n))),
    )
    staged = toked.select(F.col(id_col), "_toks", ends.alias("_ends"))
    # posexplode_OUTER, deliberately: a plain posexplode triggers
    # InferFiltersFromGenerate, which injects size(_ends) > 0 AND
    # isnotnull(_ends) below the Generate — predicate pushdown then
    # inlines the ENTIRE boundary expression (with the tokenizer
    # re-inlined per element_at access) into a per-row scan Filter,
    # re-running the whole hash pass a second time per document
    # (measured 3x slower; the pre-r15 array form paid the same
    # duplicated filter).  The rule skips outer generates, and after
    # the blank-doc filter `_ends` is provably non-null and non-empty
    # (n >= 1 ⇒ at least the appended end), so outer emits exactly the
    # same rows.
    anchored = staged.select(
        id_col,
        "_toks",
        "_ends",
        F.posexplode_outer("_ends").alias("chunk_idx", "_end"),
    )
    # chunk j spans tokens (ends[j-1], ends[j]]; posexplode's 0-based
    # pos makes the previous end a 1-based element_at lookup
    start = F.when(F.col("chunk_idx") == 0, F.lit(0)).otherwise(
        F.element_at(F.col("_ends"), F.col("chunk_idx"))
    )
    built = anchored.select(
        id_col,
        "chunk_idx",
        # tokens are \s+-split and non-empty, so the slice length IS
        # the old size(split(chunk_text, ' ')) (identity-tested)
        (F.col("_end") - start).alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("_toks"), start + F.lit(1), F.col("_end") - start)
        ).alias("chunk_text"),
    )
    return built.select(
        id_col,
        "chunk_idx",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
        "chunk_text",
    )


def bpe_fertility(
    df,
    text_col: str,
    group_col: str,
    merges,
    decimals: int = 6,
) -> "DataFrame":
    """Tokenizer fertility / compression per group — the standard
    tokenizer-evaluation readout (fertility = BPE tokens per word;
    chars per token = compression): a vocabulary trained on one
    distribution tokenizes out-of-distribution text into many more,
    shorter pieces, which inflates effective sequence lengths and
    training cost for that slice — per-LANGUAGE fertility is how that
    gets caught before training.  Emits one row per group:
    ``(group, n_docs, n_words, n_tokens, n_chars, fertility,
    chars_per_token)``.

    Words are the encoder's own ``BPE_PATTERN`` pre-tokens and chars
    their total length, so the three counts are mutually consistent
    with :func:`bpe_apply`'s segmentation by construction; groups
    whose text yields no pre-tokens (e.g. a non-Latin language under
    a letters-only cleaner) are dropped rather than dividing by zero
    — their absence from the report IS the signal.

    Scale shape (r14): the token count routes through the VOCABULARY,
    not the corpus — BPE segmentation is a pure function of the word,
    so ``n_tokens(group) = Σ_w count(group, w) · |enc(w)|``.  One
    codegen JVM (group, word) count (pre-tokens =
    ``regexp_extract_all(lower(text), BPE_PATTERN)``, the
    :func:`bpe_learn` pipeline — JVM/Python regex parity is pinned by
    ``re.ASCII`` there), one Arrow-batched encode of the DISTINCT
    word table (:func:`_bpe_word_piece_stats` — vocabulary-sized, so
    corpus text never crosses the Python boundary; the pre-r14 form
    shipped every document through ``mapInPandas``), one vocab-grain
    join, ONE two-phase aggregate per branch.  Integer sums → two
    exact divisions, rounded."""
    from pyspark.sql import functions as F

    wc = (
        df.select(
            F.col(group_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
                )
            ).alias("w"),
        )
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tok = (
        _bpe_word_piece_stats(wc, merges)
        .groupBy(group_col)
        .agg(F.sum(F.col("_c") * F.col("n_pieces")).alias("n_tokens"))
    )
    doc = df.select(
        F.col(group_col),
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0).alias("_ws"),
    ).select(
        group_col,
        F.size("_ws").alias("_w"),
        F.length(F.concat_ws("", F.col("_ws"))).alias("_c"),
    )
    return (
        doc.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_words"),
            F.sum("_c").alias("n_chars"),
        )
        .join(tok, group_col, "left")
        .filter((F.col("n_words") > 0) & (F.col("n_tokens") > 0))
        .select(
            group_col,
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), decimals
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double") / F.col("n_tokens"), decimals
            ).alias("chars_per_token"),
        )
    )


def packing_preview(
    df,
    text_col: str,
    group_col: str,
    context_len: int,
    decimals: int = 6,
) -> "DataFrame":
    """Training-sequence yield per group under a context length — the
    token-budget readout that turns corpus token counts into the
    numbers a pretraining plan is actually priced in: how many
    length-``context_len`` sequences does each slice yield, and how
    much is lost to padding if documents are NOT packed?  Emits one
    row per group: ``(group, n_docs, n_tokens, n_overflow_docs,
    n_seq_packed, n_seq_padded, pad_waste_frac)`` where

    * ``n_seq_packed`` = ceil(n_tokens / L): concat-and-chunk packing
      (the GPT-style packed-pretraining estimate, one stream per
      group) — the floor any packing scheme can reach;
    * ``n_seq_padded`` = Σ_docs ceil(n_doc / L): one-doc-per-sequence
      with padding — the ceiling a naive loader pays;
    * ``pad_waste_frac`` = (n_seq_padded·L − n_tokens) /
      (n_seq_padded·L): the padding share of the naive loader's token
      budget (law: packed ≤ padded, and both are exact integer
      arithmetic — ceil division is ``(x + L − 1) div L`` on int64,
      never a float floor, the 2^53 bucketing trap).  The fraction is
      rounded to ``decimals`` places ENTIRELY in integer space —
      half-up = ``(num·2·10^d + den) div (2·den)`` — because L-smooth
      denominators land on exact decimal MIDPOINTS routinely (hit at
      sf0.01: 1647/3200 = 0.5146875, where Spark's decimal-string
      HALF_UP and an oracle's raw-double rounding disagree on the
      6th digit); integer half-up is bit-identical in any engine.
      Bound: den·2·10^d must stay inside int64, i.e. a group's padded
      token budget below ~4.6e12 at d=6 — shard the group or lower
      ``decimals`` beyond that;
    * ``n_overflow_docs`` = docs longer than L (the slice that forces
      a truncation/chunking decision either way).

    Tokens are the repo's whitespace tokenizer (``tokens``), so the
    counts are mutually consistent with p10's token stats; swap in a
    BPE count upstream by passing a pre-tokenized length column
    through a projection if the plan is priced in BPE tokens.

    Scale shape: one narrow projection (per-doc token count) + ONE
    two-phase aggregate on the group key — integer sums, two exact
    divisions per group row.  Nothing data-dependent on the driver."""
    from pyspark.sql import functions as F

    from spear_spark.functions import div

    if int(context_len) < 1:
        raise ValueError("packing_preview: context_len must be >= 1")
    L = int(context_len)
    nt = F.size(tokens(F.col(text_col)))
    per_doc = df.select(
        F.col(group_col),
        nt.cast("long").alias("_nt"),
        div(nt.cast("long") + F.lit(L - 1), F.lit(L)).alias("_seq"),
    )
    agg = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum((F.col("_nt") > L).cast("long")).alias("n_overflow_docs"),
        F.sum("_seq").alias("n_seq_padded"),
    )
    packed = div(F.col("n_tokens") + F.lit(L - 1), F.lit(L))
    num = F.col("n_seq_padded") * L - F.col("n_tokens")
    den = F.col("n_seq_padded") * L
    scale = 10 ** int(decimals)
    waste = div(num * (2 * scale) + den, den * 2).cast("double") / F.lit(
        float(scale)
    )
    return agg.select(
        group_col,
        "n_docs",
        "n_tokens",
        "n_overflow_docs",
        packed.alias("n_seq_packed"),
        "n_seq_padded",
        (waste + F.lit(0.0)).alias("pad_waste_frac"),
    )


def bpe_coverage(
    df,
    text_col: str,
    group_col: str,
    merges,
    decimals: int = 6,
) -> "DataFrame":
    """Vocabulary coverage / character-fallback rate per group — the
    third tokenizer-eval readout beside fertility
    (:func:`bpe_fertility`) and the balanced trainer
    (:func:`bpe_learn` ``balance_by``): a word the merge table cannot
    compress falls back to single-character symbols (the BPE analogue
    of byte fallback), and a slice whose text mostly segments into
    characters is paying maximum sequence-length cost AND getting the
    least meaningful units.  Emits one row per group:
    ``(group, n_tokens, n_char_tokens, char_token_frac)`` where
    ``n_char_tokens`` counts emitted symbols of length 1.

    Laws (tests): ``char_token_frac == 1.0`` under an empty merge
    table; monotone non-increasing in ``n_merges`` (a merge only
    fuses symbols — the single-character population can never grow);
    an out-of-distribution group shows strictly higher fallback than
    the group the vocabulary was trained on.

    Scale shape (r14): the :func:`bpe_fertility` vocabulary route —
    one codegen JVM (group, word) count, one Arrow-batched encode of
    the DISTINCT word table (:func:`_bpe_word_piece_stats`; corpus
    text never crosses the Python boundary), one vocab-grain join,
    ONE two-phase aggregate — ``n_tokens = Σ count·|enc(w)|``,
    ``n_char_tokens = Σ count·|{s ∈ enc(w) : |s|=1}|``.  Groups whose
    every document is NULL/empty produce no row (nothing was
    tokenized — absence is the signal, the :func:`bpe_fertility`
    convention)."""
    from pyspark.sql import functions as F

    wc = (
        df.select(
            F.col(group_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
                )
            ).alias("w"),
        )
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        _bpe_word_piece_stats(wc, merges)
        .groupBy(group_col)
        .agg(
            F.sum(F.col("_c") * F.col("n_pieces")).alias("n_tokens"),
            F.sum(F.col("_c") * F.col("n_char_pieces")).alias("n_char_tokens"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_char_tokens",
            (
                F.round(
                    F.col("n_char_tokens").cast("double") / F.col("n_tokens"),
                    decimals,
                )
                + F.lit(0.0)
            ).alias("char_token_frac"),
        )
    )


def zipf_fit(
    df,
    text_col: str,
    group_col: str,
    top_ranks: int = 100,
    decimals: int = 6,
):
    """Zipf rank-frequency fit per group: OLS of ln(freq) on ln(rank)
    over the top ``top_ranks`` token ranks — natural text runs a slope
    near −1 (Zipf's law), so a slice whose slope collapses toward 0
    (flat — template/boilerplate spam) or dives steep (a few tokens
    dominate — degenerate generations) is mis-distributed in a way
    mean-based stats never show.  One row per group: ``(group,
    n_ranks, slope, intercept, r2)``; slope/r2 are NULL when the fit
    is undefined (fewer than 2 ranks, or zero x/y variance).

    Ranks are deterministic: (freq DESC, token ASC) — ties broken
    lexically, so both engines see the identical (rank, freq) table;
    the OLS closed form is evaluated with the identical operation
    order in the oracle.  Intercept uses the UNROUNDED slope.

    Scale shape: explode + ONE two-phase (group, token) count — the
    map-side combine collapses the corpus to the vocab table before
    the exchange — then a per-group window over the VOCAB table (the
    :func:`top_ngrams_per_group` shape), and the fit itself aggregates
    ≤ ``top_ranks`` rows per group.  For web-scale vocabularies,
    prefilter the tail (``freq >= k``) before the window — the top
    ranks are unaffected by construction."""
    from pyspark.sql.window import Window as W

    if top_ranks < 2:
        raise ValueError("zipf_fit: top_ranks must be >= 2")
    tok = df.select(
        F.col(group_col).alias("group"), F.explode(tokens(text_col)).alias("_w")
    )
    freq = tok.groupBy("group", "_w").agg(F.count(F.lit(1)).alias("_f"))
    w = W.partitionBy("group").orderBy(F.desc("_f"), F.asc("_w"))
    ranked = freq.select(
        "group", F.row_number().over(w).alias("_r"), "_f"
    ).filter(F.col("_r") <= top_ranks)
    terms = ranked.select(
        "group",
        F.log(F.col("_r").cast("double")).alias("_x"),
        F.log(F.col("_f").cast("double")).alias("_y"),
    )
    agg = terms.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    r = F.col("n_ranks").cast("double")
    sx, sy = F.col("_sx"), F.col("_sy")
    num = r * F.col("_sxy") - sx * sy
    den = r * F.col("_sxx") - sx * sx
    vy = r * F.col("_syy") - sy * sy
    slope = num / den
    fit_ok = (F.col("n_ranks") >= 2) & (den != 0.0)
    return agg.select(
        "group",
        "n_ranks",
        F.when(fit_ok, F.round(slope, decimals) + F.lit(0.0)).alias("slope"),
        F.when(
            fit_ok, F.round((sy - slope * sx) / r, decimals) + F.lit(0.0)
        ).alias("intercept"),
        F.when(
            fit_ok & (vy != 0.0),
            F.round(num * num / (den * vy), decimals) + F.lit(0.0),
        ).alias("r2"),
    )


def heaps_fit(
    df,
    text_col: str,
    group_col: str,
    decimals: int = 6,
):
    """Heaps'-law fit across groups: each group (source/shard/day) is
    one point (N = total tokens, V = distinct tokens); OLS of ln(V) on
    ln(N) across the points recovers the corpus's vocabulary-growth
    exponent (natural text: V ≈ K·N^β, β ~ 0.4–0.6), and each group's
    RESIDUAL from the fitted line is the readout — a source sitting
    far below the line has too little vocabulary for its size
    (template/boilerplate mill), far above it is vocabulary-anomalous
    (spam, encoding junk).  The cross-group complement of
    :func:`zipf_fit` (which watches ONE group's internal rank curve).

    One row per group: ``(group, n_tokens, vocab, beta, r2,
    residual)`` — beta/r2 are the shared fit (repeated per row, NULL
    when the fit is undefined: fewer than 2 groups or zero x-variance);
    residual = ln(V) − (α + β·ln(N)), NULL when the fit is.

    Scale shape: explode + ONE two-phase (group, token) count —
    map-side combine collapses the corpus to the vocab table — then a
    per-group count and a global window over the |groups|-row point
    table (bounded by design, the fixed_width_histogram posture).
    Group totals stay exact int64; only the ln/OLS step floats, with
    the identical operation order in the oracle."""
    from pyspark.sql.window import Window as W

    tok = df.select(
        F.col(group_col).alias("group"), F.explode(tokens(text_col)).alias("_w")
    )
    vocab = tok.groupBy("group", "_w").agg(F.count(F.lit(1)).alias("_c"))
    pts = vocab.groupBy("group").agg(
        F.sum("_c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    x = F.log(F.col("n_tokens").cast("double"))
    y = F.log(F.col("vocab").cast("double"))
    w_all = W.partitionBy()
    staged = pts.select(
        "group",
        "n_tokens",
        "vocab",
        x.alias("_x"),
        y.alias("_y"),
        F.count(F.lit(1)).over(w_all).cast("double").alias("_k"),
        F.sum(x).over(w_all).alias("_sx"),
        F.sum(y).over(w_all).alias("_sy"),
        F.sum(x * y).over(w_all).alias("_sxy"),
        F.sum(x * x).over(w_all).alias("_sxx"),
        F.sum(y * y).over(w_all).alias("_syy"),
    )
    k = F.col("_k")
    sx, sy = F.col("_sx"), F.col("_sy")
    num = k * F.col("_sxy") - sx * sy
    den = k * F.col("_sxx") - sx * sx
    vy = k * F.col("_syy") - sy * sy
    beta = num / den
    alpha = (sy - beta * sx) / k
    fit_ok = (k >= 2) & (den != 0.0)
    return staged.select(
        "group",
        "n_tokens",
        "vocab",
        F.when(fit_ok, F.round(beta, decimals) + F.lit(0.0)).alias("beta"),
        F.when(
            fit_ok & (vy != 0.0),
            F.round(num * num / (den * vy), decimals) + F.lit(0.0),
        ).alias("r2"),
        F.when(
            fit_ok,
            F.round(F.col("_y") - (alpha + beta * F.col("_x")), decimals)
            + F.lit(0.0),
        ).alias("residual"),
    )


def lang_confusion(
    df,
    text_col: str,
    label_col: str,
    decimals: int = 6,
):
    """Language-ID confusion matrix: labeled language vs
    :func:`lang_id`'s detection, one row per observed (labeled,
    detected) pair with the count and the row share (share of that
    labeled language) — the detector-evaluation readout every lang-id
    gate needs before its output drives filtering: a 'de' row leaking
    30% into 'und' means the stopword table is starving, and filtering
    on detected lang would silently halve German.  The categorical
    sibling of the filter-eval family (p126/p138/p142/p147 judge
    boolean/continuous scores; this judges a multiclass labeler).

    Scale shape: ONE two-phase (labeled, detected) aggregate — the
    corpus collapses to ≤ |langs|² cells before the exchange; the row
    share is a window over that CELL table.  Counts exact int64; the
    share is one rounded division."""
    from pyspark.sql.window import Window as W

    base = df.select(
        F.coalesce(F.col(label_col).cast("string"), F.lit("und")).alias(
            "labeled_lang"
        ),
        lang_id(text_col).alias("detected_lang"),
    )
    m = base.groupBy("labeled_lang", "detected_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = W.partitionBy("labeled_lang")
    return m.select(
        "labeled_lang",
        "detected_lang",
        "n_docs",
        (
            F.round(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(w).cast("double"),
                decimals,
            )
            + F.lit(0.0)
        ).alias("row_frac"),
    )


def readability(
    df,
    text_col: str,
    group_col: str,
    decimals: int = 6,
):
    """Per-group Flesch-Kincaid grade estimate from three exact integer
    tallies — words (whitespace tokens), sentences (maximal ``[.!?]+``
    runs, floored at one per doc), and syllables (maximal vowel runs
    ``[aeiouy]+`` in the lowercased text — the classic heuristic;
    vowel runs cannot cross whitespace, so the count decomposes per
    word) — the complexity axis the p09 quality score does not carry:
    two sources can match on length/stopword profile while one is
    grade-4 simple wikipedia and the other grade-14 legalese, and a
    curriculum (p105) or mix plan wants to know.  One row per group:
    ``(group, n_docs, n_words, n_sentences, n_syllables,
    words_per_sentence, syllables_per_word, fk_grade)`` with
    FK = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.

    Exactness: the three tallies are associative int64 sums — the
    ratios and the FK line are single double operations on exact
    integers (identical op order in the oracle), so there is no
    sum-order surface at all (the p159 discipline by construction).
    Groups with zero words are dropped (their absence is the signal).

    Scale shape: pure projection (three regexp counts per row) + ONE
    two-phase aggregate on the group key."""
    c = F.col(text_col)
    words = F.size(tokens(text_col)).cast("long")
    sentences = F.greatest(
        F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    syllables = F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")).cast("long")
    agg = (
        df.select(
            F.col(group_col).alias("group"),
            words.alias("_w"),
            sentences.alias("_s"),
            syllables.alias("_y"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_words"),
            F.sum("_s").alias("n_sentences"),
            F.sum("_y").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return agg.select(
        "group",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.round(wps, decimals) + F.lit(0.0)).alias("words_per_sentence"),
        (F.round(spw, decimals) + F.lit(0.0)).alias("syllables_per_word"),
        (F.round(fk, decimals) + F.lit(0.0)).alias("fk_grade"),
    )
