"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All engine-portable (md5-based hashing — identical in Spark and DuckDB)
and expressed as DataFrame compositions so Catalyst plans the shuffles.

Scale design (the point of each algorithm at 100 TB):

* **exact** — one hash-partition shuffle on a 128-bit content hash;
  map-side partial aggregation collapses duplicates before the exchange.
* **MinHash LSH** — per-doc signatures are a narrow projection (no
  shuffle); banding turns near-dup search from O(n²) into a groupBy on
  (band, band_hash) buckets: only same-bucket docs are paired.  Bucket
  skew (a band-hash with millions of docs) is the failure mode — cap
  bucket size or salt before the pair join.
* **SimHash** — one 64-bit fingerprint per doc via a single explode +
  re-aggregate; near-dup = same fingerprint (or small Hamming distance
  via rotations).  Cheapest of the fuzzy family.
* **n-gram Jaccard** — exact pairwise similarity via an inverted index
  (explode shingles → self-join on shingle → count).  Quadratic in the
  worst case; at scale always run it *after* LSH/SimHash blocking to
  verify candidates, never standalone.

Hash convention (engine-portable): ``h64(s) = int(md5(s)[:15], 16)``,
``h32(s) = int(md5(s)[:8], 16)`` — computed in Spark as
``conv(substring(md5(s),1,N),16,10)`` and in DuckDB as
``('0x'||substr(md5(s),1,N))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spear_spark.config import stage
from spear_spark.functions import let_
from spear_spark.operators.text import tokens

MERSENNE31 = 2147483647  # modulus keeps a*h+b inside int64


def h64(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h32(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def minhash_perms(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k permutations
    h_i(x) = (a_i * x + b_i) mod 2^31-1, via a fixed LCG so the DuckDB
    oracle can regenerate the identical constants."""
    perms, state = [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = 1 + state % (MERSENNE31 - 1)
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MERSENNE31
        perms.append((a, b))
    return perms


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles (token n-grams).  Word-level shingling
    is the standard unit for document near-dup (vs char k-grams).

    Implementation notes: built with ``zip_with`` over shifted slices,
    NOT ``transform`` + ``element_at`` — inside interpreted HOF lambdas
    each ``element_at(tokens_expr, i)`` re-evaluates the underlying
    regex split per element access (observed ~100× slowdown on 100-token
    docs).  ``zip_with`` evaluates each array argument exactly once.
    The token array is ``let_``-bound: this expression references it
    ~n+2 times, and interpreted projections have no common-subexpression
    elimination, so an unbound reference re-runs the split per use."""

    def body(toks: Column) -> Column:
        big = F.greatest(F.size(toks), F.lit(1))
        grams = toks
        for j in range(1, n):
            # zip pads the shorter (shifted) side with null; F.concat
            # null-propagates so overhanging grams become null and are
            # trimmed by the final slice.
            shifted = F.slice(toks, j + 1, big)
            grams = F.zip_with(grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
        n_grams = F.size(toks) - (n - 1)
        empty = F.array().cast("array<string>")
        return F.array_distinct(
            F.when(n_grams >= 1, F.slice(grams, 1, n_grams)).otherwise(empty)
        )

    return let_(tokens(text), body)


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of the lower/trim-normalized text —
    the CHARACTER-grain shingle unit (Broder's original k-gram form)
    word shingles cannot substitute for when edits land INSIDE words:
    one flipped character destroys every word shingle containing that
    word, but only the ≤n char-grams overlapping the flipped position
    — OCR noise, diacritic strips, and machine mangling keep most
    char-grams intact while zeroing word-shingle overlap.

    Same HOF discipline as :func:`shingles`: the normalized string is
    ``let_``-bound (one lower/trim per row, not one per gram) and the
    grams come from one ``transform`` over a position sequence —
    inside the lambda the string is a bound VALUE, so each
    ``substr`` is an O(n) slice of an already-computed buffer.  The
    ``greatest(..., 1)`` guard keeps ``sequence`` ascending for
    short strings (Spark reverses a descending sequence rather than
    returning empty); the ``when`` gate discards the junk gram.
    NULL / too-short text yields an empty array, so such docs produce
    no signature rows downstream — the word-path convention."""
    if n < 1:
        raise ValueError(f"char_shingles: n must be >= 1, got {n}")

    def body(s: Column) -> Column:
        n_grams = F.length(s) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: s.substr(i, F.lit(n)),
        )
        empty = F.array().cast("array<string>")
        return F.array_distinct(
            F.when(n_grams >= 1, grams).otherwise(empty)
        )

    base = F.col(text) if isinstance(text, str) else text
    return let_(F.lower(F.trim(base)), body)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized content hash: one row per distinct
    content, keeping the smallest id (canonical representative)."""
    key = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.groupBy(key.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    shingle_n: int = 3,
    char_n: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as k columns mh0..mh{k-1}: one shingle
    explode + a k-way MIN aggregate.

    Why not a pure ``array_min(transform(...))`` projection (the
    original form): interpreted HOF projections get NO subexpression
    elimination, so k signature columns re-evaluate the whole shingle
    pipeline k times per row — measured 9 s vs ~1 s at sf0.1 for k=12.
    The aggregate form evaluates shingles once, the k permutation mins
    are cheap codegen arithmetic, map-side partials collapse to one row
    per doc before the exchange, and downstream self-joins reuse the
    exchange instead of recomputing.  Docs with no shingles (< n
    tokens) produce no signature row — they cannot near-dup match and
    the DuckDB oracle's ``GROUP BY`` does the same.

    ``char_n`` switches the shingle unit from ``shingle_n``-WORD grams
    to ``char_n``-CHARACTER grams — the grain that keeps near-dup
    signal under within-word edits (OCR noise); the signature/banding
    arithmetic is identical either way.

    Gram generation is a STREAMING codegen Generate — one
    ``explode(sequence(1, n_positions))`` anchor plus a per-row
    ``array_join(slice(toks, i, n))`` (word) / ``substring(s, i, n)``
    (char) — not the :func:`shingles`/:func:`char_shingles` gram-ARRAY
    construction those verify-side consumers need: the array form pays
    n−1 interpreted ``zip_with`` passes (word) or a per-element
    ``transform`` closure (char) plus an ``array_distinct``, all
    CodegenFallback, to build an array the signature aggregate
    immediately explodes away.  MIN over duplicate grams equals MIN
    over the distinct set, so skipping the distinct leaves every
    signature bit-identical (A/B-diffed at sf0.1: 5000 = 5000 rows, 0
    diffs both ways, word AND char grain); docs with no full gram
    (NULL/short text) explode to zero rows and still produce no
    signature row, the array-path convention.  Measured interleaved at
    sf0.1: p134 (char) 11.1→7.0 s, p132 3.7→2.5 s, p03 4.0→3.1 s
    medians.

    Scale: shuffle volume is docs × (k+1) longs, independent of
    document length.  The input is widened to full parallelism first
    (the :func:`_shingle_pair_intersections` discipline): the gram
    explode + k-way MIN does ~50× the scan's work, and a single-file
    scan would otherwise run it on one core (measured 4.4→2.5 s on
    the char-gram path at sf0.1)."""
    df = _widen_narrow_scan(df)
    if char_n is None:
        staged = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
        npos = F.size("_tk") - (shingle_n - 1)
        gram = F.array_join(F.slice(F.col("_tk"), F.col("_i"), shingle_n), " ")
    else:
        if char_n < 1:
            raise ValueError(f"minhash_signatures: char_n must be >= 1, got {char_n}")
        staged = df.select(
            F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("_tk")
        )
        npos = F.length("_tk") - (char_n - 1)
        gram = F.substring(F.col("_tk"), F.col("_i"), F.lit(char_n))
    seq = F.when(
        npos >= 1, F.sequence(F.lit(1), F.greatest(npos, F.lit(1)))
    ).otherwise(F.array().cast("array<int>"))
    hv = staged.select(F.col(id_col), "_tk", F.explode(seq).alias("_i")).select(
        F.col(id_col), (h64(gram) % MERSENNE31).alias("_hv")
    )
    aggs = [
        F.min((F.lit(a) * F.col("_hv") + F.lit(b)) % MERSENNE31).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_perms(k))
    ]
    return hv.groupBy(id_col).agg(*aggs)


def _minhash_sig_from_arrays(base: DataFrame, id_col: str, k: int) -> DataFrame:
    """Signature aggregate over an EXISTING (id, ``_shs`` shingle-array)
    staging — factored out of :func:`minhash_signatures` so compositions
    that also consume the shingle arrays directly
    (:func:`lsh_verified_pairs`' exact verify) can compute the
    corpus-proportional shingle transform ONCE and feed both the
    signature pipeline and the array consumers.  Identical expressions
    to the inline form — only the staging boundary differs."""
    hv = base.select(F.col(id_col), F.explode("_shs").alias("_s")).select(
        F.col(id_col), (h64(F.col("_s")) % MERSENNE31).alias("_hv")
    )
    aggs = [
        F.min((F.lit(a) * F.col("_hv") + F.lit(b)) % MERSENNE31).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_perms(k))
    ]
    return hv.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    char_n: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket.
    Returns (doc_a, doc_b, shared_bands).  rows/band = k/bands.
    ``char_n`` switches to character-gram signatures (see
    :func:`minhash_signatures`)."""
    assert k % bands == 0
    sig = minhash_signatures(df, text_col, id_col, k, shingle_n, char_n=char_n)
    return _lsh_pairs_from_sig(sig, id_col, k, bands)


def _lsh_pairs_from_sig(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """Banded candidate pairs from an EXISTING signature table
    (``mh0..mh{k-1}`` columns) — factored out of
    :func:`minhash_lsh_pairs` so a composition that also consumes the
    signatures directly (:func:`lsh_calibration`'s per-pair match
    count) can compute the corpus-proportional signature pipeline ONCE
    and feed both branches, instead of re-running the shingle explode
    + k-way MIN aggregate per consumer."""
    r = k // bands
    # ONE pass over the signatures: explode an array of (band, hash)
    # structs.  A union of per-band selects would re-evaluate the whole
    # signature pipeline (shingle explode + k minhash aggregates) once
    # per band — measured 2× on the composed p29 path.
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(
                F.concat_ws(
                    "_", *[F.col(f"mh{bi * r + j}").cast("string") for j in range(r)]
                )
            ).alias("bh"),
        )
        for bi in range(bands)
    ]
    # Materialize the band array as a named column and explode the
    # column REFERENCE: putting the array expression inside explode()
    # lets CollapseProject inline the full signature pipeline into the
    # interpreted Generate, where it re-evaluates per band element with
    # no codegen subexpression elimination (measured 4×).
    with_arr = sig.select(F.col(id_col), F.array(*band_structs).alias("_bands"))
    stacked = with_arr.select(
        F.col(id_col), F.explode("_bands").alias("_bb")
    ).select(id_col, F.col("_bb.band").alias("band"), F.col("_bb.bh").alias("bh"))
    # Materialize the (id, band, bh) table ONCE behind a lazy
    # localCheckpoint before the self-join: both join sides would
    # otherwise re-run the whole signature pipeline (shingle explode +
    # k minhash aggregates — the dominant cost) since ReuseExchange
    # can't unify a probe-side shuffle with a build-side broadcast.
    # The chunk_dedup_report multi-consumer pattern; measured 0.8s off
    # a 3.9s candidate pass at sf0.1, and at scale it halves the
    # corpus-proportional signature work.  The checkpointed table is
    # corpus x bands narrow rows.
    stacked = stage(stacked)
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Per-doc SimHash fingerprint over distinct tokens: bit b of the
    fingerprint is the majority vote of bit b across token hashes.
    Single explode + one groupBy (partial aggregation collapses the
    token fan-out map-side).

    Deliberately NOT widened (`_widen_narrow_scan`), unlike
    :func:`minhash_signatures`: measured at sf0.1 (interleaved A/B on
    p19, 6 paired reps) the widen made the query 3.02 vs 2.54 s median
    — the corpus-text repartition costs more than the single-task
    signature stage saves, because the downstream banding runs over
    DISTINCT fingerprints (2 949 at sf0.1) so the sig stage is a small
    share of the query.  At real scale the input arrives in many splits
    and the widen would be a no-op anyway."""
    toks = F.array_distinct(tokens(text_col))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("tok")).withColumn(
        "th", h32(F.col("tok"))
    )
    votes = [
        F.sum(((F.shiftright(F.col("th"), b) % 2) * 2 - 1)).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fp = bit if fp is None else fp + bit
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``,
    via pigeonhole banding IN FINGERPRINT SPACE: the fingerprint splits
    into ``max_hamming + 1`` disjoint bands, and any pair within the
    Hamming budget must agree exactly on ≥1 band — so candidates come
    from an equi-join on (band, band_value), never an all-pairs scan.
    The banding is lossless (pigeonhole), so results equal the
    brute-force join.  Returns (doc_a, doc_b, hamming).

    Scale structure: the candidate join runs over *distinct
    fingerprints*, not documents — on corpora where fingerprints
    cluster (low lexical diversity, boilerplate, near-dup-heavy dumps)
    this shrinks the quadratic pair space by (distinct/docs)² before
    any per-pair work (measured 3.5× at sf0.1: 9.5 M doc-level band
    candidates → fingerprint-level candidates on 2 949 distinct
    values).  Qualifying fingerprint pairs (plus hamming-0 identical
    fingerprints) then expand back to document pairs through two joins
    on the doc→fingerprint table, so no per-fingerprint doc list is
    ever materialized and a giant duplicate cluster is just a large
    join group.

    The signature table is materialized ONCE via a lazy
    ``localCheckpoint`` before fan-out: the plan references ``sig``
    five times (distinct fingerprints, two expansion sides, two
    identical-fingerprint sides) and Catalyst's column pruning
    specializes each copy, so ReuseExchange never fires and the
    token-explode + 32-vote aggregate would run five times (measured:
    6 parquet scans / 8 explodes / 0 reused exchanges in the
    un-checkpointed plan; ~1.8× wall-time).  ``sig`` is docs × (id,
    int64) — tiny relative to the corpus — so persisting it is exactly
    what a 100 TB pipeline does with its signature table (on a real
    cluster: ``persist(DISK_ONLY)`` or a parquet stage-out; local
    checkpoint trades fault tolerance for lineage truncation, which is
    the right local-mode analogue)."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sig = stage(simhash(df, text_col, id_col, bits))
    fps = sig.select("simhash").distinct()
    # one explode over the distinct fingerprints, not a union of
    # per-band selects — a union re-runs the upstream plan once per
    # band per join side (the minhash banding lesson; the array is a
    # named column so it stays out of the Generate)
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("bv"),
        )
        for i in range(n_bands)
    ]
    with_arr = fps.select(F.col("simhash"), F.array(*band_structs).alias("_bands"))
    bands = with_arr.select(F.col("simhash"), F.explode("_bands").alias("_bb")).select(
        "simhash", F.col("_bb.band").alias("band"), F.col("_bb.bv").alias("bv")
    )
    fa = bands.alias("fa")
    fb = bands.alias("fb")
    fp_pairs = (
        fa.join(
            fb,
            (F.col("fa.band") == F.col("fb.band"))
            & (F.col("fa.bv") == F.col("fb.bv"))
            & (F.col("fa.simhash") < F.col("fb.simhash")),
        )
        .select(
            F.col("fa.simhash").alias("f1"),
            F.col("fb.simhash").alias("f2"),
            F.bit_count(
                F.col("fa.simhash").bitwiseXOR(F.col("fb.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a fingerprint pair can agree on several bands
    )
    # expand fingerprint pairs back to ordered document pairs
    da = sig.select(F.col(id_col).alias("_ida"), F.col("simhash").alias("f1"))
    db = sig.select(F.col(id_col).alias("_idb"), F.col("simhash").alias("f2"))
    cross_fp = (
        fp_pairs.join(da, "f1")
        .join(db, "f2")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "hamming",
        )
    )
    # identical fingerprints: hamming 0, all in-group ordered pairs
    same_fp = (
        sig.alias("sa")
        .join(
            sig.alias("sb"),
            (F.col("sa.simhash") == F.col("sb.simhash"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}")),
        )
        .select(
            F.col(f"sa.{id_col}").alias("doc_a"),
            F.col(f"sb.{id_col}").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross_fp.unionAll(same_fp)


_EXCHANGE_NODES = frozenset(
    {
        "Join",
        "Aggregate",
        "Repartition",
        "RepartitionByExpression",
        "RepartitionOperation",
        "Rebalance",
        "Sort",
        "Window",
        "Exchange",
    }
)


def _plan_node_names(df: DataFrame) -> set[str]:
    """Node names of the optimized LOGICAL plan — first word of each
    treeString line after the tree-drawing prefix.  Node-position
    parsing, not substring search: a data literal like
    'Join our newsletter' inside a Filter condition must not read as
    a Join node (review-confirmed false positive of the naive
    ``'Join' in plan`` check)."""
    names = set()
    for line in df._jdf.queryExecution().optimizedPlan().toString().splitlines():
        stripped = line.lstrip(" :+-|")
        if stripped:
            names.add(stripped.split(" ", 1)[0].split("\n", 1)[0])
    return names


def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to the cluster's default
    parallelism so the ~50× shingle-explode work downstream runs on
    every core.

    * A plan already carrying an exchange (join / aggregate / explicit
      repartition / sort / window) is shuffle-partitioned wide —
      widening it again would ADD a shuffle the partition-count check
      skipped (measured +50% on dedup_report, whose pair stage runs
      on a join output).  Detected by optimized-plan NODE NAMES, so no
      plan→RDD conversion ever happens for composite inputs (where
      the conversion is costly) and no data literal can spoof the
      check.
    * Only for the remaining pure narrow scans / local relations is
      ``df.rdd.getNumPartitions()`` consulted — on a trivial plan the
      conversion is cheap, and it is the ONLY accurate width probe:
      file COUNT is not one, because Spark bin-packs small files into
      shared partitions (review-confirmed: 6 tiny files scanned as 3
      partitions on 4 cores and a file-count proxy skipped the widen).

    At corpus scale inputs arrive in many splits and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if _plan_node_names(df) & _EXCHANGE_NODES:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index pair core: (doc_a, doc_b, na, nb, i) for
    every doc pair sharing ≥1 surviving shingle — doc_a < doc_b, na/nb
    the full distinct-shingle counts, i the (df-capped) intersection.
    :func:`ngram_jaccard_pairs` normalizes by the union,
    :func:`containment_pairs` by each side — one pipeline, two
    metrics, so the plumbing (explode-once staging, df-cap window,
    posting-list pair generation) cannot drift apart."""

    # Single-pipeline inverted index, no self-join and no count join:
    # each exploded row carries its doc's shingle count, the posting
    # list groups (doc_id, n) structs per shingle, and ordered pair
    # combinations come straight off the sorted posting list.  Two
    # shuffles total (shingle, pair); the shingle explode is evaluated
    # exactly once.  Posting-list length is the skew knob: at corpus
    # scale, cap document frequency first (stop-shingles contribute ~0
    # to Jaccard ranking but quadratic pairs).
    # The generator stage does ~50× the input's work (shingle explode);
    # when the scan has fewer splits than cores (small/few files), one
    # input shuffle buys full-cluster parallelism for the derived work.
    df = _widen_narrow_scan(df)
    # Materialize the shingle array as a column BEFORE the explode:
    # referencing the shingle expression twice in the generator's
    # projection would re-evaluate the whole transform per exploded row
    # (observed 50× slowdown).  With `shs` as a child-projection column,
    # Generate keeps it computed once per doc and `size` is O(1).
    base = df.select(
        F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("shs")
    )
    if max_df is not None:
        # The df-cap branch reads the shingle arrays twice (once for the
        # document-frequency tally, once for the posting explode); a lazy
        # local checkpoint pays the string-side shingling exactly once.
        base = stage(base)
    # explode_OUTER + isnotnull, deliberately (r15): a plain explode of
    # the staged `shs` attribute triggers InferFiltersFromGenerate,
    # whose size(shs) > 0 filter gets alias-substituted down the pure
    # projection chain onto the SCAN — re-evaluating the entire shingle
    # transform (the ~50x amplifier) a second time per document
    # (plan-verified: a 1.3k-char Filter node carrying the full
    # zip_with chain).  The rule skips outer generates; shingle arrays
    # are never null and never contain null elements (concat of
    # non-null tokens, overhang trimmed by the final slice), so
    # outer + isnotnull(s) is row-identical: the only extra generate
    # rows are the empty-array docs' single null-gram row, which the
    # filter drops exactly as the inner explode dropped the doc.
    sh = base.select(
        F.struct(F.col("id"), F.size("shs").alias("n")).alias("d"),
        F.explode_outer("shs").alias("s"),
    ).filter(F.col("s").isNotNull())
    if max_df is not None:
        # df-cap BEFORE collect_list materializes the posting list — a
        # df-millions stop-shingle must never become one giant in-memory
        # array.  The tally is a TWO-PHASE groupBy(s).count joined back
        # to the postings, NOT count-over-window on `s`: a window
        # partition is one task, so the hottest stop-shingle would be a
        # single-task sort of O(corpus docs) rows at scale and AQE can
        # split skewed joins but never window partitions.  The partial
        # count collapses each map partition to its distinct vocabulary
        # before the exchange, the surviving-shingle set joins on the
        # same `s` hash partitioning the downstream groupBy needs, and
        # the explode recompute is cheap off the checkpointed arrays
        # (the older count+semi-join measurement that looked ~25% slower
        # predates the checkpointed staging; A/B in DESIGN.md, "Dedup family").
        # shuffle_hash: the build side is the surviving-shingle set
        # (vocabulary-sized, hash-sharded across partitions), and the
        # hint keeps the posting stream UNSORTED — SortMergeJoin would
        # reintroduce a full posting-side sort for no benefit, since the
        # downstream groupBy hash-aggregates on the same partitioning.
        ok = (
            base.select(F.explode("shs").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        sh = sh.join(ok.hint("shuffle_hash"), "s")
    postings = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_list("d")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # Ordered pair combinations off the sorted posting list via TWO
    # chained codegen Generates (posexplode anchor, then explode of the
    # strictly-after slice) — NOT a nested transform/flatten/slice
    # lambda: higher-order-function expressions are CodegenFallback
    # (interpreted, with a per-element closure call) AND the flatten
    # materializes the full |ds|²/2 struct array per posting list
    # before the explode.  The generate form streams pairs row-by-row
    # through whole-stage codegen; A/B on the sf0.1 corpus (27k posting
    # lists, 1.13M pairs): 1.35 s → 0.84 s for the pair stage, rows
    # verified identical.  greatest(…, 0) guards the anchor-is-last
    # case where the remaining-slice length would go negative.
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
    return pair.groupBy(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("i"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    top: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all doc pairs sharing ≥1 shingle, via an
    inverted index (explode → self-join on shingle → count).  Returns
    (doc_a, doc_b, jaccard) with jaccard rounded to 6dp.

    ``max_df`` is the 100 TB safety knob: shingles occurring in more
    than ``max_df`` documents are dropped *before* pair generation, so a
    stop-shingle shared by millions of docs can never explode the pair
    space quadratically (a df-D shingle contributes D·(D−1)/2 pairs).
    Semantics under the cap: the intersection counts only surviving
    shingles while denominators keep each doc's full distinct-shingle
    count — a deterministic underestimate ("pruned-intersection
    Jaccard").  Hot shingles carry ~no near-dup signal (they are shared
    by unrelated docs), so near-dup ranking is preserved; pairs whose
    only overlap was hot shingles drop out entirely.  The DuckDB oracle
    mirrors the same rule, so capped results stay exactly checkable.

    Scale: run on LSH candidates when possible; standalone, always set
    ``max_df`` on hostile corpora."""
    out = _shingle_pair_intersections(df, text_col, id_col, shingle_n, max_df).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
        ).alias("jaccard"),
    )
    if top:
        out = out.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b").limit(top)
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    top: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment: c(A→B) = |A∩B| / |A| — the
    quote/subset-duplication detector symmetric Jaccard cannot express
    (a short doc fully embedded in a long one has tiny Jaccard but
    containment 1.0; exactly the boilerplate-wrapped-copy and
    quoted-excerpt cases a curation pipeline must catch).  SURVEY §2.7
    extension; public metric (Broder's containment, 1997).

    Returns (doc_a, doc_b, cont_a_in_b, cont_b_in_a) for pairs whose
    LARGER direction meets ``threshold`` after 6dp rounding (both
    engines filter on the rounded value, keeping the pairing exact).
    Same inverted-index core, df-cap semantics, and scale shape as
    :func:`ngram_jaccard_pairs` — under ``max_df`` the capped
    intersection makes each containment a deterministic underestimate
    with full-count denominators."""
    out = _shingle_pair_intersections(df, text_col, id_col, shingle_n, max_df).select(
        "doc_a",
        "doc_b",
        F.round(F.col("i").cast("double") / F.col("na"), 6).alias("cont_a_in_b"),
        F.round(F.col("i").cast("double") / F.col("nb"), 6).alias("cont_b_in_a"),
    ).filter(
        F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
        >= F.lit(float(threshold))
    )
    if top:
        out = out.orderBy(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")).desc(),
            "doc_a",
            "doc_b",
        ).limit(top)
    return out


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: for every node u, connect all strictly-larger
    neighbors to m(u) = min({u} ∪ N(u)).  Expressed as groupBy-min +
    equi-join — no neighbor-list materialization, so a hub node with
    millions of neighbors is just a big (skew-splittable) group, never
    a driver-side or single-row blowup."""
    bidir = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        bidir.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        bidir.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: direct edges large→small, connect each node's
    smaller neighbors (and itself) to the minimum of the neighborhood."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    return _small_star_directed(d)


def _small_star_directed(d: DataFrame) -> DataFrame:
    """Small-star core over an ALREADY large→small directed,
    duplicate-free edge set — exactly the shape :func:`_large_star`
    emits (its output (u', v') = (v, m) always has u' > v' because
    m ≤ u < v, and it ends in ``.distinct()``), so the CC round loop
    composes this directly and skips :func:`_small_star`'s
    re-orientation + re-distinct.  Measured honestly (plans at
    ``git show a91a9bd:plans/r14/cc_round_{before,after}.txt``):
    Catalyst had ALREADY collapsed the redundant distinct — exchange
    and aggregate counts are identical (11 exchanges either way) — so
    the only plan delta is the removed per-row ``greatest``/``least``
    evaluations in the round's join conditions and projections (6
    expression sites → 0).
    A/B at sf0.1 accordingly neutral (p102 7.71→7.41 s, p135
    5.52→5.49 s medians); kept for the simpler round plan, not claimed
    as a shuffle win.  (Also measured: additionally dropping
    _large_star's own distinct and letting the final distinct absorb
    the duplicates is WORSE — p135 5.52→6.78 s — the duplicate fan-out
    through the join costs more than the dedup saves.  Kept.)"""
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # m < u by construction
    rewired = (
        d.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edges = m.select("u", F.col("m").alias("v"))
    return rewired.unionAll(self_edges).distinct()


#: Edge-count bound of :func:`connected_components`' driver regime.  An
#: edge set of at most this many rows is read to the driver in one
#: bounded Arrow read and solved by a union-find; a larger one runs the
#: distributed rounds.  Sized so that the read plus the union-find at the
#: bound costs less than ONE distributed round over as many edges (the
#: connected-components bullet of docs/DESIGN.md, "Dedup family"): a
#: ~100-edge graph no longer pays ~8 Spark jobs per round on any
#: cluster.  At the bound the driver
#: holds 1.6 MB of edges; above it the read stands in for the stage's
#: eager count, so the distributed path runs no extra job.
_LOCAL_CC_EDGES = 100_000


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over a pair graph.  Returns
    (doc_id long, cluster_id long), one row per doc that appears in a
    non-loop pair, with cluster_id = min id in the component.

    This is the *correct* canonical-representative semantics for
    duplicate chains a~b~c where a≁c (the greedy smaller-id policy in
    :func:`near_dedup_jaccard` handles cliques but not chains).

    The cleaned edge set (ids cast to long, loops dropped, distinct) is
    staged, and one bounded ``toArrow()`` of at most
    ``_LOCAL_CC_EDGES + 1`` of its rows both materializes the stage and
    measures it.  Two regimes, chosen by that observed size:

    * **driver** (at most ``_LOCAL_CC_EDGES`` edges): an exact
      union-find in which the smaller root always wins, so every root
      is its component's minimum; the labels go back through
      ``createDataFrame`` of an Arrow table.  Neither Arrow call starts
      a Python worker, whatever the session's Arrow conf says.
    * **distributed** (more edges): alternating large-star / small-star
      rounds (the MapReduce CC algorithm of Kiveris et al.), each two
      groupBy-min + join passes over the edge set; the component
      diameter shrinks geometrically — O(log² n) rounds even for
      adversarial chains.  Each round is staged lazily and its
      convergence-signature aggregate is the materializing action, so
      lineage stays flat whatever the round count.

    ``max_iter`` bounds only the distributed rounds (the union-find has
    no iterations); exhausting it raises rather than return conflicting
    labels."""
    id_types = {f.name: f.dataType.typeName() for f in pairs.schema.fields}
    numeric = {"byte", "short", "integer", "long"}
    for col in (a, b):
        if id_types.get(col) not in numeric:
            # a string/md5 id would silently CAST to NULL and yield
            # empty/garbage output; fail loudly instead.  Callers with
            # string ids should map them to dense longs first (e.g.
            # xxhash64 or a zipWithIndex-style id table).
            raise TypeError(
                f"connected_components requires integral ids; column {col!r} "
                f"has type {id_types.get(col)!r} — hash or re-key to long first"
            )
    e = stage(
        pairs.select(F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # LAZY stage: this bounded read is its materializing action (the
    # limit's map side computes, and so caches, every partition), so the
    # rounds' three concurrent reads of e hit materialized blocks
    head = e.limit(_LOCAL_CC_EDGES + 1).toArrow()
    if head.num_rows <= _LOCAL_CC_EDGES:
        return e.sparkSession.createDataFrame(
            _component_minima(head.column("u").to_numpy(), head.column("v").to_numpy())
        )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # LAZY checkpoint: the signature aggregate right below is the
        # materializing action, so each round is ONE job (star shuffles
        # + signature) instead of two (eager checkpoint, then a second
        # job re-scanning the cached blocks just for the signature) —
        # at scale that is one fewer pass over the edge set per round.
        # Locally the wall delta is small (~2% on p102/p135, the edge
        # sets converge in 2 rounds); the job-count halving is the
        # structural evidence.  The next round's multi-consumer reads
        # (bidir union + min join) then hit the already-materialized
        # blocks exactly as before.
        # _large_star output is already large→small directed and
        # distinct, so the small-star half skips its re-orientation +
        # re-distinct (see _small_star_directed for the measured,
        # expression-level-only effect).
        e = stage(_small_star_directed(_large_star(e)))
        # order-independent edge-set signature; bit_xor never overflows
        # (SUM of hashes would trip ANSI long-overflow on big edge sets)
        sig = tuple(
            e.agg(
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64("u", "v")),
                F.bit_xor(F.xxhash64(F.col("u") * 31, "v")),
            ).collect()[0]
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # a non-star-shaped edge set would emit conflicting cluster_id
        # rows per doc_id; never return silently-wrong labels.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (large-star/small-star converges in O(log² n) rounds; "
            "raise max_iter or check for pathological input)"
        )
    # converged: every edge is (member → component-min root)
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")).distinct()
    return members.unionAll(roots).distinct()


def _component_minima(u, v):
    """Driver-side connected components of the edges ``zip(u, v)``
    (int64 arrays, no NULLs): an Arrow table (doc_id, cluster_id) with
    one row per node, cluster_id = min id of its component.  Ids are
    densified in ascending order, so the smaller dense root is also the
    smaller id, and a union-find in which the smaller root always wins
    leaves each component rooted at its minimum."""
    import numpy as np
    import pyarrow as pa

    nodes, dense = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = list(range(len(nodes)))  # parent[x] <= x throughout

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    dense = dense.tolist()
    for x, y in zip(dense[: len(u)], dense[len(u):]):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    # ascending order sees parent[x] (<= x) already resolved to its root
    for x in range(len(parent)):
        parent[x] = parent[parent[x]]
    return pa.table({
        "doc_id": pa.array(nodes, pa.int64()),
        "cluster_id": pa.array(nodes[np.asarray(parent, np.int64)], pa.int64()),
    })


#: Default document-frequency cap for :func:`near_dedup_jaccard`.  A
#: shingle shared by D docs contributes D·(D−1)/2 candidate pairs, so an
#: uncapped run on a corpus with boilerplate ("click here to subscribe")
#: goes quadratic.  512 is far above any real near-dup cluster size yet
#: bounds every posting list; at 512 the worst shingle costs ~131k pairs
#: — trivially shuffle-safe.
DEFAULT_MAX_DF = 512


def near_dedup_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Near-dedup drop decisions: for every pair with Jaccard ≥
    threshold, drop the larger id, keeping the smallest partner as the
    representative.  Returns (drop_id, keep_id).

    This is the greedy smaller-id-wins policy, not full transitive
    closure — within a genuine duplicate cluster all pairs exceed the
    threshold, so the greedy policy keeps exactly the minimum id.  Full
    connected components (for chains a~b~c where a≁c) needs iterative
    label propagation; at 100 TB that is a handful of self-join rounds
    over the (tiny) pair set, not over the corpus.

    ``max_df`` defaults to :data:`DEFAULT_MAX_DF` so the quadratic
    stop-shingle blow-up cannot be reached by accident: shingles in more
    than ``max_df`` docs are pruned before pair generation (see
    :func:`ngram_jaccard_pairs` for the exact capped semantics — a
    deterministic Jaccard underestimate that preserves near-dup
    ranking).  Pass ``max_df=None`` *explicitly* to opt into the exact
    uncapped path — only safe on corpora known to be boilerplate-free,
    or downstream of LSH blocking (:func:`lsh_verified_near_dedup`).
    """
    pairs = ngram_jaccard_pairs(df, text_col, id_col, shingle_n, max_df=max_df)
    return (
        pairs.filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("doc_b").alias("drop_id"))
        .agg(F.min("doc_a").alias("keep_id"))
    )


def _near_dedup_embedding_vectorized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float,
    chunk_budget: int = int(2e7),
) -> DataFrame:
    """Per-block gram-matrix verify: ONE shuffle of (id, vec) on the
    block key, then each block's pairwise cosines come out of a single
    normalized BLAS matmul (row-chunked to ~160MB blocks), rounded at
    6dp and reduced to (drop_id, keep_id) with the fold path's rule
    (pairs masked on strict id inequality — ids sorted ascending, so
    the first qualifying row index IS the min keep id, and equal-id
    pairs emit nothing, exactly like the fold's ``ida < idb`` join).
    Replaces the fold path's TWO corpus shuffles + interpreted
    per-pair higher-order cosine (HigherOrderFunction expressions are
    CodegenFallback — measured the dominant semdedup cost once
    assignment was vectorized).

    Rounding delta vs the fold path (known failure signature for
    testdata regeneration): ``np.round`` is half-EVEN while Spark's
    ``F.round`` is half-UP, and the normalized matmul reassociates the
    FP ops vs the per-pair fold — a cosine landing on an exact 5e-7
    boundary of the threshold can therefore classify differently.
    Measure-zero on real embeddings and law-tested drop-set-equal on
    the shipped testdata, but if p109/p122 ever oracle-mismatch after
    a data regen, check boundary cosines FIRST (same posture as
    :func:`spear_spark.operators.similarity._ivf_assign_vectorized`).

    Contract: ids must be non-NULL (a NULL raises loudly here; the
    fold's ``ida < idb`` would silently drop such rows).  NULL block
    keys emit nothing — filtered before the groupBy to match the fold
    path, whose USING-join on the block column never matches NULL
    (groupBy alone would treat NULL as a real block and verify it).
    Needs the whole block in one pandas group — callers must bound
    block sizes (semdedup does, by raising k with the corpus); the
    fold path remains the unbounded-block-safe form.  Zero-norm
    vectors raise (the fold path's ANSI divide error, loudly)."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def gram(pdf):
        n = len(pdf)
        if pdf[id_col].isna().any():
            raise ValueError(
                "near_dedup_embedding: NULL id in block — ids must be "
                "non-NULL (the fold path would silently drop such rows)"
            )
        ids = pdf[id_col].to_numpy()
        if n < 2:
            return pd.DataFrame(
                {"drop_id": ids[:0], "keep_id": ids[:0]}
            )
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()[order]],
            dtype=np.float64,
        )
        norms = np.sqrt((X * X).sum(axis=1))
        if (norms == 0.0).any():
            raise ValueError(
                "near_dedup_embedding: zero-norm vector — cosine is "
                "undefined; clean zero vectors upstream"
            )
        Xh = X / norms[:, None]
        best = np.full(n, n, dtype=np.int64)  # first qualifying row per column
        # Mask on strict id inequality, not row index: with duplicate id
        # values an index mask would emit a drop_id == keep_id self-pair
        # the fold path's ida < idb never produces.  ids are sorted, so
        # ids[row] < ids[col] still implies row < col and the first
        # qualifying row index remains the min keep id.
        cols_ids = ids[None, :]
        step = max(1, int(chunk_budget) // n)
        for s in range(0, n, step):
            e = min(s + step, n)
            G = np.round(Xh[s:e] @ Xh.T, 6)
            M = (G >= thr) & (ids[s:e][:, None] < cols_ids)
            hit = M.any(axis=0)
            first = np.where(hit, s + M.argmax(axis=0), n)
            best = np.minimum(best, first)
        drops = np.nonzero(best < n)[0]
        out = pd.DataFrame({"drop_id": ids[drops], "keep_id": ids[best[drops]]})
        # one row per distinct drop id, min keep — the fold's
        # groupBy(drop_id).min(keep) semantics.  Without this, two
        # qualifying rows SHARING an id would emit two identical drop
        # rows where the fold emits one.  (Duplicate ids split across
        # DIFFERENT blocks still emit one row per block; the fold's
        # global groupBy would merge those — co-block them or keep ids
        # unique for bit-for-bit parity.)
        return out.groupby("drop_id", as_index=False).min()

    return (
        df.select(F.col(block_col), F.col(id_col), F.col(vec_col))
        # fold parity: its USING-join on the block column never matches
        # NULL, so NULL-block rows must not form a verify group here
        .filter(F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(gram, f"drop_id {id_type}, keep_id {id_type}")
    )


def near_dedup_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.9,
    impl: str = "fold",
) -> DataFrame:
    """Embedding-cosine near-dedup within blocks: drop the larger id of
    every pair with cosine ≥ threshold.  Returns (drop_id, keep_id).
    Blocking (label / LSH bucket / IVF cell) bounds the pair space.
    Contract: vectors must be non-zero — cosine against a zero-norm
    vector is 0/0, an ANSI divide-by-zero in both engines (filter or
    impute upstream).

    ``impl``: ``"fold"`` (default) verifies each pair with the
    pure-Column cosine fold — streams arbitrarily large blocks, the
    oracle-replayable form; ``"vectorized"`` computes each block's
    gram matrix in one Arrow/BLAS pass
    (:func:`_near_dedup_embedding_vectorized`) — one corpus shuffle
    instead of two and no interpreted per-pair fold, but requires
    bounded blocks (law-tested drop-set-equal on real embeddings; same
    min-keep rule; rounding AT an exact 5e-7 threshold boundary can
    differ — np.round half-even vs F.round half-up, FP reassociation —
    see the vectorized helper's docstring for the failure signature)."""
    if impl == "vectorized":
        return _near_dedup_embedding_vectorized(
            df, vec_col, id_col, block_col, threshold
        )
    if impl != "fold":
        raise ValueError(
            f"near_dedup_embedding: impl must be fold|vectorized, got {impl!r}"
        )
    from spear_spark.operators.similarity import cosine

    a = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("ida"), F.col(vec_col).alias("va")
    )
    b = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("idb"), F.col(vec_col).alias("vb")
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    return pairs.groupBy(F.col("idb").alias("drop_id")).agg(F.min("ida").alias("keep_id"))


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The production near-dedup composition: MinHash-LSH candidate
    generation + exact Jaccard verification on candidates only.

    Unlike :func:`ngram_jaccard_pairs` (exact over ALL co-shingled
    pairs — pair space grows with shingle document frequency), the pair
    space here is bounded by LSH band collisions, i.e. ~O(actual
    near-dups): each candidate pair is verified by intersecting the two
    documents' distinct-shingle arrays directly (array_intersect on a
    joined pair — no posting-list explosion).  Recall below the LSH
    S-curve knee is traded away by construction (a ``threshold``-level
    pair surfaces only if it shares ≥1 of ``bands`` band hashes); with
    fixed seeded permutations the trade is deterministic, so the DuckDB
    oracle reproduces the identical candidate set and the result stays
    exactly checkable.

    Scale: signatures are a projection; the band self-join is an
    equi-join on (band, hash); verification is two hash joins keyed on
    doc id against the shingle-array projection.  No stage is quadratic
    in corpus size.

    The (id, shingle-array) staging is computed ONCE behind a lazy
    ``localCheckpoint`` and feeds all three consumers — the signature
    pipeline and both verify sides.  Without it the shingle transform
    (lower/trim + per-position substrings + array_distinct, the ~50×
    work amplifier over the scan) runs three times per query: Catalyst
    prunes each reference into a specialized copy, so ReuseExchange
    never fires.  The staging is corpus-sized (MEMORY_AND_DISK — an
    over-memory corpus spills; on a real cluster this is the signature
    stage-out write every 100 TB dedup pipeline already does)."""
    shs = stage(
        _widen_narrow_scan(df).select(
            F.col(id_col).alias("_id"),
            shingles(text_col, shingle_n).alias("_shs"),
        )
    )
    sig = _minhash_sig_from_arrays(shs, "_id", k)
    cands = _lsh_pairs_from_sig(sig, "_id", k, bands).select("doc_a", "doc_b")
    a = shs.select(F.col("_id").alias("doc_a"), F.col("_shs").alias("sa"))
    b = shs.select(F.col("_id").alias("doc_b"), F.col("_shs").alias("sb"))
    # materialize the intersection size once (repeated interpreted
    # array_intersect would re-evaluate per reference)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("i", F.size(F.array_intersect("sa", "sb")))
        .withColumn("u", F.size("sa") + F.size("sb") - F.col("i"))
        .filter(F.col("u") > 0)  # guard 0/0 → NaN (NaN sorts above any threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i").cast("double") / F.col("u"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dedup_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Drop decisions from the LSH-verified pair path (same greedy
    smaller-id-wins policy as :func:`near_dedup_jaccard`, same
    (drop_id, keep_id) output): candidates from MinHash-LSH banding,
    exact Jaccard verification per candidate.  This is the composition
    a 100 TB cleaning pipeline runs — pair space bounded by band
    collisions instead of shingle document frequency."""
    pairs = lsh_verified_pairs(df, text_col, id_col, threshold, k, bands, shingle_n)
    return pairs.groupBy(F.col("doc_b").alias("drop_id")).agg(
        F.min("doc_a").alias("keep_id")
    )


def incremental_dedup(
    new_df: DataFrame,
    existing_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dedup an incoming shard against an already-deduped corpus: keep
    one representative per content hash within the new batch (smallest
    id), then anti-join those against the existing corpus's hashes.
    Returns (keep_id, content_hash) for the genuinely new content.

    This is the daily-ingest shape at 100 TB: the existing side is
    only ever touched as a hash projection (a narrow column scan), the
    within-batch dedup is one shuffle on the batch (small), and the
    anti join is an equi-join on the 128-bit hash — with the corpus
    hash table maintained as a bucketed table
    (:func:`spear_spark.sources.write_bucketed` on content_hash) the
    anti join needs no corpus-side shuffle at all; a bloom filter on
    batch hashes pushed to the corpus scan cuts it further."""
    key = F.md5(F.lower(F.trim(F.col(text_col))))
    batch_keep = (
        new_df.groupBy(key.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"))
    )
    existing_hashes = existing_df.select(key.alias("content_hash")).distinct()
    return batch_keep.join(existing_hashes, "content_hash", "left_anti").select(
        "keep_id", "content_hash"
    )


def ngram_contamination(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    text_col: str,
    id_col: str,
    min_overlap: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Test-set decontamination: flag corpus documents sharing >=
    ``min_overlap`` distinct n-gram shingles with any benchmark
    document (the n-gram-overlap contamination rule used for LLM
    training corpora).  Returns (doc_id, bench_id, overlap), one row
    per contaminated (corpus doc, benchmark doc) pair.

    Scale: the benchmark side is tiny by definition (eval sets are
    thousands of docs), so its exploded shingle set BROADCASTS — the
    corpus side stays a single explode + broadcast-hash-join + count
    aggregate, no corpus-side pair explosion and no shuffle of corpus
    shingles.  At 100 TB this is a map-side join over the scan."""
    c = corpus_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(text_col, shingle_n)).alias("s"),
    )
    b = benchmark_df.select(
        F.col(id_col).alias("bench_id"),
        F.explode(shingles(text_col, shingle_n)).alias("s"),
    )
    return (
        c.join(F.broadcast(b), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


def segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_tokens: int = 8,
) -> DataFrame:
    """Segment-level (sub-document) exact dedup: split every document
    into consecutive ``seg_tokens``-token segments and keep only each
    segment's FIRST corpus-wide occurrence (lowest ``(id, position)``),
    then reassemble the surviving text per document.

    This is the span-removal pass large training pipelines run after
    document-level dedup (boilerplate headers, license blocks, quoted
    replies survive document dedup because the *containing* docs
    differ).  Returns one row per input document:
    ``id, n_segments, n_kept, clean_text`` (``clean_text`` null when
    every segment was seen earlier — the fully-derivative-doc case).

    Scale shape: one explode to (doc × segment) rows, then a single
    hash shuffle on the segment text for a whole-partition window
    ``min(struct(id, pos))`` — no self-join back, no second shuffle
    (the keep filter and the per-doc reassembly aggregate both consume
    the window's partitioning).  Segment rows are ~tokens/seg_tokens
    per doc, so the exchange carries roughly the corpus token volume
    once — the same cost class as the shingle passes above.
    """
    from pyspark.sql.window import Window as W

    toks = tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(segs).alias("pos", "seg")
    )
    w = W.partitionBy("seg")
    first_seen = exploded.withColumn(
        "_first", F.min(F.struct(F.col(id_col), F.col("pos"))).over(w)
    )
    kept = first_seen.withColumn(
        "_keep",
        (F.col("_first")[id_col] == F.col(id_col))
        & (F.col("_first")["pos"] == F.col("pos")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .withColumn(
            "clean_text",
            F.when(F.col("n_kept") > 0, F.col("clean_text")),
        )
    )


def _bloom_hashes(col: str, n_bits: int, seed: int) -> tuple[Column, Column]:
    """Two independent base hashes for Kirsch-Mitzenmacher double
    hashing: h1 from md5 chars 1-15, h2 from chars 17-31 — disjoint
    60-bit slices of one digest, so position set collisions between
    two keys require a joint (h1, h2) collision (~n_bits² space), not
    a single 31-bit one.  The seed is folded into the digest input
    (NULL-propagating concat), so different seeds give independent
    filters and NULL keys hash to NULL."""
    digest = F.md5(F.concat(F.lit(f"{seed}:"), F.col(col)))
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % n_bits
    # step in [1, n_bits-1]: a zero step would collapse all k
    # positions onto h1
    h2 = F.conv(F.substring(digest, 17, 15), 16, 10).cast("bigint") % (
        n_bits - 1
    ) + 1
    return h1, h2


def _bloom_sentinel(n_bits: int, k: int, seed: int) -> int:
    """Parameter fingerprint stored under word_idx = -1 so a probe
    with mismatched (n_bits, k, seed) fails LOUDLY instead of
    silently returning false negatives."""
    return (int(n_bits) << 16) | (int(k) << 8) | (int(seed) & 0xFF)


def _bloom_words(
    df: DataFrame, col: str, n_bits: int, k: int, seed: int
) -> DataFrame:
    """Validated (word_idx, bits) word-table pipeline shared by the
    batch build and the streaming twin (``streaming.bloom_words_stream``)
    — one k-position projection + one two-phase BIT_OR aggregate onto
    ≤ n_bits/64 rows; NULL keys dropped."""
    if n_bits < 64 or n_bits > MERSENNE31:
        raise ValueError("bloom filter: n_bits must be in [64, 2^31-1]")
    if k < 1:
        raise ValueError("bloom filter: k must be >= 1")
    h1, h2 = _bloom_hashes(col, n_bits, seed)
    pos = F.array(*[(h1 + F.lit(i) * h2) % n_bits for i in range(k)])
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(pos).alias("_pos"))
        .groupBy(F.expr("_pos div 64").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))")
            ).alias("bits")
        )
    )


def bloom_build(
    df: DataFrame,
    col: str,
    n_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Build a Bloom filter over a key column as a (word_idx, bits)
    int64 bit-array table — the broadcastable membership structure
    behind :func:`bloom_decontaminate`.  ``n_bits`` bits cost
    ``n_bits/8`` bytes broadcast (1 M bits ≈ 128 KB); with ``k``
    hashes the false-positive rate is ≈ (1 - e^(-k·n/n_bits))^k —
    size at ~10-16 bits per denylist key for ~1% FP.  Positions use
    Kirsch-Mitzenmacher double hashing over two disjoint 60-bit md5
    slices (h1 + i·h2 mod n_bits), so the formula's bound holds until
    joint (h1, h2) collisions (~n/n_bits² — negligible at any
    practical sizing; a single shared base hash would floor the FP
    rate at n/2³¹ regardless of filter size).

    NULL keys are dropped (a NULL can never be denylisted — probes of
    NULL keys never match).  One extra row (word_idx = -1) carries the
    (n_bits, k, seed) fingerprint; :func:`bloom_probe` validates it,
    making a build/probe parameter mismatch a loud error instead of
    silent false negatives.

    Determinism: the bit array is a pure function of the key set —
    parallelism-invariant (BIT_OR is order-free) and exactly
    replicable by a DuckDB oracle.

    Scale shape: one projection to k positions per key and ONE
    two-phase BIT_OR aggregate onto ≤ n_bits/64 rows (no distinct
    stage — BIT_OR is duplicate-insensitive).  Empty input yields
    just the sentinel row (an all-zero filter)."""
    words = _bloom_words(df, col, n_bits, k, seed)
    sentinel = df.sparkSession.createDataFrame(
        [(-1, _bloom_sentinel(n_bits, k, seed))], "word_idx long, bits long"
    )
    return words.unionByName(sentinel)


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    n_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
    flag_col: str = "maybe_member",
) -> DataFrame:
    """Probe a :func:`bloom_build` filter: appends boolean ``flag_col``
    — False is EXACT non-membership, True means member-or-false-
    positive.  ``n_bits``/``k``/``seed`` must match the build and are
    VALIDATED against the filter's embedded sentinel (one bounded
    1-row job over the tiny table, which doubles as its
    materialization) — a silent mismatch would otherwise turn the
    no-false-negatives contract into quiet contamination.  NULL keys
    probe False (kept by decontamination).

    Scale shape: the base digest is staged ONCE (two columns), then k
    chained BroadcastHashJoins against the tiny bit-array table —
    every probe is map-side; the corpus never shuffles and never
    sorts (the point vs an exact anti-join, whose build side at
    100 TB is a full denylist exchange).  Absent words (NULL bits)
    are unset bits, so a sparse filter probes correctly."""
    want = _bloom_sentinel(n_bits, k, seed)
    got = [
        r["bits"]
        for r in bloom.filter(F.col("word_idx") == -1).limit(2).collect()
    ]
    if got != [want]:
        raise ValueError(
            "bloom_probe: filter was built with different (n_bits, k, seed) "
            f"than probed (sentinel {got} != {want}) — a silent mismatch "
            "would produce false negatives"
        )
    internal = [f"_bloom_h{j}" for j in (1, 2)] + [
        c for i in range(k) for c in (f"_p{i}", f"_w{i}", f"_b{i}")
    ]
    for reserved in internal + [flag_col]:
        if reserved in df.columns:
            raise ValueError(
                f"bloom_probe: input column {reserved!r} collides with an "
                "internal or output name"
            )
    h1, h2 = _bloom_hashes(col, n_bits, seed)
    # stage the digest-derived hashes ONCE: deriving each position from
    # the raw expression would re-evaluate md5 per join level (k
    # Project nodes, no cross-Project subexpression elimination)
    out = df.withColumn("_bloom_h1", h1).withColumn("_bloom_h2", h2)
    hits = []
    for i in range(k):
        pos = (F.col("_bloom_h1") + F.lit(i) * F.col("_bloom_h2")) % n_bits
        w = bloom.select(
            F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
        )
        out = out.withColumn(f"_p{i}", pos).join(
            F.broadcast(w),
            F.expr(f"_p{i} div 64") == F.col(f"_w{i}"),
            "left",
        )
        hits.append(
            F.coalesce(
                F.col(f"_b{i}").bitwiseAND(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))")
                )
                != 0,
                F.lit(False),
            )
        )
    flag = hits[0]
    for h in hits[1:]:
        flag = flag & h
    return out.withColumn(flag_col, flag).drop(*internal)


def bloom_decontaminate(
    df: DataFrame,
    col: str,
    denylist: DataFrame,
    deny_col: str,
    n_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Drop rows whose key is (probably) in ``denylist`` via a Bloom
    probe — the shuffle-free scale path for benchmark/eval
    decontamination.  vs :func:`ngram_contamination` (exact join):
    this never exchanges the corpus and never materializes a join,
    at the cost of a bounded false-POSITIVE rate (clean rows wrongly
    dropped — harmless over-filtering for training data); false
    negatives are impossible, so nothing contaminated ever survives.

    The two compose: Bloom-filter first (map-side, kills ~everything),
    exact-verify the tiny surviving maybe-set when exactness matters."""
    bloom = stage(bloom_build(denylist, deny_col, n_bits, k, seed))
    return bloom_probe(df, col, bloom, n_bits, k, seed).filter(
        ~F.col("maybe_member")
    ).drop("maybe_member")


def ngram_list_from_tokens(toks: Column, n: int) -> Column:
    """:func:`ngram_list`'s body over an ALREADY-TOKENIZED array column
    — for pipelines that stage the token arrays once (e.g. the corpus
    health report's single-scan staging) and build n-grams without
    re-tokenizing the text.  ``toks`` should be a plain column
    reference (cheap to mention repeatedly); wrap computed expressions
    in ``let_`` like :func:`ngram_list` does."""
    big = F.greatest(F.size(toks), F.lit(1))
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, big)
        grams = F.zip_with(grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
    n_grams = F.size(toks) - (n - 1)
    empty = F.array().cast("array<string>")
    return F.when(n_grams >= 1, F.slice(grams, 1, n_grams)).otherwise(empty)


def ngram_list(text: Column | str, n: int) -> Column:
    """POSITIONAL token n-grams — :func:`shingles` without the
    ``array_distinct``: element i (1-based) is the n-gram starting at
    token i, with multiplicity preserved, so span-level operators
    (:func:`repeated_ngram_profile`, :func:`contamination_spans`) can
    map grams back to token positions.  Same ``zip_with`` + ``let_``
    construction as :func:`shingles` (see its docstring for why
    ``transform`` + ``element_at`` is ~100× slower here)."""
    return let_(tokens(text), lambda toks: ngram_list_from_tokens(toks, n))


def ngram_positions(
    df: DataFrame,
    keep: list,
    toks: Column,
    n: int,
    gram_alias: str = "gram",
    pos_alias: str | None = None,
) -> DataFrame:
    """Exploded positional token n-grams as ROWS — ``(keep…, [pos0,]
    gram)`` with multiplicity, one row per n-gram position — via a
    streaming codegen Generate: an ``explode(sequence(1, size−n+1))``
    anchor plus a per-output-row ``array_join(slice(toks, i, n), ' ')``.
    Row-for-row identical to ``F.[pos]explode(ngram_list_from_tokens(
    toks, n))`` (A/B-diffed at sf0.1/n=8: 235 481 = 235 481 gram rows,
    0 diffs both ways, with and without the position column), but the
    gram-ARRAY construction — n−1 interpreted ``zip_with`` passes
    building ~n²/2 token copies per position, all CodegenFallback,
    materialized only for the Generate to take apart — is replaced by
    codegen expressions.  Measured 2.25→1.23 s median on the health
    report's 8-gram tally stage at sf0.1.

    ``pos_alias`` adds a 0-based position column (``posexplode``
    parity) for free — the anchor index IS the position.  ``toks`` may
    be any expression (it is staged as a real column before the
    Generate, so the gram projection reads a computed value, never
    re-evaluating a tokenizer per output row); ``keep`` columns must
    carry distinct output names.  Docs with no full n-gram (NULL /
    short text) explode to zero rows — the gram-array convention."""
    staged = df.select(*keep, toks.alias("_ng_t"))
    keep_names = [c for c in staged.columns if c != "_ng_t"]
    npos = F.size("_ng_t") - (n - 1)
    seq = F.when(
        npos >= 1, F.sequence(F.lit(1), F.greatest(npos, F.lit(1)))
    ).otherwise(F.array().cast("array<int>"))
    anchored = staged.select(*keep_names, "_ng_t", F.explode(seq).alias("_ng_i"))
    gram = F.array_join(F.slice(F.col("_ng_t"), F.col("_ng_i"), n), " ")
    cols: list = list(keep_names)
    if pos_alias is not None:
        cols.append((F.col("_ng_i") - 1).alias(pos_alias))
    return anchored.select(*cols, gram.alias(gram_alias))


def repeated_ngram_profile(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Per-document profile of CORPUS-REPEATED token n-grams — the
    memorization/boilerplate signal behind suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"), at n-gram granularity: an n-gram is
    "duplicated" when it occurs >= 2 times corpus-wide (across docs OR
    within one), and each doc reports how many of its n-gram positions
    sit on duplicated grams.  Returns (id, n_ngrams, n_dup, dup_frac)
    for every doc with at least one n-gram (docs shorter than ``n``
    tokens emit no row).

    Unlike :func:`shingles`-based Jaccard (distinct sets, whole-doc
    similarity) this keeps MULTIPLICITY and grades individual spans,
    so a 90%-unique doc that embeds one viral paragraph scores exactly
    that paragraph's positions.

    Scale: explode all n-gram positions -> two-phase (doc, hash)
    count -> corpus totals as a second two-phase SUM on the hash,
    joined back to the checkpointed (doc, hash) relation (never a
    window over the hash: a boilerplate gram present in most docs
    would make the hottest hash partition a single-task sort of
    O(corpus docs) rows, the same straggler class as the shingle-df
    window removed in round 9) -> per-doc rollup.  State is
    vocabulary-sized, never pairwise.  The 60-bit md5 gram hash makes
    a false "duplicated" mark a ~2^-60 event and keeps the shuffle key
    fixed-width (the oracle hashes identically, so even a collision
    would pair exactly)."""
    if n < 2:
        raise ValueError(f"repeated_ngram_profile: n must be >= 2, got {n}")

    per_doc_hash = stage(
        ngram_positions(df, [F.col(id_col)], tokens(text_col), n)
        .select(F.col(id_col), h64(F.col("gram")).alias("hv"))
        .groupBy(id_col, "hv")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # shuffle_hash: build side = vocabulary-sized totals (hash-sharded);
    # SortMergeJoin would re-sort the (doc, hash) stream for no benefit.
    totals = per_doc_hash.groupBy("hv").agg(F.sum("c").alias("_total"))
    return (
        per_doc_hash.join(totals.hint("shuffle_hash"), "hv")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.sum(F.when(F.col("_total") >= 2, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup"
            ),
        )
        .select(
            F.col(id_col),
            "n_ngrams",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_ngrams"), 6).alias("dup_frac"),
        )
    )


def ngram_novelty_profile(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Per-document NOVELTY of token n-grams in ingestion order (the id
    as the order): how many of a doc's n-gram positions sit on grams
    NEVER seen in any earlier document — the complement of
    :func:`repeated_ngram_profile`'s boilerplate signal, and the
    growth-curve question a corpus-expansion run asks ("how much genuinely
    new content does each shard add before we pay to train on it?").
    A gram's every occurrence inside its FIRST document counts as novel
    (including repeats within that doc); occurrences in later docs never
    do.  Returns (id, n_ngrams, n_novel, novelty_frac) for every doc
    with >= 1 n-gram; rounded to 6dp.

    Scale: identical regime to :func:`repeated_ngram_profile` — explode
    positions, two-phase (doc, hash) count into a checkpointed staging,
    the gram's first-doc as a second two-phase MIN joined back
    shuffle_hash (never a window over the hash: a boilerplate gram
    would make the hottest hash partition one task), one per-doc
    rollup.  Vocabulary-sized state, never pairwise."""
    if n < 2:
        raise ValueError(f"ngram_novelty_profile: n must be >= 2, got {n}")

    per_doc_hash = stage(
        ngram_positions(df, [F.col(id_col)], tokens(text_col), n)
        .select(F.col(id_col), h64(F.col("gram")).alias("hv"))
        .groupBy(id_col, "hv")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    firsts = per_doc_hash.groupBy("hv").agg(F.min(id_col).alias("_first"))
    return (
        per_doc_hash.join(firsts.hint("shuffle_hash"), "hv")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.sum(
                F.when(F.col(id_col) == F.col("_first"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_novel"),
        )
        .select(
            F.col(id_col),
            "n_ngrams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_ngrams"), 6).alias("novelty_frac"),
        )
    )


def max_dup_span(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Longest contiguous DUPLICATED token span per document — the
    span-granular readout of :func:`repeated_ngram_profile`'s ratio:
    positions whose n-gram occurs >= 2 times corpus-wide are merged
    into maximal islands (the :func:`contamination_intervals` rule:
    positions <= n apart share an island because their covered
    [pos, pos+n-1] ranges overlap or touch), and each doc reports its
    longest island's token length plus the island count.  This is the
    unit the Lee-et-al substring-dedup paper actually cuts — "this doc
    embeds a 214-token boilerplate block" — where dup_frac only says
    "31% duplicated somewhere".  Docs with no duplicated position emit
    no row.  Returns (id, max_dup_span, n_dup_spans).

    Scale: the corpus-total tally is the p85 regime (two-phase
    (doc, hash) staging checkpoint, two-phase hash SUM joined back
    shuffle_hash — never a window over the hash); the island windows
    partition by DOC (bounded by one document's positions, the benign
    window class)."""
    if n < 2:
        raise ValueError(f"max_dup_span: n must be >= 2, got {n}")
    from pyspark.sql.window import Window as W

    pos = stage(
        ngram_positions(df, [F.col(id_col)], tokens(text_col), n, pos_alias="pos0")
        .select(
            F.col(id_col), (F.col("pos0") + 1).alias("pos"), h64(F.col("gram")).alias("hv")
        )
    )
    totals = pos.groupBy("hv").agg(F.count(F.lit(1)).alias("_total"))
    rep = (
        pos.join(totals.hint("shuffle_hash"), "hv")
        .filter(F.col("_total") >= 2)
        .select(F.col(id_col), "pos")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + n, F.lit(1)).otherwise(F.lit(0))
    islands = rep.withColumn("_brk", brk).withColumn(
        "_isl", F.sum("_brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    spans = islands.groupBy(id_col, "_isl").agg(
        (F.max("pos") + (n - 1) - F.min("pos") + 1).alias("_len")
    )
    return spans.groupBy(id_col).agg(
        F.max("_len").alias("max_dup_span"),
        F.count(F.lit(1)).alias("n_dup_spans"),
    )


def contamination_spans(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Span-level decontamination: WHERE each corpus document touches
    the benchmark — one row (doc_id, pos, gram) per corpus n-gram
    POSITION (1-based token index) whose gram appears anywhere in the
    benchmark's n-gram set.  :func:`ngram_contamination` answers
    "which docs are contaminated (and by which bench doc)"; this
    answers "which token spans to redact" — the actionable output a
    surgical decontamination pass needs (drop the spans, keep the
    doc), cf. the span-removal variant of the n-gram overlap rule used
    for LLM training corpora.

    Scale: identical regime to :func:`ngram_contamination` — the
    benchmark's DISTINCT gram set broadcasts (eval sets are tiny by
    definition), the corpus side is one positional explode
    (:func:`ngram_list` keeps multiplicity and position) + a
    broadcast LEFT SEMI hash join; corpus rows never shuffle and no
    aggregation state exists at all."""
    c = ngram_positions(
        corpus_df,
        [F.col(id_col).alias("doc_id")],
        tokens(text_col),
        n,
        pos_alias="pos0",
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    b = benchmark_df.select(
        F.explode(shingles(text_col, n)).alias("gram")
    ).distinct()
    return c.join(F.broadcast(b), "gram", "semi").select("doc_id", "pos", "gram")


def contamination_intervals(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Maximal redaction spans from :func:`contamination_spans`: each
    contaminated n-gram POSITION covers tokens [pos, pos+n-1]; this
    merges overlapping-or-adjacent covered ranges into maximal
    [start_pos, end_pos] TOKEN intervals per doc — the unit a redaction
    pass actually executes ("cut tokens 17–31"), where per-position
    rows are only the raw signal.  Two positions belong to one interval
    when the later starts at most ``n`` tokens after the earlier
    (ranges overlap for a gap < n, touch end-to-start at exactly n), so
    interval token coverage EQUALS the union of the positions' covered
    ranges — law-tested.  Returns (doc_id, start_pos, end_pos,
    n_positions) with end_pos = last covered token index.

    Scale: the spans stage is zero-corpus-shuffle (broadcast semi
    join); the island detection is one lag + one running-sum window
    PARTITIONED BY DOC — bounded by a single document's positions, the
    benign window class (never keyed on a corpus-wide value like a
    gram)."""
    from pyspark.sql.window import Window as W

    spans = contamination_spans(corpus_df, benchmark_df, text_col, id_col, n)
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") > F.lag("pos").over(w) + n, F.lit(1)
    ).otherwise(F.lit(0))
    # first position of a doc has NULL lag -> when() is false -> 0; the
    # running sum then starts islands at 0, which is fine as a key.
    islands = spans.select("doc_id", "pos").withColumn("_brk", brk).withColumn(
        "_isl",
        F.sum("_brk").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + (n - 1)).alias("end_pos"),
            F.count(F.lit(1)).alias("n_positions"),
        )
        .select("doc_id", "start_pos", "end_pos", "n_positions")
    )


def cluster_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection for dup clusters: given
    cluster labels (:func:`connected_components` output) and a
    per-doc quality score, keep the BEST-scoring member per cluster
    (tie-break: smallest id) — the curation policy that beats
    :func:`exact_dedup`'s min-id rule when duplicates differ in
    extraction quality (same article, one copy boilerplate-mangled).
    Returns (cluster_id, keep_id, keep_score, n_members).

    Scale: one inner join labels ⋈ scores on the id, then ONE
    two-phase aggregate — the argmax is ``MAX(struct(score, -id))``
    (lexicographic struct ordering ⇒ max score, then min id), so
    there is no per-cluster window sort and partials collapse
    map-side; shuffle volume is one struct per (partition, cluster)."""
    j = labels.join(scores, id_col).select(
        F.col(cluster_col),
        F.col(id_col),
        F.col(score_col).cast("double").alias("_s"),
    )
    return (
        j.groupBy(cluster_col)
        .agg(
            F.max(
                F.struct(F.col("_s").alias("s"), (-F.col(id_col)).alias("nid"))
            ).alias("_m"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            F.col(cluster_col),
            (-F.col("_m.nid")).alias("keep_id"),
            F.col("_m.s").alias("keep_score"),
            "n_members",
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Threshold set-similarity join with PPJoin-style PREFIX FILTERING
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection"): all pairs with n-gram Jaccard >= ``threshold``,
    LOSSLESSLY — law-tested equal to the full inverted index filtered
    at the threshold — but generating candidates only from each doc's
    rarest ``n - ceil(t·n) + 1`` shingles (global-df order): two docs
    with Jaccard >= t MUST share a token inside both prefixes, so the
    stop-shingle posting lists that dominate the full index's pair
    space never produce a candidate.  A length filter
    (``t·max(na,nb) <= min(na,nb)``) prunes size-incompatible pairs
    before the distinct, and every surviving candidate is verified
    EXACTLY via ``array_intersect`` on the full shingle arrays.

    vs :func:`ngram_jaccard_pairs`: that operator returns ALL
    overlapping pairs (any Jaccard) and needs ``max_df`` as a safety
    knob that changes semantics under the cap; this one answers the
    thresholded question exactly with pruning that needs no knob —
    the right default when the question is "pairs above t", the wrong
    one when you want the full similarity distribution.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded 6dp.

    Scale: one shingle explode off a checkpointed staging; document
    frequency is a two-phase groupBy count joined back on the shingle
    (never a window over `s` — the hottest stop-shingle must not become
    a single-task sort); the per-doc rarest-first rank window is
    bounded by one document's shingle set; the candidate join touches
    only prefix postings (for near-dup corpora a small fraction of the
    index); verification joins the bounded candidate set back to the
    checkpointed shingle arrays.  The prefix length carries a +1 safety
    margin so float ``ceil(t·n)`` boundary error can only ever ADD
    candidates, never drop a true pair."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"jaccard_prefix_pairs: threshold in (0, 1], got {threshold}")
    from pyspark.sql.window import Window as W

    df = _widen_narrow_scan(df)
    base = stage(
        df.select(F.col(id_col).alias("id"), shingles(text_col, shingle_n).alias("shs"))
        .filter(F.size("shs") > 0)
    )
    post = base.select(
        F.col("id"), F.size("shs").alias("n"), F.explode("shs").alias("s")
    )
    # Global document frequency as a two-phase groupBy count joined back
    # on `s` — NOT count-over-window: the hottest stop-shingle would be
    # a single-task window sort of O(corpus docs) rows at 100×, and AQE
    # cannot split window partitions.  The per-doc rank window below is
    # safe (its partition is one document's shingle set, bounded).
    # shuffle_hash keeps the posting stream unsorted (build side =
    # vocabulary-sized df table, hash-sharded); SortMergeJoin would add
    # a full posting-side sort the plan doesn't need.
    dfc = post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = post.join(dfc.hint("shuffle_hash"), "s")
    ranked = ranked.withColumn(
        "rk", F.row_number().over(W.partitionBy("id").orderBy("df", "s"))
    )
    plen = F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 2
    pref = ranked.filter(F.col("rk") <= F.least(plen, F.col("n"))).select(
        "id", "n", "s", "rk"
    )
    # NOT checkpointed before the self-join, unlike _lsh_pairs_from_sig:
    # ReuseExchange cannot unify the two sides, so the posting explode +
    # df-count join + rank window do run twice — but an A/B of a lazy
    # localCheckpoint here measured p90 4.2→8.0 s median (6 paired reps,
    # −3.1 s paired-diff): the blocking materialization + row-based
    # rescan + lost AQE planning across the boundary cost far more than
    # the duplicated pipeline, whose inputs are the already-checkpointed
    # shingle arrays.  Cheap duplicate beats expensive stage-out here.
    # ALSO measured and rejected (r15): replacing the self-join with
    # the _shingle_pair_intersections posting-list recipe (groupBy(s) +
    # array_sort(collect_list(struct(id, n, rk))) + two chained pair
    # Generates — runs the prefix pipeline ONCE) was row-identical
    # (256 = 256 candidates, 0 diffs both ways at sf0.1) but 2× SLOWER
    # (2.77 → 5.57 s median, 5 paired reps on a quiet box): the
    # per-shingle struct-list aggregation costs more than the second
    # pipeline evaluation, whose input is the checkpointed shingle
    # arrays.  `git show f732efd:scripts/ab_p90_postings.py` reproduces
    # both variants.
    t = float(threshold)
    # PPJoin position filter: both docs rank their shingles in the SAME
    # global (df, s) order, so a pair meeting on the token at ranks
    # (ra, rb) can share at most ub = 1 + min(na - ra, nb - rb)
    # shingles, while Jaccard >= t needs overlap o >= t/(1+t)·(na+nb);
    # prune rows whose ub (+1 safety margin, mirroring the prefix
    # margin) can't reach that bound.  Lossless: a true pair's
    # FIRST shared token gives ub >= o, so at least one of its join
    # rows always survives to the distinct.
    ub = (
        F.lit(1)
        + F.least(
            F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
        )
        + F.lit(1)
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            (F.col("a.n") * t <= F.col("b.n") + 1e-9)
            & (F.col("b.n") * t <= F.col("a.n") + 1e-9)
            & (
                ub.cast("double") * (1.0 + t)
                >= t * (F.col("a.n") + F.col("b.n")) - 1e-9
            )
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    av = base.select(F.col("id").alias("doc_a"), F.col("shs").alias("_sa"))
    bv = base.select(F.col("id").alias("doc_b"), F.col("shs").alias("_sb"))
    i = F.size(F.array_intersect("_sa", "_sb"))
    na, nb = F.size("_sa"), F.size("_sb")
    return (
        cand.join(av, "doc_a")
        .join(bv, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(i.cast("double") / (na + nb - i), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def dedup_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = None,
    chunk_grade: bool = False,
    chunk_modulus: int = 16,
    min_chunk_tokens: int = 3,
    max_chunk_df: int | None = None,
) -> DataFrame:
    """End-to-end dedup accounting per group (source): run the standard
    two-stage pipeline — exact content dedup (keep the min-id doc per
    md5(text)), then near-dup clustering on the survivors (n-gram
    Jaccard >= ``threshold`` pairs -> connected components -> keep each
    cluster's min-id member) — and report what each source retains:

    ``(group, n_docs, n_exact_kept, n_final_kept, retention)`` with
    ``retention = round(n_final_kept / n_docs, 6)``.

    This is the curation dashboard number ("web crawl keeps 61% after
    dedup, books keep 99%") that decides mixture weights before
    training; every stage reuses the repo's scale-shaped primitives
    (min-id-per-hash exact stage — NOTE: keyed on RAW ``md5(text)``,
    case/whitespace-SENSITIVE by design so the report counts only
    byte-identical copies as exact dups; :func:`exact_dedup`'s
    normalized ``md5(lower(trim(text)))`` key is the looser variant —
    :func:`ngram_jaccard_pairs` with its
    ``max_df`` pair-explosion cap, :func:`connected_components`'s
    large-star/small-star rounds).  A doc always counts against its OWN
    group even when its duplicate lives elsewhere, so cross-source
    duplication shows up as asymmetric retention.

    ``chunk_grade=True`` swaps the near-dup edge rule from n-gram
    Jaccard to VERBATIM-CHUNK sharing: two survivors are clustered iff
    they share ≥1 CDC chunk of ≥``min_chunk_tokens`` tokens
    (:func:`~spear_spark.operators.text.cdc_chunks`, the p117/p127
    machinery).  This is the grade that catches a scraping source —
    a re-crawl that prepends a header to every page drops n-gram
    Jaccard below any sane threshold on LONG pages yet still shares
    almost every CDC chunk verbatim (law-tested: a planted scrape
    shows asymmetric retention at chunk grade that Jaccard grade
    misses) — so the per-source retention dashboard and
    :func:`source_chunk_overlap`'s pair-naming run at one granularity.
    ``max_chunk_df`` caps a chunk hash's document frequency before the
    pair join (boilerplate chunks shared by millions of docs would
    fan out quadratically — same contract as ``max_df``); capped
    chunks produce no edges, exactly like df-capped shingles.

    Scale: one md5 aggregate + semi join for the exact stage, the
    capped shingle pipeline (or one Exchange-free chunking + a
    chunk-hash self-join, checkpointed once) for pairs, an
    edge-set-sized CC, and bounded per-group tallies; nothing is
    quadratic in the corpus (set ``max_df`` / ``max_chunk_df`` on
    hostile corpora).
    """
    if chunk_grade and (
        max_df is not None or shingle_n != 3 or threshold != 0.5
    ):
        # the Jaccard-grade knobs have NO effect on the chunk-grade
        # edge rule — a caller passing threshold=0.8 with
        # chunk_grade=True would silently get an unthresholded
        # chunk-sharing report and read it as a stricter Jaccard one
        raise ValueError(
            "dedup_report: threshold/shingle_n/max_df are Jaccard-grade "
            "knobs; with chunk_grade=True tune chunk_modulus/"
            "min_chunk_tokens/max_chunk_df instead"
        )
    ids = F.col(id_col)
    # assert_true yields NULL when the id is set, so the coalesce passes
    # the id through; a NULL id raises (see the CONTRACT note below)
    checked_id = F.coalesce(
        F.assert_true(ids.isNotNull(), f"dedup_report: {id_col} must not be NULL"), ids
    ).alias(id_col)
    hashed = df.select(group_col, checked_id, F.md5(F.col(text_col)).alias("_h"))
    # ONE md5 pass for the exact stage: min(struct(id, group)) picks the
    # min-id row per hash AND carries its group (ids are the struct's
    # leading field, so lexicographic struct-min == min(id); group rides
    # along) — the former groupBy-min + join-back re-read the corpus-md5
    # subtree a second time just to recover the group column.
    # CONTRACT: id_col must be non-null — struct comparison sorts a
    # NULL leading field FIRST, so a NULL-id row would win its hash's
    # keeper slot and then drop out of the semi/label joins, silently
    # shrinking survivor counts (the old min(id) ignored NULLs).  The
    # rest of dedup_report already assumes non-null ids (the retention
    # join keys on them); this aggregate makes the assumption
    # load-bearing, so the projection feeding it enforces it.  The
    # result feeds TWO consumers (the survivor semi-join into pair
    # generation, and the label join below), so it is staged once
    # (narrow (group, id) rows); without it each consumer would re-run
    # the full corpus md5 aggregate.
    exact_kept = stage(
        hashed.groupBy("_h")
        .agg(F.min(F.struct(F.col(id_col), F.col(group_col))).alias("_m"))
        .select(
            F.col(f"_m.{group_col}").alias(group_col),
            F.col(f"_m.{id_col}").alias(id_col),
        )
    )
    survivors = df.join(
        exact_kept.select(id_col), id_col, "semi"
    )
    if chunk_grade:
        pairs = chunk_shared_pairs(
            survivors,
            text_col,
            id_col,
            modulus=chunk_modulus,
            min_tokens=min_chunk_tokens,
            max_chunk_df=max_chunk_df,
        )
    else:
        pairs = ngram_jaccard_pairs(
            survivors, text_col, id_col, shingle_n=shingle_n, max_df=max_df
        ).filter(F.col("jaccard") >= threshold)
    labels = connected_components(pairs)
    # connected_components always emits (doc_id, cluster_id) — re-key to
    # the caller's id column before joining (id_col != "doc_id" callers)
    lab = exact_kept.join(
        labels.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).withColumn("_cluster", F.coalesce(F.col("cluster_id"), ids))
    per_exact = lab.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_exact_kept"),
        F.sum((F.col("_cluster") == ids).cast("long")).alias("n_final_kept"),
    )
    per_all = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_all.join(per_exact, group_col, "left")
        .select(
            group_col,
            "n_docs",
            F.coalesce("n_exact_kept", F.lit(0)).alias("n_exact_kept"),
            F.coalesce("n_final_kept", F.lit(0)).alias("n_final_kept"),
            F.round(
                F.coalesce("n_final_kept", F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("retention"),
        )
    )


def dup_cluster_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Duplicate-cluster size distribution: near-dup pairs (n-gram
    Jaccard ≥ ``threshold``) → connected components → exact cluster
    sizes, tallied as ``(cluster_size, n_clusters, n_docs, doc_frac)``
    — one row per observed size, singletons included at size 1.

    This is the "how duplicated is this corpus, structurally?" readout
    that sits between :func:`dedup_report`'s per-source retention and
    p83's scalar dup ratio: a corpus whose duplicates sit in two
    10⁵-doc template clusters needs a different fix (kill the
    boilerplate source) than one with 10⁵ scattered pairs (normal
    crawl overlap), and only the size histogram tells them apart.
    ``doc_frac`` = n_docs / corpus size, so the size-1 row is the
    unduplicated share.

    Scale: the pair graph and CC touch only docs that matched
    something; singleton docs join the label table with a broadcast-
    sized left join and never enter CC.  The tallies are two bounded
    two-phase aggregates (per-cluster, then per-size — at most
    |distinct sizes| rows).  Same ``max_df`` contract as
    :func:`ngram_jaccard_pairs`.
    """
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, shingle_n=shingle_n, max_df=max_df
    ).filter(F.col("jaccard") >= F.lit(float(threshold)))
    labels = connected_components(pairs)
    # denominator stays lazy (1-row aggregate broadcast back, the
    # jsd_vs_reference ref_tot pattern) — no plan-construction action
    tot = df.agg(F.count(F.lit(1)).alias("_n"))
    lab = (
        df.select(id_col)
        .join(labels.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("_cluster"))
    )
    sizes = lab.groupBy("_cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("_n"), 6).alias(
                "doc_frac"
            ),
        )
    )


def chunk_shared_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    modulus: int = 16,
    min_tokens: int = 3,
    max_chunk_df: int | None = None,
) -> DataFrame:
    """Verbatim-chunk near-dup edges: ``(doc_a, doc_b, n_shared)`` for
    every doc pair sharing ≥1 distinct CDC chunk of ≥``min_tokens``
    tokens (:func:`~spear_spark.operators.text.cdc_chunks`) — the
    chunk-grade edge rule :func:`dedup_report` clusters on when
    ``chunk_grade=True``, exposed standalone so the same edges can
    feed :func:`connected_components`, :func:`cross_source_dups`, or a
    manual audit.  Complements the similarity family: n-gram Jaccard
    scores whole-document overlap (diluted by length), these edges
    fire on ONE shared verbatim passage however long the documents.

    ``max_chunk_df`` drops chunk hashes present in more than that many
    documents BEFORE the self-join — boilerplate chunks (nav bars,
    license blocks) are the quadratic fan-out risk (a hash in m docs
    yields m² pair rows); capped chunks simply produce no edges, the
    ``max_df`` shingle contract.

    Scale shape: one Exchange-free chunking → a DISTINCT (id,
    chunk_hash) projection materialized once behind a lazy
    localCheckpoint (both self-join sides reuse it) → an optional
    two-phase df-count cap → a chunk-hash self-join → one bounded
    per-pair tally.  Never doc-×-doc."""
    from spear_spark.operators.text import cdc_chunks

    chunks = stage(
        cdc_chunks(df, text_col, id_col, modulus=modulus)
        .filter(F.col("n_tokens") >= int(min_tokens))
        .select(F.col(id_col), "chunk_hash")
        .distinct()
    )
    if max_chunk_df is not None:
        ok = (
            chunks.groupBy("chunk_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= int(max_chunk_df))
            .select("chunk_hash")
        )
        chunks = chunks.join(ok.hint("shuffle_hash"), "chunk_hash")
    a = chunks.select(F.col(id_col).alias("doc_a"), "chunk_hash")
    b = chunks.select(F.col(id_col).alias("doc_b"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def source_chunk_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    modulus: int = 16,
    min_tokens: int = 3,
) -> DataFrame:
    """EXACT cross-source content overlap at chunk granularity: for
    every ordered source pair, how many distinct ≥``min_tokens``-token
    CDC chunks they share and what share of each side's chunk
    vocabulary that is — ``(source_a, source_b, n_shared,
    n_a, n_b, contain_a, contain_b)`` (containment = shared/|side|,
    source_a < source_b).  The exact chunk-level member of the
    source-similarity family: p89 answers with HLL estimates over
    token sets, p93 with CM distribution mass, p96 with lexical
    cosine — this one counts VERBATIM shared passages, the signal
    that says "source B is a scrape of source A, dedup them
    together" (feed the pair into :func:`cross_source_dups`).

    Scale shape: one Exchange-free chunking → a DISTINCT
    (source, chunk_hash) projection (two-phase aggregate),
    materialized once behind a lazy localCheckpoint (THREE consumers
    — the totals aggregate and both self-join sides — would each
    re-run the chunking otherwise) → a self-join on chunk_hash (hot
    boilerplate hashes fan out by #sources sharing them, bounded by
    the source domain, not the corpus) → one bounded per-pair tally
    joined against the broadcast per-source totals.  Never
    doc-×-doc."""
    from spear_spark.operators.text import cdc_chunks

    chunks = cdc_chunks(df, text_col, id_col, modulus=modulus).filter(
        F.col("n_tokens") >= int(min_tokens)
    )
    sc_pairs = stage(
        chunks.join(
            df.select(F.col(id_col), F.col(source_col).alias("_src")), id_col
        )
        .select("_src", "chunk_hash")
        .distinct()
    )
    totals = sc_pairs.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = sc_pairs.select(
        F.col("_src").alias("source_a"), F.col("chunk_hash")
    )
    b = sc_pairs.select(
        F.col("_src").alias("source_b"), F.col("chunk_hash")
    )
    shared = (
        a.join(b, "chunk_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = totals.select(
        F.col("_src").alias("source_a"), F.col("_n").alias("n_a")
    )
    tb = totals.select(
        F.col("_src").alias("source_b"), F.col("_n").alias("n_b")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(F.col("n_shared").cast("double") / F.col("n_a"), 6).alias(
                "contain_a"
            ),
            F.round(F.col("n_shared").cast("double") / F.col("n_b"), 6).alias(
                "contain_b"
            ),
        )
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    threshold: float = 0.9,
    tol: float = 1e-3,
    max_iters: int = 25,
    init_centroids=None,
    fit_on: DataFrame | None = None,
    info: dict | None = None,
    verify: str = "vectorized",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup at embedding scale — k-means-cluster the embedding space,
    then compare pairs ONLY within a cluster and drop the higher id of
    every pair with cosine ≥ ``threshold``.  Returns (drop_id,
    keep_id), the :func:`near_dedup_embedding` contract.

    The named composition of audited pieces: the convergence-
    terminated :func:`~spear_spark.operators.similarity.kmeans_lloyd`
    fit (bounded k-row collects per round), the deterministic
    :func:`~spear_spark.operators.similarity.ivf_assign_fixed` cell
    assignment (pure projection, lowest-index tie-break), and the
    blocked exact-cosine verify.  Semantics exactly as published:
    clusters bound the pair space to Σ|cell|² instead of n² — the
    trade being that a near-dup pair straddling a cell boundary is
    missed (exact duplicates never are: identical vectors assign to
    identical cells), which is the paper's approximation too.  Every
    emitted pair is exactly verified, so drops are SOUND: a subset of
    the brute-force threshold pairs (law-tested).

    100 TB shape: the fit is data-size-independent driver state; the
    assignment is a narrow projection (``_cell`` becomes the shuffle /
    write-partitioning key); the pair join shuffles each cell's rows
    once.  Cap cell sizes upstream (raise k) if a cell outgrows the
    Σ|cell|² budget — the paper's k=50k regime at web scale.

    ``fit_on`` is the production-scale knob: pass a (deterministic,
    seeded) sample — ``df.sample(0.01, seed=7)`` — or any offline
    corpus and the Lloyd fit runs on THAT while assignment + verify
    still cover all of ``df``, so the only full-corpus passes are the
    narrow projection and the blocked pair join (the paper's deploy
    shape, and :func:`~spear_spark.streaming.semdedup_stream`'s
    frozen-centroid regime).  Default (None) fits on ``df`` itself;
    ``fit_on=df`` is law-tested bitwise-equal to the default, and
    drops stay SOUND under any fit corpus — the fit only moves cell
    boundaries (which pairs get compared), never the exact-cosine
    verify.

    ``verify`` selects the within-cell verify implementation
    (:func:`near_dedup_embedding`'s ``impl``): ``"vectorized"``
    (default — cells are bounded here BY CONSTRUCTION, so the
    one-shuffle per-cell gram matrix is always safe and removes the
    interpreted per-pair cosine fold) or ``"fold"`` (the
    pure-Column pair stream, drop-set-equal by law)."""
    from spear_spark.operators.similarity import ivf_assign_fixed, kmeans_lloyd

    if info is None:
        info = {}  # caller may pass a dict to observe iterations/drifts
    kmeans_lloyd(
        df if fit_on is None else fit_on,
        vec_col, id_col, k=k, tol=tol, max_iters=max_iters,
        init_centroids=init_centroids, info=info,
    )
    assigned = ivf_assign_fixed(df, vec_col, info["centroids"])
    return near_dedup_embedding(
        assigned, vec_col, id_col, "_cell", threshold, impl=verify
    )


def canary_scan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    canaries: Sequence[str],
) -> DataFrame:
    """Exact-substring canary scan: one row ``(id, canary)`` per
    document containing a canary string VERBATIM (raw, case-sensitive
    byte match) — the benchmark-contamination check n-gram overlap
    (:func:`decontaminate`) and Bloom membership
    (:func:`bloom_decontaminate`) cannot express, because canary
    GUIDs (the BIG-bench pattern: a unique marker string embedded in
    eval sets precisely so trained models can be audited) must match
    exactly across tokenizer and normalization choices.

    Scale shape: the canary set rides the plan as an array literal
    (canary sets are small BY DESIGN — dozens of markers, not a
    denylist; for corpus-scale denylists use
    :func:`bloom_decontaminate`), so the scan is one Exchange-free
    projection: ``filter(canaries, c -> contains(text, c))`` +
    explode, codegen-eligible, zero Python, zero shuffle — the
    cheapest possible full-corpus audit pass."""
    if not canaries:
        raise ValueError("canary_scan: canary list must be non-empty")
    if any(not isinstance(c, str) or not c for c in canaries):
        raise ValueError("canary_scan: canaries must be non-empty strings")
    arr = F.array(*[F.lit(c) for c in canaries])
    hits = F.filter(arr, lambda p: F.contains(F.col(text_col), p))
    return df.select(F.col(id_col), F.explode(hits).alias("canary"))


def chunk_dedup_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    modulus: int = 16,
) -> DataFrame:
    """Chunk-level dedup report — the PAYOFF of content-defined
    chunking (:func:`~spear_spark.operators.text.cdc_chunks`): chunk
    every document at content-defined boundaries, exact-dedup on
    ``chunk_hash`` with the min-id keep rule, and report per document
    how much of it duplicates LOWER-ID documents: ``(id, n_chunks,
    n_dup_chunks, n_tokens, dup_tokens, dup_token_share)``.  This is
    the re-crawled-page readout document-level dedup cannot give:
    a page re-crawled with one new header paragraph shares no
    document hash (:func:`exact_dedup` misses it) and no FIXED-window
    chunk (:func:`~spear_spark.operators.text.chunk_documents`'
    windows all shift — law-tested), but its CDC chunks re-align
    right after the edit, so the report shows the doc as mostly
    duplicated tokens.

    A chunk occurrence is "duplicated" iff its hash also occurs in
    some lower-id document (min-id keep, the :func:`exact_dedup`
    convention); within-doc repeats of a doc's OWN boilerplate do not
    count against it.  Documents with no chunks (empty/whitespace
    text — ``cdc_chunks`` emits nothing) are absent from the report.

    Scale shape: the chunk table is one Exchange-free projection +
    posexplode, materialized ONCE behind a lazy localCheckpoint (two
    consumers — the ownership aggregate and the join probe — would
    otherwise each re-run the tokenize+md5 chunking, the repo's
    measured multi-consumer trap); the min-id ownership table is a
    two-phase aggregate on ``chunk_hash``; the ownership join
    shuffles on the hash key; the per-doc tally is a second two-phase
    aggregate.  Nothing all-pairs, nothing collected."""
    from spear_spark.operators.text import cdc_chunks

    chunks = stage(
        cdc_chunks(df, text_col, id_col, modulus=modulus)
        .select(id_col, "n_tokens", "chunk_hash")
    )
    owner = chunks.groupBy("chunk_hash").agg(F.min(id_col).alias("_first_id"))
    dup = F.col("_first_id") < F.col(id_col)
    return (
        chunks.join(owner, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup.cast("long")).alias("n_dup_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.when(dup, F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "dup_tokens"
            ),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            "n_tokens",
            "dup_tokens",
            F.round(
                F.col("dup_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_token_share"),
        )
    )


def chunk_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    modulus: int = 16,
    min_tokens: int = 1,
) -> DataFrame:
    """Chunk-level benchmark decontamination: flag every corpus
    document sharing a content-defined chunk with a benchmark/eval
    document — ``(id, bench_id, n_shared_chunks, shared_tokens)``, one
    row per contaminated (corpus doc, bench doc) pair.  The
    shift-robust member of the decontamination family: token-n-gram
    overlap (:func:`decontaminate`) needs a window-size choice and
    pays a posting list per n-gram; Bloom membership
    (:func:`bloom_decontaminate`) answers only yes/no per fixed
    window; CDC chunks re-align across edits, so a benchmark passage
    pasted into a longer page — or lightly prefix-padded — still
    matches its chunk hashes, and the output names WHICH benchmark
    doc leaked WHERE, span-sized.

    ``min_tokens`` drops tiny chunks (a 1-token chunk is a stopword,
    not evidence).  Benchmark column names default to the corpus
    names.

    Scale shape: both chunkings are Exchange-free projections; the
    benchmark chunk table is tiny by design (eval sets, not corpora)
    and broadcast into the hash-equality join, so the corpus is
    touched ONCE with zero shuffle; the per-pair tally is a bounded
    two-phase aggregate on (id, bench_id)."""
    from spear_spark.operators.text import cdc_chunks

    bt = bench_text_col or text_col
    bi = bench_id_col or id_col
    cc = cdc_chunks(corpus, text_col, id_col, modulus=modulus).select(
        id_col, "n_tokens", "chunk_hash"
    )
    bc = (
        cdc_chunks(bench, bt, bi, modulus=modulus)
        .select(F.col(bi).alias("bench_id"), F.col("chunk_hash").alias("_bh"))
        .distinct()
    )
    if min_tokens > 1:
        cc = cc.filter(F.col("n_tokens") >= int(min_tokens))
    return (
        cc.join(F.broadcast(bc), F.col("chunk_hash") == F.col("_bh"))
        .groupBy(id_col, "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_chunks"),
            F.sum("n_tokens").alias("shared_tokens"),
        )
    )


def boilerplate_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    modulus: int = 16,
    min_tokens: int = 3,
    min_docs: int = 2,
    top: int = 20,
) -> DataFrame:
    """Template/boilerplate detector at chunk granularity: the ``top``
    most WIDESPREAD content-defined chunks — ``(chunk_hash, n_docs,
    n_occurrences, n_tokens, first_doc)`` for chunks appearing in at
    least ``min_docs`` distinct documents — the "which exact passage
    is stamped on half the crawl?" readout that tells a curator to
    kill a boilerplate SOURCE (cookie banners, nav footers, license
    headers) rather than dedup its victims one pair at a time.
    :func:`dup_cluster_profile` answers this structurally at document
    grain; this names the offending text itself (join ``first_doc``
    back for the passage).  Chunks under ``min_tokens`` are dropped
    (a 1-token chunk is a stopword, not a template).

    Scale shape: the chunking is the Exchange-free p117 projection;
    the tally is ONE two-phase aggregate on chunk_hash (count +
    count-distinct-doc via two-level aggregate) and the top-``top``
    is a TakeOrderedAndProject heap — no posting lists, no joins.
    Validate ``top`` (bounded heap per task — the bpe_learn lesson)."""
    from spear_spark.operators.text import cdc_chunks

    if not 1 <= int(top) <= 100_000:
        raise ValueError("boilerplate_chunks: top must be in [1, 100000]")
    chunks = cdc_chunks(df, text_col, id_col, modulus=modulus).filter(
        F.col("n_tokens") >= int(min_tokens)
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("n_tokens").alias("n_tokens"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= int(min_docs))
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.col("chunk_hash")
        )
        .limit(int(top))
    )


def source_token_yield(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Effective token yield per source after exact dedup: ``(source,
    n_docs, n_kept, n_tokens, kept_tokens, yield_frac)`` where kept =
    the min-id representative of each exact content group
    (:func:`exact_dedup`'s rule) and yield = kept tokens / raw tokens
    — the "how much does this source actually contribute?" number
    that reprices a corpus-size negotiation: a source shipping 10 TB
    of 95% duplicated boilerplate yields 0.5 TB, and mix planning
    (:func:`~spear_spark.operators.sampling.temperature_mix`, p101)
    should weight the YIELD, not the raw volume.

    Scale shape: one narrow projection (hash + token count per doc),
    materialized once behind a lazy localCheckpoint (the keep
    aggregate and the join probe both consume it), one two-phase MIN
    on the content hash, a semi-join-shaped flag via the joined keep
    table, one bounded per-source aggregate.  All counts exact
    integers; the one ratio is a single rounded division."""
    base = stage(
        df.select(
            F.col(id_col),
            F.col(source_col).alias("_src"),
            F.md5(F.lower(F.trim(F.col(text_col)))).alias("_h"),
            F.size(tokens(F.col(text_col))).alias("_nt"),
        )
    )
    keeps = base.groupBy("_h").agg(F.min(id_col).alias("_keep_id"))
    flagged = base.join(keeps, "_h").select(
        "_src",
        "_nt",
        (F.col(id_col) == F.col("_keep_id")).alias("_kept"),
    )
    return (
        flagged.groupBy("_src")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_kept").cast("long")).alias("n_kept"),
            F.sum("_nt").alias("n_tokens"),
            F.sum(F.when(F.col("_kept"), F.col("_nt")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        )
        .select(
            F.col("_src").alias(source_col),
            "n_docs",
            "n_kept",
            "n_tokens",
            "kept_tokens",
            F.round(
                F.col("kept_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("yield_frac"),
        )
    )


def split_leakage_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col,
    group_key=None,
) -> DataFrame:
    """Audit a train/validation split for content leakage: one row per
    content group that spans BOTH sides — ``(group_key, n_train,
    n_val, example_id)`` — empty iff the split is leak-free at the
    chosen granularity.  This is the CHECK for what
    :func:`~spear_spark.operators.sampling.leakage_safe_split`
    guarantees by construction (law-tested: its output always audits
    empty; an id-parity split on a duplicated corpus does not): run
    it on any split you didn't build content-aware — a validation set
    whose duplicates sit in train silently inflates every eval score.
    ``split_col`` is a boolean column/expression (False = train,
    True = validation).  ``group_key`` picks the granularity: default
    is the exact content hash (md5 of normalized text); pass the
    connected-component label (:func:`connected_components` over
    near-dup pairs, singletons coalesced to their own id) for the
    near-duplicate-grade audit real corpora need — exact-dup-only
    audits pass trivially on corpora whose duplication is fuzzy.

    Scale shape: one narrow key projection + ONE two-phase aggregate
    on the key; the report is at most |leaked groups| rows — the
    audit never materializes the corpus anywhere."""
    key = (
        group_key
        if group_key is not None
        else F.md5(F.lower(F.trim(F.col(text_col))))
    )
    base = df.select(
        key.alias("group_key"),
        F.col(id_col).alias("_id"),
        split_col.cast("boolean").alias("_val"),
    )
    return (
        base.groupBy("group_key")
        .agg(
            F.sum((~F.col("_val")).cast("long")).alias("n_train"),
            F.sum(F.col("_val").cast("long")).alias("n_val"),
            F.min("_id").alias("example_id"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_val") > 0))
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_rel: float = 0.2,
    k: int = 12,
    bands: int = 4,
    candidates: str = "minhash",
    char_n: int = 5,
) -> DataFrame:
    """Character-level near-dup pairs: LSH candidates verified by EXACT
    Levenshtein distance — ``(doc_a, doc_b, edit_dist, rel_edit)`` for
    candidate pairs whose relative edit distance (dist /
    max(len_a, len_b), rounded) is ≤ ``max_rel``.  The character-grain
    member of the near-dup family: token Jaccard (p05/p13) is blind to
    heavy within-word edits (OCR noise, machine mangling, diacritic
    strips) that barely move the shingle set's complement — edit
    distance counts every character operation, and the verify is the
    JVM built-in ``levenshtein`` (codegen, no Python), bit-identical
    to any other engine's DP.

    ``candidates`` picks the generator grain — the bands-vs-shingles
    tradeoff:

    * ``"minhash"`` (default): word-shingle MinHash banding (the
      certified p03 pipeline).  Cheapest, but recall is bound by WORD
      shingle survival — noise dense enough to touch most words
      (every ~10th character) destroys nearly all 3-word shingles and
      the true pair never becomes a candidate, however many bands.
    * ``"char"``: ``char_n``-CHARACTER-gram MinHash banding
      (:func:`char_shingles`).  An edit only kills the ≤char_n grams
      overlapping it, so char-gram Jaccard degrades linearly with
      noise density instead of cliff-dropping — the candidate grain
      matched to the Levenshtein verify (recall contract in
      tests/test_dedup_recall.py: planted OCR noise that word-mode
      banding provably misses).  Costs ~|text|/char_n more exploded
      rows per doc than word shingles; same banding arithmetic.

      **Match (char_n, rows/band) to the corpus's char-gram entropy**
      — unlike word shingles, UNRELATED same-language documents share
      many common char-grams, so short grams + short bands admit a
      baseline-collision candidate flood that the quadratic verify
      then pays for.  Measured on 5k ~300-char English-like docs:
      char_n=5 with 2-row bands → 1.09M candidates (~9% of ALL
      pairs — a scale hazard); char_n=7 with 3-row bands (bands=4 at
      k=12) → 4.3k.  Reserve the permissive 5-gram/2-row setting for
      high-entropy text under DENSE noise (the recall contract's
      regime), and default natural-language corpora to 7-grams with
      ≥3 rows/band.

    Scale shape: the candidate space is LSH-banded (never all-pairs);
    the verify joins each side's text by id (hash joins) and pays one
    BANDED DP per CANDIDATE — Spark's thresholded ``levenshtein`` with
    a per-row bound of ~``max_rel * max(len)``, O(max_rel · len²)
    instead of O(len²), early-exiting the moment a pair provably
    can't pass (emitted set bit-identical to the full DP — A/B-diffed;
    the bound strictly covers the round-at-6dp pass condition).  Still
    bound document length upstream (chunk first for book-length docs:
    the banded DP is quadratic in len at fixed max_rel, which is why
    this is a verify, not a generator).  Relative distance is a single
    IEEE division of exact ints → rounded → thresholded, so the
    emitted set is engine-exact."""
    if not 0 < float(max_rel) <= 1:
        raise ValueError("edit_distance_pairs: max_rel must be in (0, 1]")
    if candidates not in ("minhash", "char"):
        raise ValueError(
            "edit_distance_pairs: candidates must be 'minhash' or 'char', "
            f"got {candidates!r}"
        )
    cands = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        k=k,
        bands=bands,
        char_n=char_n if candidates == "char" else None,
    ).select("doc_a", "doc_b")
    texts = df.select(F.col(id_col), F.col(text_col))
    joined = cands.join(
        texts.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")),
        "doc_a",
    ).join(
        texts.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")),
        "doc_b",
    )
    # Banded DP: Spark's 3-arg levenshtein(l, r, threshold) costs
    # O(threshold * min(len)) instead of O(len_a * len_b) and returns
    # -1 above the threshold.  The pass condition round(d/m, 6) <=
    # max_rel requires d <= (max_rel + 5e-7) * m, so a per-row
    # threshold of ceil((max_rel + 1e-6) * m) + 1 strictly covers every
    # pair that could pass for any text length — the emitted set is
    # bit-identical to the unbanded form (A/B-diffed at sf0.1: 256 ==
    # 256 pairs, 0 asymmetric rows) at ~1/3 the verify cost.  -1 rows
    # are exactly the can't-pass pairs; the d >= 0 guard drops them
    # before the (negative-looking) ratio could leak through.
    m = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    thr = (F.ceil((F.lit(float(max_rel)) + F.lit(1e-6)) * m) + F.lit(1)).cast("int")
    # The PySpark levenshtein wrapper only accepts a literal int
    # threshold; the Catalyst expression takes any int expression, so
    # the per-row bound goes in via SQL text over a staged column.
    staged = joined.withColumn("_thr", thr)
    d = F.expr("levenshtein(_ta, _tb, _thr)")
    rel = F.round(d.cast("double") / m, 6)
    return (
        staged.select(
            "doc_a",
            "doc_b",
            d.alias("edit_dist"),
            rel.alias("rel_edit"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("rel_edit") <= F.lit(float(max_rel))))
    )


def cross_split_neardup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col,
    threshold: float = 0.5,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-duplicate leakage across a train/eval split: LSH-verified
    near-dup pairs (:func:`lsh_verified_pairs` — MinHash-LSH candidates,
    exact Jaccard verification) whose two documents sit on OPPOSITE
    sides — ``(doc_train, doc_eval, jaccard)``, the actionable drop
    list for the eval side.  This is the pair-grade complement of
    :func:`split_leakage_report`: the group-key audit answers "is the
    split clean at granularity X" in aggregate; this names each leaked
    eval doc and its train twin with the similarity as evidence —
    exact-grade audits pass trivially on corpora whose duplication is
    fuzzy (law-tested: a paraphrased plant crosses the split unseen by
    the exact audit, caught here).

    ``split_col`` is a boolean column/expression (False = train,
    True = eval), the :func:`split_leakage_report` convention; NULL
    raises in-plan (an unassigned doc is a split bug, not a skip).

    Scale shape: everything is the :func:`lsh_verified_pairs` plan
    (band equi-join + per-candidate verify, nothing corpus-quadratic)
    plus two broadcast-sized hash joins against the (id, split)
    projection and an orientation projection."""
    pairs = lsh_verified_pairs(
        df, text_col, id_col, threshold, k, bands, shingle_n
    )
    flag = F.col("_split")
    side = df.select(
        F.col(id_col).alias("_id"),
        F.when(
            split_col.cast("boolean").isNull(),
            F.raise_error(
                F.lit(
                    "cross_split_neardup: NULL split flag — every doc "
                    "must be assigned a side"
                )
            ).cast("boolean"),
        )
        .otherwise(split_col.cast("boolean"))
        .alias("_split"),
    )
    joined = (
        pairs.join(
            side.select(F.col("_id").alias("doc_a"), flag.alias("_va")), "doc_a"
        )
        .join(side.select(F.col("_id").alias("doc_b"), flag.alias("_vb")), "doc_b")
        .filter(F.col("_va") != F.col("_vb"))
    )
    doc_train = F.when(F.col("_va"), F.col("doc_b")).otherwise(F.col("doc_a"))
    doc_eval = F.when(F.col("_va"), F.col("doc_a")).otherwise(F.col("doc_b"))
    return joined.select(
        doc_train.alias("doc_train"),
        doc_eval.alias("doc_eval"),
        "jaccard",
    )


def dedup_method_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    k: int = 12,
    bands: int = 4,
    modulus: int = 16,
) -> DataFrame:
    """Side-by-side token-reduction forecast for the three dedup
    GRADES — ``exact`` (document hash, :func:`exact_dedup`),
    ``near_lsh`` (MinHash-LSH verified, :func:`near_dedup_lsh`'s
    smaller-id-wins drops), and ``chunk`` (verbatim CDC-chunk
    ownership, :func:`chunk_dedup_report`) — in one table: ``(method,
    n_docs, n_tokens, n_docs_kept, n_tokens_kept, token_reduction)``.
    This is the what-would-it-cost readout a curation run consults
    BEFORE committing to a grade: exact barely moves on fuzzy corpora,
    near-dup drops whole documents (recall bounded by the LSH S-curve),
    chunk keeps every doc but strips re-crawled/boilerplate spans —
    three different token bills from the same corpus.

    Doc-kept convention: a doc counts as kept when its kept tokens are
    positive (for the chunk grade: at least one chunk occurrence it
    owns); token totals use the whitespace token count everywhere, so
    the three reductions share one denominator.

    Scale shape: each grade is its certified machinery unchanged (the
    p01 two-phase hash group, the p29 banded join + verify, the p118
    checkpointed chunk table); each collapses to a 1-ROW aggregate
    before the 3-row union, and the corpus-total row joins in as a
    1-row broadcast.  The token projection is checkpointed once and
    shared."""
    from spear_spark.operators.text import tokens as _tokens

    nt = stage(
        df.select(
            F.col(id_col).alias("_id"),
            F.size(_tokens(text_col)).cast("long").alias("_nt"),
        )
    )
    tot = nt.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_nt").alias("n_tokens")
    )

    keeps = exact_dedup(df, text_col, id_col).select(
        F.col("keep_id").alias("_id")
    )
    ex_row = (
        keeps.join(nt, "_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.coalesce(F.sum("_nt"), F.lit(0)).alias("n_tokens_kept"),
        )
        .select(F.lit("exact").alias("method"), "n_docs_kept", "n_tokens_kept")
    )

    drops = near_dedup_lsh(
        df, text_col, id_col, threshold, k, bands
    ).select(F.col("drop_id").alias("_id"))
    near_row = (
        nt.join(drops, "_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.coalesce(F.sum("_nt"), F.lit(0)).alias("n_tokens_kept"),
        )
        .select(
            F.lit("near_lsh").alias("method"), "n_docs_kept", "n_tokens_kept"
        )
    )

    rep = chunk_dedup_report(df, text_col, id_col, modulus)
    chunk_row = rep.agg(
        F.coalesce(
            F.sum(
                (F.col("dup_tokens") < F.col("n_tokens")).cast("long")
            ),
            F.lit(0),
        ).alias("n_docs_kept"),
        F.coalesce(
            F.sum(F.col("n_tokens") - F.col("dup_tokens")), F.lit(0)
        ).alias("n_tokens_kept"),
    ).select(F.lit("chunk").alias("method"), "n_docs_kept", "n_tokens_kept")

    rows = ex_row.unionByName(near_row).unionByName(chunk_row)
    out = rows.crossJoin(F.broadcast(tot))
    return out.select(
        "method",
        "n_docs",
        "n_tokens",
        "n_docs_kept",
        "n_tokens_kept",
        (
            F.round(
                F.lit(1.0)
                - F.col("n_tokens_kept").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("token_reduction"),
    )


def lsh_calibration(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """Sketch-honesty calibration for the MinHash estimator: over the
    LSH candidate pairs, bucket by the ESTIMATED Jaccard (matching
    signature components / k — a 0..k integer grid, so the bucketing
    is exact) and report the mean EXACT Jaccard and mean absolute
    error per bucket — ``(n_match, est_jaccard, n_pairs,
    mean_exact_jaccard, mean_abs_err)``.  This is the table that
    justifies (or indicts) a chosen k: if the k=12 estimate is ±0.2
    off at the 0.5 threshold, every unverified LSH dedup decision
    inherits that error — the quantitative argument for
    :func:`lsh_verified_pairs`' verify step, measured on YOUR corpus
    rather than quoted from the 1/√k folklore.

    Scale shape: candidates from the banded equi-join (never
    all-pairs); the estimate is one projection over the joined
    signature rows; the exact side is the :func:`lsh_verified_pairs`
    per-candidate array intersection; the report is ONE two-phase
    aggregate on the k+1-value bucket grid.  The (id, shingle-array)
    staging is computed ONCE (r15, the :func:`lsh_verified_pairs`
    pattern — the r14 form still built the exact-verify arrays twice,
    once per verify side) and feeds the signature aggregate and both
    verify sides; the signature table is itself staged and feeds the
    banded candidate join (via :func:`_lsh_pairs_from_sig`) and the
    two per-pair match-count projections.  Shingle semantics note
    (pre-r14 fix, recorded here): estimate and exact sides both use
    ``shingle_n`` — callers passing a non-default ``shingle_n``
    before r14 got a k-gram estimate graded against 3-gram exact
    Jaccard, so their estimates shift after the fix."""
    shs = stage(
        _widen_narrow_scan(df).select(
            F.col(id_col).alias("_id"),
            shingles(text_col, shingle_n).alias("_shs"),
        )
    )
    sig = stage(_minhash_sig_from_arrays(shs, "_id", k))
    cands = _lsh_pairs_from_sig(sig, "_id", k, bands).select("doc_a", "doc_b")
    siga = sig.select(
        F.col("_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)]
    )
    sigb = sig.select(
        F.col("_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)]
    )
    match = None
    for i in range(k):
        eq = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("long")
        match = eq if match is None else match + eq
    a = shs.select(F.col("_id").alias("doc_a"), F.col("_shs").alias("_sa"))
    b = shs.select(F.col("_id").alias("doc_b"), F.col("_shs").alias("_sb"))
    pairs = (
        cands.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select("doc_a", "doc_b", match.alias("n_match"))
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_i", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("_u", F.size("_sa") + F.size("_sb") - F.col("_i"))
        .filter(F.col("_u") > 0)
        .select(
            "n_match",
            F.round(F.col("_i").cast("double") / F.col("_u"), 6).alias("_exact"),
        )
    )
    # the per-pair exact jaccard is a 6-dp quantity: lift it onto the
    # exact integer micro-grid before ANY summation — a double SUM of
    # rounded jaccards is association-order-dependent and flaked a
    # 6-dp boundary once (0.965673 vs 0.965672 at sf0.001), the exact
    # failure mode the p139 integer-space discipline exists for.  The
    # |error| sum clears the /k denominator too: |k·10⁶·est − k·exm| =
    # |10⁶·n_match − k·exm| is pure int64.
    exm = F.round(F.col("_exact") * F.lit(1_000_000.0), 0).cast("long")
    staged = pairs.select("n_match", exm.alias("_exm"))
    kf = float(k)
    return (
        staged.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("_exm").alias("_sem"),
            F.sum(
                F.abs(F.col("n_match") * F.lit(1_000_000) - F.lit(k) * F.col("_exm"))
            ).alias("_saem"),
        )
        .select(
            "n_match",
            (F.round(F.col("n_match").cast("double") / F.lit(kf), decimals)
             + F.lit(0.0)).alias("est_jaccard"),
            "n_pairs",
            (F.round(
                F.col("_sem").cast("double")
                / (F.col("n_pairs").cast("double") * F.lit(1_000_000.0)),
                decimals,
            ) + F.lit(0.0)).alias("mean_exact_jaccard"),
            (F.round(
                F.col("_saem").cast("double")
                / (F.col("n_pairs").cast("double") * F.lit(kf * 1_000_000.0)),
                decimals,
            ) + F.lit(0.0)).alias("mean_abs_err"),
        )
    )
