"""Degenerate-corpus net: empty input, single row, empty/whitespace-only
text.  At 100 TB these are not edge cases — empty partitions, blank
documents, and stray single-row groups occur constantly, and an operator
that crashes or silently mis-counts on them takes the whole pipeline
down.  Every pin here asserts the BEHAVIOR measured on the shipped tree
(round 14), so a refactor that changes empty-input semantics fails
loudly instead of shipping a new convention by accident."""

import pytest
from pyspark.sql import functions as F

from spear_spark.operators import dedup, text


@pytest.fixture(scope="module")
def empty(spark):
    return spark.createDataFrame([], "doc_id long, source string, text string")


@pytest.fixture(scope="module")
def single(spark):
    return spark.createDataFrame(
        [(1, "a", "hello world foo")], "doc_id long, source string, text string"
    )


@pytest.fixture(scope="module")
def blanky(spark):
    """Two blank-ish docs (empty + whitespace-only) and one exact-dup
    pair of real text."""
    return spark.createDataFrame(
        [
            (1, "a", ""),
            (2, "a", "   "),
            (3, "b", "one two three four five"),
            (4, "b", "one two three four five"),
        ],
        "doc_id long, source string, text string",
    )


_PAIR_OPS = {
    "ngram_jaccard": lambda d: dedup.ngram_jaccard_pairs(d, "text", "doc_id", max_df=64),
    "simhash": lambda d: dedup.simhash_near_pairs(d, "text", "doc_id", max_hamming=3),
    "lsh_verified": lambda d: dedup.lsh_verified_pairs(d, "text", "doc_id", threshold=0.5),
    "edit_distance_char": lambda d: dedup.edit_distance_pairs(
        d, "text", "doc_id", max_rel=0.3, k=12, bands=4, candidates="char", char_n=7
    ),
    "prefix_jaccard": lambda d: dedup.jaccard_prefix_pairs(d, "text", "doc_id", threshold=0.5),
}


def test_pair_ops_empty_and_single_emit_nothing(empty, single):
    """No corpus → no pairs; one doc → no pairs.  A phantom pair here
    would mean a self-join leaking the diagonal or a banding stage
    inventing a candidate from nothing."""
    for name, op in _PAIR_OPS.items():
        assert op(empty).count() == 0, name
        assert op(single).count() == 0, name


def test_exact_dedup_keeps_blank_texts_as_one_group_each(empty, single, blanky):
    """Empty string and whitespace-only are DIFFERENT normalized keys
    from each other?  No — exact_dedup keys on md5(lower(trim(text))),
    so "" and "   " both trim to "" and form ONE group: 4 docs → 1
    blank keeper + 1 real-text keeper = 2 survivors (measured, pinned).
    Empty corpus → 0; single doc → 1."""
    assert dedup.exact_dedup(empty, "text", "doc_id").count() == 0
    assert dedup.exact_dedup(single, "text", "doc_id").count() == 1
    kept = sorted(
        r.keep_id for r in dedup.exact_dedup(blanky, "text", "doc_id").collect()
    )
    assert kept == [1, 3]  # min-id keeper per group: blank group, text group


def test_dedup_report_empty_and_single(empty, single):
    """Report over nothing is an empty table (no groups — NOT a zero
    row); over one doc it is one fully-retained group."""
    kw = dict(threshold=0.5)
    assert dedup.dedup_report(empty, "text", "doc_id", "source", **kw).count() == 0
    rows = dedup.dedup_report(single, "text", "doc_id", "source", **kw).collect()
    assert len(rows) == 1 and rows[0]["retention"] == 1.0
    ck = dict(chunk_grade=True, chunk_modulus=16, min_chunk_tokens=3)
    assert dedup.dedup_report(empty, "text", "doc_id", "source", **ck).count() == 0


def test_dedup_method_report_empty_corpus_convention(empty):
    """The 3-row method report survives an empty corpus: n_docs/kept
    counts are 0, token totals and reductions are NULL (SQL sum-of-
    nothing), never a division error.  Pinned so the empty convention
    can't silently flip to zeros or NaN."""
    rows = {r["method"]: r for r in dedup.dedup_method_report(empty, "text", "doc_id").collect()}
    assert set(rows) == {"exact", "near_lsh", "chunk"}
    for r in rows.values():
        assert r["n_docs"] == 0 and r["n_docs_kept"] == 0
        assert r["n_tokens"] is None and r["token_reduction"] is None


def test_blank_texts_flow_through_report_and_gopher(blanky, empty):
    """Blank docs are normal rows, not errors: the dedup report counts
    them against their source, and the Gopher gate rejects them with
    keep=False rather than raising.  Note the deliberate convention
    split pinned here: the REPORT's exact stage keys on RAW md5(text)
    (byte-sensitive, per its docstring), so "" and "   " are two
    distinct exact keeps — while exact_dedup's normalized
    md5(lower(trim(text))) key merges them (previous test)."""
    rep = {r["source"]: r for r in dedup.dedup_report(
        blanky, "text", "doc_id", "source", threshold=0.5).collect()}
    assert rep["a"]["n_docs"] == 2 and rep["a"]["n_exact_kept"] == 2
    assert rep["b"]["n_docs"] == 2 and rep["b"]["n_final_kept"] == 1
    g = {r["doc_id"]: r for r in text.gopher_rules(blanky, "text", "doc_id").collect()}
    assert len(g) == 4
    assert g[1]["keep"] is False and g[2]["keep"] is False
    assert text.gopher_rules(empty, "text", "doc_id").count() == 0


def test_readability_closed_form_on_blank_group(blanky, empty):
    """Per-source readability over a group of blank docs stays exact:
    zero syllables, the closed-form FK grade goes sharply negative
    (floor of the formula) instead of NaN/crash."""
    rows = {r["group"]: r for r in text.readability(blanky, "text", "source").collect()}
    assert rows["a"]["n_syllables"] == 0
    assert rows["a"]["fk_grade"] < 0  # formula floor, not NaN
    assert rows["a"]["fk_grade"] == rows["a"]["fk_grade"]  # not NaN
    assert text.readability(empty, "text", "source").count() == 0


class TestSimilarityDegenerates:
    """Same net over the embedding surfaces: empty fits fail LOUDLY
    (a silent empty centroid table would poison every downstream
    assignment), k > n and all-identical corpora stop early instead
    of padding or looping."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_empty_fits_raise_descriptively(self, spark):
        from spear_spark.operators.similarity import kcenter_coreset, kmeans_lloyd

        empty = self._mk(spark, [])
        with pytest.raises(ValueError, match="empty"):
            kmeans_lloyd(empty, "embedding", "vec_id", k=4, tol=0.3, max_iters=5)
        with pytest.raises(ValueError, match="empty"):
            kcenter_coreset(empty, "embedding", "vec_id", k=3)

    def test_k_beyond_corpus_stops_early(self, spark):
        """k=8 over 3 orthogonal points: Lloyd keeps the 3 occupied
        cells, the greedy traversal selects all 3 then stops — no
        padding rows, no infinite loop."""
        from spear_spark.operators.similarity import kcenter_coreset, kmeans_lloyd

        few = self._mk(
            spark,
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        )
        assert kmeans_lloyd(few, "embedding", "vec_id", k=8, tol=0.3, max_iters=5).count() == 3
        sel = kcenter_coreset(few, "embedding", "vec_id", k=8).collect()
        assert sorted(r.vec_id for r in sel) == [0, 1, 2]

    def test_all_identical_corpus_collapses(self, spark):
        """Five copies of one vector: one cluster, a 1-row coreset
        (every remaining point is distance 0 from the seed), and both
        near-dedup impls drop the four non-min ids onto the min id."""
        from spear_spark.operators.dedup import near_dedup_embedding, semdedup
        from spear_spark.operators.similarity import kcenter_coreset, kmeans_lloyd

        same = self._mk(spark, [(i, [1.0, 2.0, 3.0]) for i in range(5)]).withColumn(
            "_b", F.lit(1)
        )
        assert kmeans_lloyd(same, "embedding", "vec_id", k=3, tol=0.3, max_iters=5).count() == 1
        assert kcenter_coreset(same, "embedding", "vec_id", k=3).count() == 1
        for impl in ("fold", "vectorized"):
            drops = sorted(
                (r.drop_id, r.keep_id)
                for r in near_dedup_embedding(
                    same, "embedding", "vec_id", "_b", threshold=0.3, impl=impl
                ).collect()
            )
            assert drops == [(1, 0), (2, 0), (3, 0), (4, 0)], impl
        assert semdedup(same.drop("_b"), "embedding", "vec_id", k=2, threshold=0.3).count() == 4

    def test_null_block_rows_emit_nothing_both_impls(self, spark):
        """NULL block keys: the fold path's USING-join never matches
        NULL, so such rows emit no drop pairs — the vectorized path
        must agree (a bare groupBy would treat NULL as a real block
        and verify it, a silent impl-knob divergence)."""
        from pyspark.sql import functions as F2

        from spear_spark.operators.dedup import near_dedup_embedding

        df = self._mk(
            spark,
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 0.0])],
        ).withColumn(
            "_b",
            F2.when(F2.col("vec_id") <= 1, F2.lit("a")).otherwise(F2.lit(None)),
        )
        for impl in ("fold", "vectorized"):
            assert (
                near_dedup_embedding(
                    df, "embedding", "vec_id", "_b", threshold=0.3, impl=impl
                ).count()
                == 0
            ), impl

    def test_single_vector_corpus(self, spark):
        """One vector: semdedup drops nothing; brute-force top-k
        returns the one row; IVF assignment over an empty corpus is an
        empty table, not an error."""
        from spear_spark.operators.dedup import semdedup
        from spear_spark.operators.similarity import cosine_topk, ivf_assign_fixed

        one = self._mk(spark, [(1, [1.0, 0.0, 0.0])])
        assert semdedup(one, "embedding", "vec_id", k=1, threshold=0.3).count() == 0
        got = cosine_topk(one, "embedding", "vec_id", [1.0, 0.0, 0.0], k=5).collect()
        assert len(got) == 1 and got[0].vec_id == 1
        assert ivf_assign_fixed(
            self._mk(spark, []), "embedding", [[1.0, 0.0, 0.0]]
        ).count() == 0


def test_sketch_and_fit_surfaces_on_empty_corpus(spark, empty):
    """Sketches and corpus-fit surfaces over nothing: HLL estimates
    0.0 from empty registers (one row — the sketch exists, the set is
    empty); heavy hitters, Zipf/Heaps fits, and BPE learning emit
    empty tables; volume_gini keeps the single-row global-aggregate
    shape with NULLs (Gini over no groups — and over ONE group, where
    the formula is 0/0 — is undefined, and the NULL convention must
    not silently flip to 0.0 or NaN)."""
    from spear_spark.operators import sketch, stats
    from pyspark.sql import functions as F2

    assert sketch.cm_heavy_hitters(empty, "text", min_count=1).count() == 0
    hll = sketch.hll_distinct(empty, F2.col("text")).collect()
    assert len(hll) == 1 and hll[0][0] == 0.0
    assert text.zipf_fit(empty, "text", "source").count() == 0
    assert text.heaps_fit(empty, "text", "source").count() == 0
    assert text.bpe_learn(empty, "text", n_merges=5).count() == 0
    g = stats.volume_gini(empty, "source").collect()
    assert len(g) == 1 and g[0]["gini"] is None
    one = spark.createDataFrame([(1, "a", "x"), (2, "a", "y")],
                                "doc_id long, source string, text string")
    g1 = stats.volume_gini(one, "source").collect()
    assert len(g1) == 1 and g1[0]["gini"] is None


def test_graph_family_degenerates(spark):
    """Graph-family conventions: pagerank REFUSES an empty edge list
    (iterating over zero nodes returns an empty rank table that reads
    as 'no data' when the real cause is an upstream join bug — the
    empty-fit loud-raise convention).  connected_components' empty and
    self-loop conventions are pinned per regime below."""
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank

    empty_e = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="empty edge list"):
        pagerank(empty_e, "src", "dst", iters=2)


def test_connected_components_degenerates(spark, cc_regime):
    """connected_components emits NOTHING for an empty edge set AND for
    self-loop-only input (the u != v filter drops loops — a doc paired
    only with itself is a singleton, and the labeling contract is 'only
    docs that matched something'; every caller coalesces missing labels
    to the doc's own id, so loops must not mint one-member clusters).
    Loops beside a real pair leave just that pair's two rows.  The
    schema is (doc_id long, cluster_id long) in every case."""
    from spear_spark.operators.dedup import connected_components

    schema = "doc_a long, doc_b long"
    for rows, expect in (
        ([], []),
        ([(1, 1), (2, 2)], []),
        ([(1, 1), (3, 2), (2, 2), (3, 3)], [(2, 2), (3, 2)]),
    ):
        labels = connected_components(spark.createDataFrame(rows, schema))
        assert labels.schema.simpleString() == "struct<doc_id:bigint,cluster_id:bigint>"
        assert all(f.nullable for f in labels.schema.fields)
        assert sorted(map(tuple, labels.collect())) == expect
