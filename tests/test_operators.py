"""Unit tests for the pipeline operators on constructed micro-data
(the oracle suite covers them on real testdata; these pin semantics on
hand-built edge cases)."""

import os

import pytest
from pyspark.sql import functions as F

from spear_spark.operators import dedup, similarity, text
from spear_spark.operators.asof import asof_join_last
from spear_spark.sources import load_table


class TestExactDedup:
    def test_keeps_min_id_and_counts(self, ctx):
        df = ctx.lift(
            [(1, "Hello  World"), (2, "hello  world"), (3, "other")],
            "doc_id: long, text: string",
        ).df
        # normalization is lower+trim only — internal whitespace is
        # significant, but case is not
        got = {
            r.keep_id: r.n_copies
            for r in dedup.exact_dedup(df, "text", "doc_id").collect()
        }
        assert got == {1: 2, 3: 1}


class TestShingles:
    def test_short_doc_empty(self, ctx):
        df = ctx.lift([("a b",)], "text: string").df
        got = df.select(dedup.shingles("text", 3).alias("s")).collect()[0].s
        assert got == []

    def test_three_tokens_one_shingle(self, ctx):
        df = ctx.lift([("a b c",)], "text: string").df
        got = df.select(dedup.shingles("text", 3).alias("s")).collect()[0].s
        assert got == ["a b c"]

    def test_distinct(self, ctx):
        df = ctx.lift([("x y x y x y",)], "text: string").df
        got = sorted(df.select(dedup.shingles("text", 3).alias("s")).collect()[0].s)
        assert got == ["x y x", "y x y"]


class TestMinhash:
    def test_identical_docs_same_signature(self, ctx):
        df = ctx.lift(
            [(1, "the quick brown fox jumps over"), (2, "the quick brown fox jumps over")],
            "doc_id: long, text: string",
        ).df
        sig = dedup.minhash_signatures(df, "text", "doc_id", k=8).collect()
        assert tuple(sig[0])[1:] == tuple(sig[1])[1:]

    def test_lsh_finds_identical_pair(self, ctx):
        df = ctx.lift(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),
                (3, "completely different words entirely here now today"),
            ],
            "doc_id: long, text: string",
        ).df
        pairs = {
            (r.doc_a, r.doc_b): r.shared_bands
            for r in dedup.minhash_lsh_pairs(df, "text", "doc_id", k=12, bands=4).collect()
        }
        assert pairs.get((1, 2)) == 4  # identical docs share every band
        assert (1, 3) not in pairs and (2, 3) not in pairs


class TestSimhash:
    def test_same_tokens_same_hash(self, ctx):
        df = ctx.lift(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta epsilon zeta")],
            "doc_id: long, text: string",
        ).df
        got = {r.doc_id: r.simhash for r in dedup.simhash(df, "text", "doc_id").collect()}
        assert got[1] == got[2]  # order-insensitive (distinct token set)
        assert got[1] != got[3]


class TestJaccard:
    def test_exact_value(self, ctx):
        # doc1: shingles {a b c, b c d}; doc2: {a b c}; jaccard = 1/2
        df = ctx.lift(
            [(1, "a b c d"), (2, "a b c")], "doc_id: long, text: string"
        ).df
        got = dedup.ngram_jaccard_pairs(df, "text", "doc_id").collect()
        assert len(got) == 1
        assert (got[0].doc_a, got[0].doc_b, got[0].jaccard) == (1, 2, 0.5)


class TestSimilarity:
    def test_vectorized_matches_column_version(self, ctx):
        import numpy as np

        rng = np.random.default_rng(3)
        data = [
            (i, [float(x) for x in rng.normal(size=8)], int(i % 2)) for i in range(20)
        ]
        df = ctx.lift(data, "vec_id: long, embedding: array<double>, label: int").df
        a = {
            (r.vec_id, r.nn_id, r.cos_sim)
            for r in similarity.knn_join_blocked(df, "embedding", "vec_id", "label").collect()
        }
        b = {
            (r.vec_id, r.nn_id, r.cos_sim)
            for r in similarity.knn_join_blocked_vectorized(
                df, "embedding", "vec_id", "label"
            ).collect()
        }
        assert a == b

    def test_topk_self_excluded_and_ordered(self, ctx):
        df = ctx.lift(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
            "vec_id: long, embedding: array<double>",
        ).df
        got = similarity.cosine_topk(
            df, "embedding", "vec_id", [1.0, 0.0], k=2, exclude_id=1
        ).collect()
        assert [(r.vec_id, r.cos_sim) for r in got] == [(2, 1.0), (3, 0.0)]

    def test_ann_lsh_returns_bucket_subset(self, ctx):
        import numpy as np

        rng = np.random.default_rng(5)
        data = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
        df = ctx.lift(data, "vec_id: long, embedding: array<double>").df
        q = data[0][1]
        ann = similarity.ann_topk_lsh(df, "embedding", "vec_id", q, k=5, n_planes=4)
        exact = similarity.cosine_topk(df, "embedding", "vec_id", q, k=5)
        ann_ids = {r.vec_id for r in ann.collect()}
        # the query's own bucket contains the query vector itself
        assert 0 in ann_ids
        assert len(ann_ids) <= 5
        # ANN top-1 should usually agree with exact top-1 (same vector)
        assert exact.collect()[0].vec_id == 0


class TestText:
    def test_lang_id_english(self, ctx):
        df = ctx.lift([("the cat is in the house",)], "text: string").df
        assert df.select(text.lang_id("text").alias("l")).collect()[0].l == "en"

    def test_lang_id_und_when_no_stopwords(self, ctx):
        df = ctx.lift([("zzz qqq xxx",)], "text: string").df
        assert df.select(text.lang_id("text").alias("l")).collect()[0].l == "und"

    def test_quality_bounds(self, ctx):
        df = ctx.lift([("the of and to in a is it you that " * 10,)], "text: string").df
        q = df.select(text.quality_score("text").alias("q")).collect()[0].q
        assert 0.0 <= q <= 1.0

    def test_fingerprint_order_insensitive(self, ctx):
        df = ctx.lift(
            [(1, "alpha beta gamma"), (2, "gamma alpha beta gamma")],
            "id: long, text: string",
        ).df
        fps = [r.f for r in df.select(text.fingerprint("text").alias("f")).collect()]
        assert fps[0] == fps[1]  # same distinct token set


class TestAsof:
    def test_basic_tie_and_missing(self, ctx):
        left = ctx.lift(
            [(1, 10, 100), (1, 5, 101), (2, 10, 102)], "k: int, ts: int, ev: int"
        ).df
        right = ctx.lift(
            [(1, 10, "r@10"), (1, 3, "r@3")], "k: int, ts: int, val: string"
        ).df
        got = {
            r.ev: r.prev
            for r in asof_join_last(left, right, on="k", ts="ts", value="val", result="prev").collect()
        }
        # ev 100 at ts=10: right row at ts=10 counts (inclusive bound)
        assert got == {100: "r@10", 101: "r@3", 102: None}


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, ctx, spark):
        from spear_spark.operators.similarity import ann_topk_ivf, cosine_topk
        from spear_spark.sources import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        q = emb.orderBy("vec_id").limit(1).collect()[0]
        exact = {
            r.vec_id
            for r in cosine_topk(
                emb, "embedding", "vec_id", list(q.embedding), k=10
            ).collect()
        }
        approx = {
            r.vec_id
            for r in ann_topk_ivf(
                emb, "embedding", "vec_id", list(q.embedding),
                k=10, n_cells=8, n_probe=4,
            ).collect()
        }
        # probing half the cells should recover at least half the true
        # top-10 on random data (query's own cell always probed first)
        assert len(exact & approx) >= 5
        assert q.vec_id in approx  # the query vector itself is its own NN


class TestRollingHash:
    def test_order_sensitive(self, ctx):
        from spear_spark.operators.text import rolling_hash

        df = ctx.lift(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
            "id: long, text: string",
        ).df
        got = {r.id: r.h for r in df.select("id", rolling_hash("text").alias("h")).collect()}
        assert got[1] == got[3]
        assert got[1] != got[2]  # permutation changes the rolling hash


class TestWinnowing:
    def test_insert_shift_keeps_overlap(self, ctx):
        from spear_spark.operators.text import winnow_fingerprints

        base = "the quick brown fox jumps over the lazy dog again and again"
        shifted = "PREFIX " + base  # insertion shifts every position
        df = ctx.lift([(1, base), (2, shifted)], "id: long, text: string").df
        got = {
            r.id: set(r.w)
            for r in df.select("id", winnow_fingerprints("text", 4).alias("w")).collect()
        }
        inter = got[1] & got[2]
        # winnowing selects local minima — position shifts keep most
        assert len(inter) >= len(got[1]) // 2

    def test_short_doc(self, ctx):
        from spear_spark.operators.text import winnow_fingerprints

        df = ctx.lift([(1, "a b")], "id: long, text: string").df
        got = df.select(winnow_fingerprints("text", 4).alias("w")).collect()[0].w
        assert len(got) == 1  # whole-doc min


class TestFrameSampling:
    def test_fanout_and_determinism(self, ctx, spark):
        from spear_spark.operators.multimodal import attach_binary, sample_frames
        from spear_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
        frames = sample_frames(attach_binary(docs, "text"), "doc_id", "payload")
        rows = frames.collect()
        assert len(rows) > 20  # 1 -> N fan-out
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r.doc_id, []).append((r.frame_no, r.frame_ts_ms))
        for doc, fs in per_doc.items():
            fs.sort()
            assert fs[0] == (0, 0)
            assert all(b[1] - a[1] == 1000 for a, b in zip(fs, fs[1:]))
        # deterministic across runs
        rows2 = frames.collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


class TestRangeJoin:
    def test_matches_naive_theta_join(self, ctx):
        from spear_spark.operators.rangejoin import range_join_pairs
        from pyspark.sql import functions as F

        # timestamps engineered to cross bucket boundaries both ways
        rows = [
            (1, 1, 0), (1, 2, 999_999), (1, 3, 1_000_001), (1, 4, 5_000_000),
            (2, 5, 100), (2, 6, 2_000_200), (1, 7, 1_999_998),
        ]
        df = ctx.lift(rows, "k: int, id: long, us: long").df.select(
            "k", "id", F.timestamp_micros("us").alias("ts")
        )
        delta = 1_000_000
        got = {
            (r.k, r.id_a, r.id_b)
            for r in range_join_pairs(df, "k", "ts", "id", delta).collect()
        }
        naive = {
            (a[0], min(a[1], b[1]), max(a[1], b[1]))
            for a in rows
            for b in rows
            if a[0] == b[0] and a[1] < b[1] and abs(a[2] - b[2]) <= delta
        }
        assert got == naive


class TestApproximateAggregates:
    """Approximate aggregates for 100TB-scale profiling: bounded-error
    checks vs exact (no oracle possible for sketches — the error bound
    IS the contract)."""

    def test_approx_count_distinct_within_5pct(self, ctx, spark):
        from spear_spark.sources import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        exact = li.select("l_partkey").distinct().count()
        approx = li.agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")
        ).collect()[0].a
        assert abs(approx - exact) / exact < 0.05

    def test_percentile_approx_close_to_exact(self, ctx, spark):
        from spear_spark.sources import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        approx = li.agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("m")
        ).collect()[0].m
        exact = li.agg(F.median("l_extendedprice").alias("m")).collect()[0].m
        assert abs(approx - exact) / exact < 0.01


class TestConnectedComponents:
    def test_chain_vs_greedy(self, ctx, cc_regime):
        """a~b~c chain: CC assigns all three to cluster min; greedy
        pair-drop would handle it too, but CC also gets c when (a,c)
        never paired directly."""
        from spear_spark.operators.dedup import connected_components

        pairs = ctx.lift(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            "doc_a: long, doc_b: long",
        ).df
        got = {
            r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20, 23: 20}

    def test_adversarial_chain_100(self, ctx, monkeypatch):
        """Path graph of diameter 100: plain min-propagation needs ~100
        rounds; large-star/small-star converges in O(log² n).  max_iter=12
        would time out the old implementation — the chain must still fully
        collapse to cluster 1, with lineage kept flat by localCheckpoint.
        Pins the distributed rounds (forced by a zero edge bound)."""
        from spear_spark.operators.dedup import connected_components

        monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", 0)

        pairs = ctx.lift(
            [(i, i + 1) for i in range(1, 101)], "doc_a: long, doc_b: long"
        ).df
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(pairs, max_iter=12).collect()
        }
        assert got == {i: 1 for i in range(1, 102)}

    def test_random_graph_vs_union_find(self, ctx, cc_regime):
        """Random pair graph vs a driver-side union-find oracle."""
        import random

        from spear_spark.operators.dedup import connected_components

        rng = random.Random(7)
        edges = sorted({
            tuple(sorted(rng.sample(range(1, 61), 2))) for _ in range(55)
        })
        parent = {i: i for i in range(1, 61)}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        # min-id per component, only nodes that appear in an edge
        nodes = {n for e in edges for n in e}
        comp_min = {}
        for n in nodes:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        expect = {n: comp_min[find(n)] for n in nodes}

        pairs = ctx.lift(list(edges), "doc_a: long, doc_b: long").df
        got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == expect

    def test_non_numeric_ids_raise(self, ctx):
        """String/md5 ids would silently CAST to NULL and return
        garbage (ADVICE r2) — the function must refuse them loudly."""
        import pytest

        from spear_spark.operators.dedup import connected_components

        pairs = ctx.lift(
            [("a", "b"), ("b", "c")], "doc_a: string, doc_b: string"
        ).df
        with pytest.raises(TypeError, match="integral ids"):
            connected_components(pairs)

    def test_exhausted_max_iter_raises(self, ctx, monkeypatch):
        """If the loop exits before the edge-set signature stabilizes,
        labels could conflict — never return silently (ADVICE r2).  Only
        the distributed rounds iterate, so the zero edge bound forces
        them."""
        import pytest

        from spear_spark.operators.dedup import connected_components

        monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", 0)

        pairs = ctx.lift([(1, 2), (2, 3)], "doc_a: long, doc_b: long").df
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iter=1)

    def test_edge_bound_boundary(self, spark, monkeypatch):
        """Exactly ``_LOCAL_CC_EDGES`` edges take the driver union-find;
        one more takes the distributed rounds.  Disjoint pairs
        (2i, 2i+1) keep the rounds to a couple of passes."""
        from spear_spark.operators.dedup import _LOCAL_CC_EDGES, connected_components

        driver_calls = []
        solve = dedup._component_minima

        def counting_solve(u, v):
            driver_calls.append(len(u))
            return solve(u, v)

        monkeypatch.setattr(dedup, "_component_minima", counting_solve)
        for n_edges, expect_calls in ((_LOCAL_CC_EDGES, [_LOCAL_CC_EDGES]), (_LOCAL_CC_EDGES + 1, [])):
            driver_calls.clear()
            pairs = spark.range(n_edges).select(
                (F.col("id") * 2).alias("doc_a"), (F.col("id") * 2 + 1).alias("doc_b")
            )
            labels = connected_components(pairs)
            assert driver_calls == expect_calls
            got = labels.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("cluster_id") != F.col("doc_id") - F.col("doc_id") % 2).cast("int"))
                .alias("wrong"),
            ).first()
            assert (got.n, got.wrong) == (2 * n_edges, 0)

    def test_small_graph_job_census(self, spark, with_jobs):
        """A small staged edge set costs at most 2 jobs before the
        result's own action: the edge stage (AQE runs the distinct's
        shuffle map stage as it plans the checkpoint) and the bounded
        read that materializes it.  The rounds cost ~8 jobs each."""
        from spear_spark.config import stage
        from spear_spark.operators.dedup import connected_components

        pairs = stage(
            spark.createDataFrame([(1, 2), (2, 3), (5, 4), (7, 8), (3, 9)], "doc_a long, doc_b long"),
            eager=True,
        )
        labels, jobs = with_jobs(lambda: connected_components(pairs))
        assert jobs <= 2
        assert sorted(map(tuple, labels.collect())) == [
            (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (7, 7), (8, 7), (9, 1)
        ]

    @pytest.mark.parametrize("query", [
        "p21_dup_clusters", "p88_cluster_representatives", "p102_dedup_report",
        "p106_dup_cluster_profile", "p131_split_leakage", "p135_leakage_split_cc",
        "p137_dedup_report_chunks",
    ])
    def test_catalog_rows_identical_across_regimes(self, spark, sf_dir, monkeypatch, query):
        """The seven catalog queries built on connected components give
        the same schema and rows in both regimes on the sf0.01 tables
        (next to the default sf0.001 ones)."""
        from collections import Counter

        from spear_spark.operators import catalog

        sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
        build = getattr(catalog, query)
        by_regime = []
        for bound in (dedup._LOCAL_CC_EDGES, 0):
            monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", bound)
            df = build(spark, sf001)
            by_regime.append((df.schema, Counter(map(tuple, df.collect()))))
        assert by_regime[0] == by_regime[1]
        assert by_regime[0][1]


class TestDecodeBackendGate:
    """The codec gate must USE a present PIL (not raise) and fall back
    to the deterministic fake when PIL is absent or the payload does
    not decode (ADVICE r1: the original gate raised on successful
    import)."""

    def _with_fake_pil(self, monkeypatch, open_impl):
        import sys
        import types

        pil = types.ModuleType("PIL")
        image_mod = types.ModuleType("PIL.Image")
        image_mod.open = open_impl
        pil.Image = image_mod
        monkeypatch.setitem(sys.modules, "PIL", pil)
        monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)

    def test_uses_real_decoder_when_pil_present(self, monkeypatch):
        from spear_spark.operators import multimodal

        class FakeImg:
            width, height, format = 320, 240, "PNG"

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

        self._with_fake_pil(monkeypatch, lambda buf: FakeImg())
        assert multimodal._decode_backend(b"anything") == (320, 240, "png")

    def test_falls_back_on_undecodable_payload(self, monkeypatch):
        from spear_spark.operators import multimodal

        def boom(buf):
            raise ValueError("not an image")

        self._with_fake_pil(monkeypatch, boom)
        got = multimodal._decode_backend(b"not an image")
        assert got == multimodal._fake_decode(b"not an image")

    def test_force_fake_flag_bypasses_codec(self, monkeypatch):
        from spear_spark.operators import multimodal

        class FakeImg:
            width, height, format = 1, 1, "PNG"

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

        self._with_fake_pil(monkeypatch, lambda buf: FakeImg())
        monkeypatch.setattr(multimodal, "FORCE_FAKE_CODEC", True)
        assert multimodal._decode_backend(b"x") == multimodal._fake_decode(b"x")

    def test_vendored_png_backend_without_pil(self, monkeypatch):
        """The REAL (non-fake) branch must execute in this container:
        with PIL absent, a valid PNG payload decodes through the
        vendored codec (VERDICT r2 Missing #3)."""
        import builtins
        import sys

        from spear_spark.operators import _png, multimodal

        real_import = builtins.__import__

        def no_pil(name, *a, **kw):
            if name.startswith("PIL"):
                raise ImportError("no PIL here")
            return real_import(name, *a, **kw)

        monkeypatch.delitem(sys.modules, "PIL", raising=False)
        monkeypatch.delitem(sys.modules, "PIL.Image", raising=False)
        monkeypatch.setattr(builtins, "__import__", no_pil)
        payload = _png.encode_png(bytes(range(5 * 3 * 3)) [: 5 * 3 * 3], 5, 3, 3)
        assert multimodal._decode_backend(payload) == (5, 3, "png")
        # non-PNG still degrades to the fake, never raises
        assert multimodal._decode_backend(b"text") == multimodal._fake_decode(b"text")

    def test_pil_preferred_over_vendored(self, monkeypatch):
        """Tier order: a working PIL wins even for PNG payloads."""
        from spear_spark.operators import _png, multimodal

        class FakeImg:
            width, height, format = 999, 888, "PNG"

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

        self._with_fake_pil(monkeypatch, lambda buf: FakeImg())
        payload = _png.encode_png(bytes(2 * 2 * 1), 2, 2, 1)
        assert multimodal._decode_backend(payload) == (999, 888, "png")


class TestVendoredPngCodec:
    """Roundtrip + filter coverage for the vendored stdlib PNG codec."""

    def test_roundtrip_all_channel_counts(self):
        from spear_spark.operators import _png

        for ch in (1, 2, 3, 4):
            w, h = 7, 5
            pixels = bytes((i * 31 + ch) % 256 for i in range(w * h * ch))
            data = _png.encode_png(pixels, w, h, ch)
            assert data[:8] == _png.SIGNATURE
            gw, gh, gch, gpix = _png.decode_png(data)
            assert (gw, gh, gch, gpix) == (w, h, ch, pixels)

    def test_png_size_header_only(self):
        from spear_spark.operators import _png

        data = _png.encode_png(bytes(6 * 4 * 3), 6, 4, 3)
        assert _png.png_size(data) == (6, 4)

    def test_filtered_scanlines_decode(self):
        """Unfiltering paths (Sub/Up/Average/Paeth) — build a PNG with
        per-row filters by hand and check against the known pixels."""
        import struct
        import zlib

        from spear_spark.operators import _png

        w, h, ch = 4, 5, 1
        rows = [bytes((x * 7 + y * 13) % 256 for x in range(w)) for y in range(h)]

        def filt(ftype, row, prev):
            out = bytearray([ftype])
            for x in range(w):
                left = row[x - ch] if x >= ch else 0
                up = prev[x]
                upleft = prev[x - ch] if x >= ch else 0
                if ftype == 0:
                    out.append(row[x])
                elif ftype == 1:
                    out.append((row[x] - left) & 0xFF)
                elif ftype == 2:
                    out.append((row[x] - up) & 0xFF)
                elif ftype == 3:
                    out.append((row[x] - ((left + up) >> 1)) & 0xFF)
                else:
                    out.append((row[x] - _png._paeth(left, up, upleft)) & 0xFF)
            return bytes(out)

        raw = b""
        prev = bytes(w)
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            raw += filt(ftype, rows[y], prev)
            prev = rows[y]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        data = (
            _png.SIGNATURE
            + _png._chunk(b"IHDR", ihdr)
            + _png._chunk(b"IDAT", zlib.compress(raw))
            + _png._chunk(b"IEND", b"")
        )
        gw, gh, gch, gpix = _png.decode_png(data)
        assert (gw, gh, gch) == (w, h, ch) and gpix == b"".join(rows)

    def test_rejects_garbage(self):
        import pytest

        from spear_spark.operators import _png

        with pytest.raises(_png.PngError):
            _png.png_size(b"JFIF not a png")
        with pytest.raises(_png.PngError):
            _png.decode_png(_png.SIGNATURE + b"\x00" * 30)

    def test_real_resize_through_spark(self, ctx):
        """End-to-end: PNG payloads resized through mapInPandas come
        back as REAL PNGs at the target size with resampled pixels."""
        from pyspark.sql import functions as F

        from spear_spark.operators import _png
        from spear_spark.operators.multimodal import resize_images

        rows = []
        for doc_id in range(4):
            w, h, ch = 8 + doc_id, 6, 3
            pixels = bytes((i * (doc_id + 3)) % 256 for i in range(w * h * ch))
            rows.append((doc_id, bytearray(_png.encode_png(pixels, w, h, ch))))
        df = ctx.lift(rows, "doc_id: long, payload: binary").df
        out = {r.doc_id: bytes(r.payload) for r in resize_images(df, 4, 3).collect()}
        assert len(out) == 4
        for doc_id, payload in out.items():
            gw, gh, gch, gpix = _png.decode_png(payload)
            assert (gw, gh, gch) == (4, 3, 3)
            # spot-check nearest-neighbor: output (0,0) == input (0,0)
            w = 8 + doc_id
            src = bytes((i * (doc_id + 3)) % 256 for i in range(w * 6 * 3))
            assert gpix[:3] == src[:3]


class TestMultimodalPlumbing:
    def test_resize_and_featurize(self, ctx, spark):
        from spear_spark.operators.multimodal import (
            attach_binary, extract_features, resize_images,
        )
        from spear_spark.operators.similarity import cosine_topk
        from spear_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
        payload = attach_binary(docs, "text")

        resized = resize_images(payload, 64, 64).collect()
        assert len(resized) == 30
        assert all(r.width == 64 and r.height == 64 for r in resized)
        assert len({len(bytes(r.payload)) for r in resized}) == 1  # uniform size

        feats = extract_features(payload, dim=8)
        rows = feats.collect()
        assert all(len(r.features) == 8 for r in rows)
        # deterministic: same payload -> same features
        rows2 = extract_features(payload, dim=8).collect()
        assert {r.doc_id: tuple(r.features) for r in rows} == {
            r.doc_id: tuple(r.features) for r in rows2
        }
        # features flow straight into the similarity operators
        q = rows[0]
        top = cosine_topk(feats, "features", "doc_id", list(q.features), k=3).collect()
        assert top[0].doc_id == q.doc_id and top[0].cos_sim == 1.0


class TestHotShingleStress:
    def test_hot_posting_list_pairs_exact(self, ctx):
        """50 docs all sharing one 3-gram: the posting-list pair
        expansion must produce exactly C(50,2) intersection-1 pairs
        with correct jaccard — the skew shape the df-cap knob targets."""
        from spear_spark.operators.dedup import ngram_jaccard_pairs

        docs = [(i, f"common one two unique{i} a{i} b{i}") for i in range(50)]
        df = ctx.lift(docs, "doc_id: long, text: string").df
        pairs = ngram_jaccard_pairs(df, "text", "doc_id").collect()
        assert len(pairs) == 50 * 49 // 2
        # each doc has 4 shingles, shares exactly 1 → jaccard = 1/7
        assert all(abs(p.jaccard - round(1 / 7, 6)) < 1e-9 for p in pairs)

    def test_df_cap_prunes_hot_shingle(self, ctx):
        """Same hot-shingle corpus with a binding max_df: the C(50,2)
        quadratic pair blast from the df-50 shingle must vanish (those
        pairs' only overlap was the hot shingle), while a genuine
        near-dup pair sharing RARE shingles survives with its
        pruned-intersection jaccard."""
        from spear_spark.operators.dedup import ngram_jaccard_pairs

        docs = [(i, f"common one two unique{i} a{i} b{i}") for i in range(50)]
        # docs 100/101: near-dups sharing 3 rare shingles + the hot one
        docs += [
            (100, "common one two same x y z tail100"),
            (101, "common one two same x y z tail101"),
        ]
        df = ctx.lift(docs, "doc_id: long, text: string").df
        got = {
            (p.doc_a, p.doc_b): p.jaccard
            for p in ngram_jaccard_pairs(df, "text", "doc_id", max_df=10).collect()
        }
        # all surviving pairs involve the near-dup couple only
        assert set(got) == {(100, 101)}
        # 6 shingles each; shared = 5 of which 1 (the hot one) is pruned
        # → i=4, union denominator stays 6+6-4=8 (pruned-intersection)
        assert abs(got[(100, 101)] - 0.5) < 1e-9

    def test_df_cap_bounded_time_on_many_hot_shingles(self, ctx):
        """Hostile corpus where EVERY shingle of 200 docs is hot (all
        docs identical prefix): uncapped this is 200²/2 pairs × many
        shingles; capped it must finish fast with zero pairs."""
        import time

        from spear_spark.operators.dedup import ngram_jaccard_pairs

        docs = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(200)]
        df = ctx.lift(docs, "doc_id: long, text: string").df
        t0 = time.monotonic()
        rows = ngram_jaccard_pairs(df, "text", "doc_id", max_df=20).collect()
        assert rows == []
        assert time.monotonic() - t0 < 60

    def test_near_dedup_default_cap_binds(self, ctx):
        """near_dedup_jaccard's DEFAULT must be the capped path (VERDICT
        r2): 600 identical boilerplate docs (every shingle df=600 >
        DEFAULT_MAX_DF=512) produce ZERO pairs without the caller
        passing anything; a genuine near-dup pair built from RARE
        shingles still gets its drop decision."""
        import time

        from spear_spark.operators.dedup import DEFAULT_MAX_DF, near_dedup_jaccard

        assert DEFAULT_MAX_DF is not None
        docs = [(i, "spam spam spam spam spam ham eggs") for i in range(600)]
        docs += [
            (1000, "rare tokens that match closely here indeed"),
            (1001, "rare tokens that match closely here today"),
        ]
        df = ctx.lift(docs, "doc_id: long, text: string").df
        t0 = time.monotonic()
        got = {(r.drop_id, r.keep_id) for r in near_dedup_jaccard(df, "text", "doc_id").collect()}
        # hot-shingle docs are identical (jaccard 1.0 uncapped) but the
        # default cap prunes every df-600 shingle → no pair reaches the
        # threshold; the rare-shingle near-dup pair (4 of 5 shingles
        # shared, jaccard 4/6) survives.
        assert got == {(1001, 1000)}
        assert time.monotonic() - t0 < 60


class TestSequencePacking:
    def test_offsets_and_pack_bounds(self, ctx):
        from spear_spark.operators.packing import pack_sequences

        rows = [(i, "w " * 10) for i in range(12)]  # 10 tokens each
        df = ctx.lift(rows, "doc_id: long, text: string").df
        out = pack_sequences(
            df, text.token_count("text"), "doc_id", capacity=25, n_shards=2
        ).collect()
        assert len(out) == 12  # every doc assigned exactly once
        by_id = {r.doc_id: r for r in out}
        # shard 0 = even ids, laid out in id order: starts 0,10,20,30...
        assert by_id[0].pack_no == 0 and by_id[0].pack_offset == 0
        assert by_id[4].pack_no == 0 and by_id[4].pack_offset == 20
        assert by_id[6].pack_no == 1 and by_id[6].pack_offset == 5
        for r in out:
            assert 0 <= r.pack_offset < 25
            assert r.n_tokens == 10

    def test_partition_independence(self, ctx, spark):
        from spear_spark.operators.packing import pack_sequences

        rows = [(i, "tok " * (1 + i % 7)) for i in range(100)]
        df = ctx.lift(rows, "doc_id: long, text: string").df
        a = pack_sequences(df, text.token_count("text"), "doc_id").collect()
        b = pack_sequences(
            df.repartition(7), text.token_count("text"), "doc_id"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestStratifiedSample:
    def test_rate_and_determinism(self, ctx):
        from spear_spark.operators.sampling import stratified_sample

        rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
        df = ctx.lift(rows, "k: long, lang: string").df
        out = stratified_sample(df, "k", "lang", {"en": 0.1}, default_rate=0.5)
        got = out.groupBy("lang").count().collect()
        counts = {r.lang: r["count"] for r in got}
        # 1000 keys per stratum: md5-uniform keep rates land near target
        assert 60 <= counts["en"] <= 140
        assert 420 <= counts["fr"] <= 580
        # repartitioning must not change the selected set
        again = stratified_sample(
            df.repartition(13), "k", "lang", {"en": 0.1}, default_rate=0.5
        )
        assert sorted(r.k for r in out.collect()) == sorted(r.k for r in again.collect())

    def test_bottom_k_exact_count_per_group(self, ctx):
        from spear_spark.operators.sampling import bottom_k_sample

        rows = [(i, i % 3) for i in range(90)] + [(1000, 99)]  # group 99 has 1 row
        df = ctx.lift(rows, "k: long, g: int").df
        out = bottom_k_sample(df, "k", "g", k=5).groupBy("g").count().collect()
        counts = {r.g: r["count"] for r in out}
        assert counts == {0: 5, 1: 5, 2: 5, 99: 1}
        # deterministic under repartitioning
        a = sorted(r.k for r in bottom_k_sample(df, "k", "g", 5).collect())
        b = sorted(r.k for r in bottom_k_sample(df.repartition(11), "k", "g", 5).collect())
        assert a == b


class TestGroupQuantiles:
    def test_exact_interpolation(self, ctx):
        from spear_spark.operators.stats import group_quantiles

        df = ctx.lift([("a", v) for v in [1, 2, 3, 4]], "g: string, v: long").df
        row = group_quantiles(df, "v", ["g"], [0.5, 0.25]).collect()[0]
        assert row.q50 == 2.5  # linear interpolation between 2 and 3
        assert row.q25 == 1.75
        assert row.n_rows == 4

    def test_approx_tracks_exact(self, ctx, spark, sf_dir):
        from spear_spark.operators.stats import group_quantiles, group_quantiles_approx
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        exact = {r.lang: r.q50 for r in group_quantiles(docs, "n_chars", ["lang"], [0.5]).collect()}
        approx = {r.lang: r.q50 for r in group_quantiles_approx(docs, "n_chars", ["lang"], [0.5]).collect()}
        for lang, ex in exact.items():
            assert abs(approx[lang] - ex) / max(ex, 1.0) < 0.1


class TestIvfFixed:
    def test_full_probe_equals_brute_force(self, ctx, spark, sf_dir):
        from spear_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.orderBy("vec_id").limit(4).select("embedding").collect()
        cents = [list(map(float, r.embedding)) for r in rows]
        q = cents[0]
        brute = similarity.cosine_topk(emb, "embedding", "vec_id", q, k=5).collect()
        ann = similarity.ann_topk_ivf_fixed(
            emb, "embedding", "vec_id", q, cents, k=5, n_probe=4
        ).collect()
        assert [tuple(r) for r in ann] == [tuple(r) for r in brute]

    def test_assignment_deterministic_and_probe_prunes(self, ctx, spark, sf_dir):
        from spear_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.orderBy("vec_id").limit(4).select("embedding").collect()
        cents = [list(map(float, r.embedding)) for r in rows]
        a = similarity.ivf_assign_fixed(emb, "embedding", cents)
        counts = dict(
            (r["_cell"], r["count"]) for r in a.groupBy("_cell").count().collect()
        )
        assert sum(counts.values()) == emb.count()  # total preserved
        b = similarity.ivf_assign_fixed(emb.repartition(5), "embedding", cents)
        assert sorted((r.vec_id, r["_cell"]) for r in a.select("vec_id", "_cell").collect()) == \
               sorted((r.vec_id, r["_cell"]) for r in b.select("vec_id", "_cell").collect())
        probe = similarity.nearest_cells(cents[0], cents, 2)
        assert len(probe) == 2 and probe[0] == 0  # query IS centroid 0

    def test_ivf_assign_vectorized_matches_literal(self, spark, sf_dir):
        """The large-k scale path (Arrow/BLAS ``impl='vectorized'``)
        must reproduce the literal-centroid path's assignments exactly
        — same rounded-L2 argmin, same first-index tie-break —
        including at a k*d above the auto-dispatch threshold and with
        an exact-duplicate vector (where the BLAS expansion's
        cancellation risk is worst: d2 computed as x·x - 2x·c + c·c
        instead of a direct non-negative sum)."""
        from spear_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        rows = emb.orderBy("vec_id").limit(40).select("embedding").collect()
        for k in (8, 40):  # below and above _VECTORIZED_ASSIGN_CELLS
            cents = [list(map(float, r.embedding)) for r in rows[:k]]
            lit = sorted(
                (r.vec_id, r["_cell"])
                for r in similarity.ivf_assign_fixed(
                    emb, "embedding", cents, impl="literal"
                ).collect()
            )
            vec = sorted(
                (r.vec_id, r["_cell"])
                for r in similarity.ivf_assign_fixed(
                    emb, "embedding", cents, impl="vectorized"
                ).collect()
            )
            assert lit == vec
        # auto dispatch: k*d = 8*64 = 512 stays literal (no Python in
        # the plan), k*d = 40*64 = 2560 goes vectorized
        small = similarity.ivf_assign_fixed(
            emb, "embedding", [list(map(float, r.embedding)) for r in rows[:8]]
        )
        big = similarity.ivf_assign_fixed(
            emb, "embedding", [list(map(float, r.embedding)) for r in rows[:40]]
        )
        assert "ArrowEvalPython" not in small._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()


class TestRelevance:
    def test_tfidf_known_values(self, ctx):
        import math

        from spear_spark.operators.relevance import tf_idf

        df = ctx.lift(
            [(1, "a a b"), (2, "a c")], "doc_id: long, text: string"
        ).df
        got = {
            (r.doc_id, r.term): (r.tf, r.tfidf)
            for r in tf_idf(df, "text", "doc_id").collect()
        }
        # N=2; 'a' in both docs (dft=2), 'b'/'c' in one (dft=1)
        idf_a = math.log(3.0 / 3.0) + 1.0
        idf_b = math.log(3.0 / 2.0) + 1.0
        assert got[(1, "a")] == (2, round(2 * idf_a, 6))
        assert got[(1, "b")] == (1, round(idf_b, 6))
        assert got[(2, "c")] == (1, round(idf_b, 6))

    def test_bm25_orders_by_term_density(self, ctx):
        from spear_spark.operators.relevance import bm25

        df = ctx.lift(
            [
                (1, "hash hash hash pad pad pad"),
                (2, "hash pad pad pad pad pad"),
                (3, "pad pad pad pad pad pad"),
            ],
            "doc_id: long, text: string",
        ).df
        rows = bm25(df, "text", "doc_id", ["hash"]).collect()
        scores = {r.doc_id: r.bm25 for r in rows}
        assert 3 not in scores  # no query term -> omitted
        assert scores[1] > scores[2] > 0

    def test_bm25_partition_independent(self, ctx, spark, sf_dir):
        from spear_spark.operators.relevance import bm25
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        a = bm25(docs, "text", "doc_id", ["hash", "join"], top=10).collect()
        b = bm25(docs.repartition(7), "text", "doc_id", ["hash", "join"], top=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

class TestSketches:
    def test_count_min_one_sided(self, spark, sf_dir):
        """CM never undercounts: est >= exact for every token."""
        from spear_spark.operators.sketch import cm_heavy_hitters

        docs = load_table(spark, sf_dir, "documents")
        rows = cm_heavy_hitters(docs, "text", min_count=1).collect()
        assert rows and all(r.est >= r.exact for r in rows)

    def test_count_min_mergeable(self, spark, sf_dir):
        """Sketch(shard A) cell-wise + Sketch(shard B) == Sketch(A u B):
        the property that lets 100 TB shards be profiled independently
        and merged as tiny cell grids."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sketch import count_min_sketch

        docs = load_table(spark, sf_dir, "documents")
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        merged = (
            count_min_sketch(a, "text")
            .unionAll(count_min_sketch(b, "text"))
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = count_min_sketch(docs, "text")
        assert merged.exceptAll(whole).count() == 0
        assert whole.exceptAll(merged).count() == 0

    def test_hll_registers_bounded_and_mergeable(self, spark, sf_dir):
        """Register table never exceeds m rows (bounded grouped state),
        and shard register tables merge by MAX to the whole-corpus one."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sketch import HLL_M, hll_register_table

        ev = load_table(spark, sf_dir, "events")
        key = F.col("user_id").cast("string")
        whole = hll_register_table(ev, key)
        assert whole.count() <= HLL_M
        a = hll_register_table(ev.filter(F.col("event_id") % 2 == 0), key)
        b = hll_register_table(ev.filter(F.col("event_id") % 2 == 1), key)
        merged = (
            a.unionAll(b).groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
        )
        assert merged.exceptAll(whole).count() == 0
        assert whole.exceptAll(merged).count() == 0

    def test_hll_estimate_in_sane_range(self, spark, sf_dir):
        """Raw HLL-style estimator on the events user population lands
        within a loose factor of truth (raw estimator, no small-range
        correction — documented bias; this guards gross breakage, the
        oracle guards the exact arithmetic)."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sketch import hll_distinct

        ev = load_table(spark, sf_dir, "events")
        exact = ev.select("user_id").distinct().count()
        est = hll_distinct(ev, F.col("user_id").cast("string")).collect()[0][0]
        assert 0.4 * exact <= est <= 2.5 * exact


class TestZOrder:
    def test_zvalue_matches_python_reference(self, spark):
        """Bit-interleave equals an independent per-bit Python spread."""
        from pyspark.sql import functions as F

        from spear_spark.operators.layout import zvalue

        def ref_z(x, y):
            z = 0
            for i in range(16):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        pts = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
        df = spark.createDataFrame(pts, "x int, y int")
        rows = df.select(
            "x", "y", zvalue(F.col("x"), F.col("y")).alias("z")
        ).collect()
        for r in rows:
            assert r.z == ref_z(r.x, r.y), (r.x, r.y)

    def test_zordered_files_cover_disjoint_ranges(self, spark, sf_dir, tmp_path):
        """Range partitioning on the Morton key means each output file
        owns a contiguous, non-overlapping z-range — the precondition
        for parquet min/max stats to prune scans on either dimension."""
        import glob

        from pyspark.sql import functions as F

        from spear_spark.operators.layout import write_zordered, zvalue

        orders = load_table(spark, sf_dir, "orders")
        x = (F.col("o_custkey") % 65536).cast("bigint")
        y = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 65536).cast(
            "bigint"
        )
        out = str(tmp_path / "zord")
        write_zordered(orders, x, y, out, num_files=4)
        ranges = []
        for f in sorted(glob.glob(out + "/part-*.parquet")):
            part = spark.read.parquet(f)
            zz = part.select(
                zvalue(
                    (F.col("o_custkey") % 65536).cast("bigint"),
                    (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 65536).cast(
                        "bigint"
                    ),
                ).alias("z")
            ).agg(F.min("z"), F.max("z")).collect()[0]
            ranges.append((zz[0], zz[1]))
        ranges.sort()
        for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, ranges


class TestPrioritySample:
    def test_partition_independent(self, spark, sf_dir):
        """The selected set depends only on (key, weight, seed) — never
        on partitioning: the reproducibility contract for training-mix
        sampling at any cluster size."""
        from spear_spark.operators.sampling import priority_sample

        orders = load_table(spark, sf_dir, "orders")
        a = priority_sample(orders, "o_orderkey", "o_totalprice", k=50)
        b = priority_sample(orders.repartition(13), "o_orderkey", "o_totalprice", k=50)
        ka = sorted(r.o_orderkey for r in a.collect())
        kb = sorted(r.o_orderkey for r in b.collect())
        assert ka == kb

    def test_weight_bias(self, spark, sf_dir):
        """Higher-weight rows must be overrepresented: the sampled mean
        weight exceeds the population mean (the point of weighting)."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sampling import priority_sample

        orders = load_table(spark, sf_dir, "orders")
        pop_mean = orders.agg(F.avg("o_totalprice")).collect()[0][0]
        samp = priority_sample(orders, "o_orderkey", "o_totalprice", k=100)
        samp_mean = samp.agg(F.avg("o_totalprice")).collect()[0][0]
        assert samp_mean > pop_mean

    def test_grouped_variant_bounded(self, spark, sf_dir):
        """Grouped sampling returns at most k rows per group."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sampling import priority_sample

        orders = load_table(spark, sf_dir, "orders")
        samp = priority_sample(
            orders, "o_orderkey", "o_totalprice", k=5, group_col="o_orderpriority"
        )
        sizes = samp.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        assert all(r.n <= 5 for r in sizes.collect())


class TestGumbelTopkSample:
    """Laws for log-domain weighted sampling (sampling.
    gumbel_topk_sample, the DSIR resampling step)."""

    def test_matches_python_replay_and_partition_invariant(self, spark):
        import hashlib
        import math

        from spear_spark.operators.sampling import gumbel_topk_sample

        rows = [(i, float(-300 + 7 * i)) for i in range(200)]  # log weights
        df = spark.createDataFrame(rows, "doc_id long, logw double")

        def key(i, lw, seed=42):
            h = int(
                hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:13], 16
            )
            u = (h + 1) / float(1 << 52)
            return lw - math.log(-math.log(u))

        want = sorted(
            ((key(i, lw), i) for i, lw in rows), key=lambda t: (-t[0], t[1])
        )[:20]
        got = [
            (r.doc_id, r.gumbel_key)
            for r in gumbel_topk_sample(df, "doc_id", "logw", k=20)
            .orderBy(F.desc("gumbel_key"), "doc_id")
            .collect()
        ]
        assert [i for _, i in want] == [i for i, _ in got]
        for (wk, _), (_, gk) in zip(want, got):
            assert abs(gk - round(wk, 6)) <= 1e-6
        rep = [
            (r.doc_id, r.gumbel_key)
            for r in gumbel_topk_sample(df.repartition(13), "doc_id", "logw", k=20)
            .orderBy(F.desc("gumbel_key"), "doc_id")
            .collect()
        ]
        assert rep == got

    def test_log_weight_bias_without_overflow(self, spark):
        """The reason this exists: log weights spanning hundreds of
        nats (where exp() under/overflows the w/u scheme) still bias
        selection — a planted +500-nat doc is always selected, and
        heavier halves dominate the sample."""
        from spear_spark.operators.sampling import gumbel_topk_sample

        rows = [(i, -400.0 + (i % 100) * 0.5) for i in range(1000)]
        rows.append((5000, 100.0))  # dominant log-weight
        df = spark.createDataFrame(rows, "doc_id long, logw double")
        picked = {
            r.doc_id
            for r in gumbel_topk_sample(df, "doc_id", "logw", k=50).collect()
        }
        assert 5000 in picked
        heavy = df.filter(F.col("logw") >= -375.0).count()
        got_heavy = sum(
            1 for r in rows if r[0] in picked and r[1] >= -375.0
        )
        assert got_heavy > 50 * heavy / 1001  # overrepresented vs uniform

    def test_grouped_variant_bounded(self, spark):
        from spear_spark.operators.sampling import gumbel_topk_sample

        rows = [(i, float(i % 7), f"g{i % 3}") for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id long, logw double, g string")
        samp = gumbel_topk_sample(df, "doc_id", "logw", k=4, group_col="g")
        sizes = samp.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        assert all(r.n == 4 for r in sizes.collect())


class TestRepetitionTypicality:
    def test_repetition_known_doc(self, spark):
        """Hand-built doc: 'a a a b' -> top_tok 3/4, dup (4-2)/4,
        top bigram 'a a' 2/3."""
        from spear_spark.operators.text import repetition_stats

        df = spark.createDataFrame([(1, "a a a b"), (2, "x")], "doc_id int, text string")
        rows = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
        r1 = rows[1]
        assert r1.n_tok == 4
        assert abs(r1.top_tok_frac - 0.75) < 1e-9
        assert abs(r1.dup_tok_frac - 0.5) < 1e-9
        assert abs(r1.top_bigram_frac - round(2 / 3, 6)) < 1e-9
        r2 = rows[2]
        assert r2.n_tok == 1 and r2.top_bigram_frac == 0.0

    def test_typicality_common_beats_rare(self, spark):
        """A doc of corpus-common tokens scores higher than a doc of
        corpus-unique tokens."""
        from spear_spark.operators.text import token_typicality

        df = spark.createDataFrame(
            [(1, "the the the"), (2, "the the the"), (3, "qq zz ww")],
            "doc_id int, text string",
        )
        t = {r.doc_id: r.typicality for r in token_typicality(df, "text", "doc_id").collect()}
        assert t[1] > t[3]


class TestIncrementalDedup:
    def test_no_survivor_matches_existing(self, spark, sf_dir):
        """Survivors' hashes are disjoint from the existing corpus and
        unique within the batch."""
        from spear_spark.operators.dedup import incremental_dedup

        docs = load_table(spark, sf_dir, "documents")
        new_b = docs.filter(F.col("doc_id") >= 250)
        old = docs.filter(F.col("doc_id") < 250)
        out = incremental_dedup(new_b, old, "text", "doc_id")
        old_hashes = {
            r[0]
            for r in old.select(F.md5(F.lower(F.trim("text")))).distinct().collect()
        }
        rows = out.collect()
        hashes = [r.content_hash for r in rows]
        assert len(hashes) == len(set(hashes))
        assert not (set(hashes) & old_hashes)

    def test_empty_existing_reduces_to_exact_dedup(self, spark, sf_dir):
        """With an empty corpus the result equals plain exact dedup of
        the batch."""
        from spear_spark.operators.dedup import exact_dedup, incremental_dedup

        docs = load_table(spark, sf_dir, "documents")
        empty = docs.filter(F.lit(False))
        inc = incremental_dedup(docs, empty, "text", "doc_id")
        plain = exact_dedup(docs, "text", "doc_id").select("keep_id", "content_hash")
        assert inc.exceptAll(plain).count() == 0
        assert plain.exceptAll(inc).count() == 0


class TestDecontamination:
    def test_planted_contamination_found(self, spark):
        """A corpus doc that copies a benchmark doc's text must be
        flagged; an unrelated doc must not."""
        from spear_spark.operators.dedup import ngram_contamination

        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
            "doc_id int, text string",
        )
        corpus = spark.createDataFrame(
            [
                (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (101, "one two three four five six seven eight nine ten"),
            ],
            "doc_id int, text string",
        )
        rows = ngram_contamination(corpus, bench, "text", "doc_id", min_overlap=5).collect()
        assert {r.doc_id for r in rows} == {100}

    def test_benchmark_side_broadcast(self, spark, sf_dir):
        """The contamination join must broadcast the benchmark side —
        no shuffle of corpus shingles."""
        from spear_spark.operators.dedup import ngram_contamination

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") < 10)
        corpus = docs.filter(F.col("doc_id") >= 10)
        df = ngram_contamination(corpus, bench, "text", "doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestEmbeddingOutliers:
    def test_centroid_matches_numpy(self, spark, sf_dir):
        """Quantized centroid is within quantization error (2^-20) of
        the float mean per component."""
        import numpy as np

        from spear_spark.operators.similarity import label_centroids

        emb = load_table(spark, sf_dir, "embeddings")
        cents = {
            r.label: r.centroid
            for r in label_centroids(emb, "embedding", "label", dim=64).collect()
        }
        pdf = emb.toPandas()
        for label, grp in pdf.groupby("label"):
            ref = np.mean(np.stack(grp["embedding"].to_numpy()), axis=0)
            got = np.array(cents[label])
            assert np.max(np.abs(ref - got)) < 2e-6, label

    def test_outliers_partition_independent(self, spark, sf_dir):
        """Same outlier set under repartitioning (the quantized-integer
        centroid makes the whole pipeline order-independent)."""
        from spear_spark.operators.similarity import embedding_outliers

        emb = load_table(spark, sf_dir, "embeddings")
        a = embedding_outliers(emb, "embedding", "vec_id", "label", dim=64, k=3)
        b = embedding_outliers(
            emb.repartition(17), "embedding", "vec_id", "label", dim=64, k=3
        )
        ka = sorted((r.label, r.vec_id, r.d2) for r in a.collect())
        kb = sorted((r.label, r.vec_id, r.d2) for r in b.collect())
        assert ka == kb


class TestPiiRedaction:
    def test_email_then_digits(self, spark):
        from spear_spark.operators.text import pii_match_count, redact_pii

        df = spark.createDataFrame(
            [(1, "contact bob42@example.com or call 5551234"), (2, "clean text")],
            "id int, text string",
        )
        rows = {
            r.id: r
            for r in df.select(
                "id",
                redact_pii("text").alias("red"),
                pii_match_count("text").alias("n"),
            ).collect()
        }
        assert rows[1].red == "contact <EMAIL> or call <NUM>"
        assert rows[1].n == 2  # the email counts once, not per digit run
        assert rows[2].red == "clean text" and rows[2].n == 0


class TestSkewProfile:
    def test_shares_and_order(self, spark, sf_dir):
        from spear_spark.operators.stats import skew_profile

        orders = load_table(spark, sf_dir, "orders")
        rows = skew_profile(orders, "o_custkey", top=10).collect()
        assert len(rows) <= 10
        cnts = [r.cnt for r in rows]
        assert cnts == sorted(cnts, reverse=True)
        assert all(0 < r.share <= 1 for r in rows)

    def test_topk_plans_as_heap(self, spark, sf_dir):
        from spear_spark.operators.stats import skew_profile

        orders = load_table(spark, sf_dir, "orders")
        plan = skew_profile(orders, "o_custkey")._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestSketchEmptyInputs:
    def test_sketches_on_empty_input(self, spark):
        """Empty corpus: CM sketch has no cells, heavy hitters empty,
        HLL estimates 0.0 (all registers empty -> linear counting
        m*ln(m/m) = 0)."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sketch import (
            cm_heavy_hitters,
            count_min_sketch,
            hll_distinct,
        )

        empty = spark.createDataFrame([], "doc_id int, text string")
        assert count_min_sketch(empty, "text").count() == 0
        assert cm_heavy_hitters(empty, "text", min_count=1).count() == 0
        est = hll_distinct(empty, F.col("doc_id").cast("string")).collect()[0][0]
        assert est == 0.0


class TestChunking:
    def test_known_chunks(self, spark):
        from spear_spark.operators.text import chunk_documents

        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(20)))], "doc_id int, text string"
        )
        rows = sorted(
            chunk_documents(df, "text", "doc_id", window=16, stride=8).collect(),
            key=lambda r: r.chunk_id,
        )
        # starts at tokens 1, 9, 17 -> lengths 16, 12, 4
        assert [r.n_chunk_tokens for r in rows] == [16, 12, 4]
        assert rows[0].chunk_text.startswith("t0 t1")
        assert rows[1].chunk_text.startswith("t8 t9")
        assert rows[2].chunk_text == "t16 t17 t18 t19"

    def test_overlap_invariant(self, spark, sf_dir):
        """Consecutive chunks overlap by window - stride tokens: the
        suffix of chunk i equals the prefix of chunk i+1 whenever
        chunk i is full."""
        from spear_spark.operators.text import chunk_documents

        docs = load_table(spark, sf_dir, "documents").limit(50)
        rows = chunk_documents(docs, "text", "doc_id", window=16, stride=8).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
        checked = 0
        for chunks in by_doc.values():
            for ci in range(len(chunks) - 1):
                a, b = chunks[ci], chunks[ci + 1]
                if a.n_chunk_tokens == 16:
                    assert a.chunk_text.split()[8:] == b.chunk_text.split()[: 16 - 8]
                    checked += 1
        assert checked > 0


class TestGlobalRowNumbers:
    def test_matches_single_task_window(self, spark, sf_dir):
        from pyspark.sql.window import Window

        from spear_spark.operators.ids import global_row_numbers

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        got = {
            r.doc_id: r.global_id
            for r in global_row_numbers(spark, docs, "doc_id").collect()
        }
        expected = {
            r.doc_id: r.gid
            for r in docs.withColumn(
                "gid", F.row_number().over(Window.orderBy("doc_id"))
            ).collect()
        }
        assert got == expected

    def test_no_single_partition_exchange(self, spark, sf_dir):
        """The point of the operator: the window must be bucket-
        partitioned, never a SinglePartition exchange."""
        from spear_spark.operators.ids import global_row_numbers

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        plan = (
            global_row_numbers(spark, docs, "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange SinglePartition" not in plan
        assert "Window" in plan

    def test_partition_independent(self, spark, sf_dir):
        from spear_spark.operators.ids import global_row_numbers

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        a = sorted(
            (r.doc_id, r.global_id)
            for r in global_row_numbers(spark, docs, "doc_id").collect()
        )
        b = sorted(
            (r.doc_id, r.global_id)
            for r in global_row_numbers(spark, docs.repartition(13), "doc_id").collect()
        )
        assert a == b


class TestTemperatureMix:
    def test_rates_and_monotonicity(self, spark, sf_dir):
        from spear_spark.operators.sampling import temperature_mix

        docs = load_table(spark, sf_dir, "documents")
        out = temperature_mix(
            docs, "doc_id", "source", "n_chars", ref_weight=4000.0, seed=11
        )
        rates = {
            r.source: r.mix_rate
            for r in out.select("source", "mix_rate").distinct().collect()
        }
        totals = {
            r.source: r.t
            for r in docs.groupBy("source").agg(F.sum("n_chars").alias("t")).collect()
        }
        assert all(0.0 < v <= 1.0 for v in rates.values())
        # heavier source -> lower (or equal, if both capped at 1) keep rate
        seen = [(totals[s], rates[s]) for s in rates]
        for (t1, r1) in seen:
            for (t2, r2) in seen:
                if t1 < t2:
                    assert r1 >= r2

    def test_partition_independent(self, spark, sf_dir):
        from spear_spark.operators.sampling import temperature_mix

        docs = load_table(spark, sf_dir, "documents")
        a = sorted(
            r.doc_id
            for r in temperature_mix(
                docs, "doc_id", "source", "n_chars", ref_weight=4000.0, seed=11
            ).collect()
        )
        b = sorted(
            r.doc_id
            for r in temperature_mix(
                docs.repartition(13), "doc_id", "source", "n_chars",
                ref_weight=4000.0, seed=11,
            ).collect()
        )
        assert a == b


class TestAsofNearest:
    def _mk(self, ctx, rows, cols):
        df = ctx.lift(rows, cols).df
        return df.withColumn("ts", F.timestamp_micros(F.col("t"))).drop("t")

    def test_tiebreaks_pinned(self, ctx):
        from spear_spark.operators.asof import asof_join_nearest

        left = self._mk(
            ctx,
            [(1, 100, 10), (1, 300, 11), (2, 100, 12)],
            "k: long, t: long, event_id: long",
        )
        right = self._mk(
            ctx,
            [
                (1, 90, 1, 1.0),   # backward, |dt|=10
                (1, 110, 2, 2.0),  # forward,  |dt|=10 -> backward wins tie
                (1, 290, 3, 3.0),  # equal-ts backward pair: max id wins
                (1, 290, 4, 4.0),
                (2, 150, 5, 5.0),  # forward-only pair at same ts: min id wins
                (2, 150, 6, 6.0),
            ],
            "k: long, t: long, event_id: long, v: double",
        )
        out = asof_join_nearest(
            left, right, on="k", ts="ts", value="v",
            id_col="event_id", tolerance_us=1000,
        )
        got = {r.event_id: r.nearest_id for r in out.collect()}
        assert got == {10: 1, 11: 4, 12: 5}

    def test_tolerance_excludes(self, ctx):
        from spear_spark.operators.asof import asof_join_nearest

        left = self._mk(ctx, [(1, 100, 10)], "k: long, t: long, event_id: long")
        right = self._mk(ctx, [(1, 90, 1, 1.0)], "k: long, t: long, event_id: long, v: double")
        out = asof_join_nearest(
            left, right, on="k", ts="ts", value="v", id_col="event_id", tolerance_us=5
        )
        assert [r.nearest_id for r in out.collect()] == [None]

    def test_tolerance_boundaries(self, ctx):
        from spear_spark.operators.asof import asof_join_nearest

        # tol=0 excludes both sides; tol=4 admits both and the nearer
        # (backward) candidate wins
        left = self._mk(ctx, [(1, 100, 10)], "k: long, t: long, event_id: long")
        right = self._mk(
            ctx,
            [(1, 99, 1, 1.0), (1, 104, 2, 2.0)],
            "k: long, t: long, event_id: long, v: double",
        )
        out = asof_join_nearest(
            left, right, on="k", ts="ts", value="v", id_col="event_id", tolerance_us=0
        )
        assert [r.nearest_id for r in out.collect()] == [None]
        out2 = asof_join_nearest(
            left, right, on="k", ts="ts", value="v", id_col="event_id", tolerance_us=4
        )
        assert [r.nearest_id for r in out2.collect()] == [1]


class TestIntervalOverlapJoin:
    def test_exactly_once_across_buckets(self, ctx):
        from spear_spark.operators.rangejoin import interval_overlap_join

        # both intervals span many 10-wide buckets; the pair must be
        # emitted exactly once despite co-occurring in several buckets
        a = ctx.lift([(1, 101, 5, 95)], "k: long, id: long, s: long, e: long").df
        b = ctx.lift([(1, 201, 40, 120)], "k: long, id: long, s: long, e: long").df
        out = interval_overlap_join(
            a, b, key="k", start="s", end="e", id_col="id", bucket_width=10
        ).collect()
        assert [(r.id_a, r.id_b) for r in out] == [(101, 201)]

    def test_overlap_semantics(self, ctx):
        from spear_spark.operators.rangejoin import interval_overlap_join

        a = ctx.lift(
            [(1, 1, 0, 10), (1, 2, 50, 60), (2, 3, 0, 10)],
            "k: long, id: long, s: long, e: long",
        ).df
        b = ctx.lift(
            [(1, 101, 10, 20),   # touches id=1 at endpoint -> overlap (closed)
             (1, 102, 61, 70),   # disjoint from id=2
             (3, 103, 0, 100)],  # different key -> never pairs
            "k: long, id: long, s: long, e: long",
        ).df
        out = interval_overlap_join(
            a, b, key="k", start="s", end="e", id_col="id", bucket_width=7
        ).collect()
        assert sorted((r.id_a, r.id_b) for r in out) == [(1, 101)]


# ---- round 4: kmeans step / segment dedup / entropy / histogram / CDC ----


def test_kmeans_lloyd_step_two_clusters(spark):
    from spear_spark.operators.similarity import kmeans_lloyd_step

    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(4)]
    rows += [(10 + i, [10.0 + i * 0.01, 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["cell"]: r
        for r in kmeans_lloyd_step(
            df, "embedding", [[0.0, 0.0], [10.0, 1.0], [100.0, 100.0]]
        ).collect()
    }
    assert set(out) == {0, 1}  # the far centroid gets no row (dead cell)
    assert out[0]["n_assigned"] == 4 and out[1]["n_assigned"] == 4
    assert out[0]["centroid"] == [0.015, 0.0]
    assert out[1]["centroid"] == [10.015, 1.0]


def test_segment_dedup_removes_repeats_and_nulls_fully_dup_doc(spark):
    from spear_spark.operators.dedup import segment_dedup

    a = "w1 w2 w3 w4"  # one 4-token segment
    b = "x1 x2 x3 x4 w1 w2 w3 w4"  # novel + copy of a's segment
    c = "w1 w2 w3 w4"  # fully derivative of doc 1
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in segment_dedup(df, "text", "doc_id", 4).collect()}
    assert out[1]["n_kept"] == 1 and out[1]["clean_text"] == a
    assert out[2]["n_kept"] == 1 and out[2]["clean_text"] == "x1 x2 x3 x4"
    assert out[3]["n_kept"] == 0 and out[3]["clean_text"] is None
    assert out[3]["n_segments"] == 1


def test_cdc_latest_state_tombstone_and_revive(spark):
    from pyspark.sql import functions as F

    from spear_spark.operators.cdc import cdc_latest_state

    rows = [
        (1, 100, 1, "upsert", 10.0),
        (1, 200, 2, "delete", 0.0),   # key 1 ends deleted
        (2, 100, 3, "delete", 0.0),
        (2, 300, 4, "upsert", 42.0),  # key 2 deleted then revived
        (3, 100, 5, "upsert", 7.0),
        (3, 100, 6, "upsert", 8.0),   # same ts: higher change id wins
    ]
    df = spark.createDataFrame(
        rows, "k long, ts long, cid long, op string, v double"
    )
    out = {
        r["k"]: r
        for r in cdc_latest_state(
            df, ["k"], ["ts", "cid"], ["op", "v"],
            delete_expr=F.col("op") == "delete",
        ).collect()
    }
    assert set(out) == {2, 3}
    assert out[2]["v"] == 42.0
    assert out[3]["cid"] == 6 and out[3]["v"] == 8.0


def test_fixed_width_histogram_shares(spark):
    from spear_spark.operators.stats import fixed_width_histogram

    df = spark.createDataFrame([(v,) for v in [1, 2, 65, 66, 67, 200]], "v long")
    out = sorted(
        fixed_width_histogram(df, "v", 64.0).collect(), key=lambda r: r["bucket"]
    )
    assert [r["bucket"] for r in out] == [0, 1, 3]
    assert [r["n"] for r in out] == [2, 3, 1]
    assert abs(sum(r["share"] for r in out) - 1.0) < 1e-9
    assert out[-1]["cum_share"] == 1.0
    assert (out[0]["lo"], out[0]["hi"]) == (0.0, 64.0)


def test_token_entropy_bounds(spark):
    import math

    from spear_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in token_entropy(df, "text", "doc_id").collect()}
    assert abs(out[1]["entropy_bits"] - 2.0) < 1e-6  # uniform over 4 types
    assert out[1]["type_token_ratio"] == 1.0
    assert out[2]["entropy_bits"] == 0.0
    assert out[2]["type_token_ratio"] == 0.25


def test_balanced_shards_lpt_balance(spark):
    from spear_spark.operators.ids import balanced_shards

    rows = [(i, 100 - i) for i in range(40)]  # sizes 61..100
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = balanced_shards(spark, df, "doc_id", "n", n_shards=4, n_buckets=8).collect()
    assert len(out) == 40 and {r["shard"] for r in out} == {0, 1, 2, 3}
    # round-robin over size-desc: largest 4 docs land on distinct shards
    top4 = sorted(out, key=lambda r: -r["n"])[:4]
    assert {r["shard"] for r in top4} == {0, 1, 2, 3}
    totals = {}
    for r in out:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["n"]
    assert max(totals.values()) - min(totals.values()) <= max(r["n"] for r in out)
    # empty input yields an empty typed result, not a crash
    empty = balanced_shards(
        spark, spark.createDataFrame([], "doc_id long, n long"), "doc_id", "n"
    )
    assert empty.collect() == []


def test_leakage_safe_split_keeps_dup_groups_together(spark):
    from spear_spark.operators.sampling import leakage_safe_split

    rows = [(i, f"doc {i % 7} content") for i in range(60)]  # 7 content groups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df, "text", "doc_id", val_frac=0.5)
    # every content group maps to exactly one split
    sides = (
        out.groupBy("group_hash")
        .agg(F.count_distinct("split").alias("n_sides"))
        .collect()
    )
    assert all(r["n_sides"] == 1 for r in sides) and len(sides) == 7


def test_balanced_shards_rejects_nulls(spark):
    import pytest as _pytest

    from spear_spark.operators.ids import balanced_shards

    df = spark.createDataFrame([(1, 10), (None, 20), (3, None)], "doc_id long, n long")
    with _pytest.raises(ValueError, match="non-null"):
        balanced_shards(spark, df, "doc_id", "n")


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    from spear_spark.operators.graph import pagerank

    # star: hub 0 <-> spokes 1..5 (symmetric, no dangling nodes)
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame([(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst", iters=10).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-5  # no dangling: mass conserved
    assert all(out["n0"] > out[f"n{i}"] for i in range(1, 6))  # hub dominates
    assert len({out[f"n{i}"] for i in range(1, 6)}) == 1  # spokes symmetric


def test_pagerank_shuffle_path_matches_broadcast(spark):
    # The >5M-node regime runs the shuffle join (broadcast_ranks=False)
    # — the branch that matters at 100 TB.  Both strategies must yield
    # identical rounded vectors on an asymmetric graph (chain + hub +
    # dangling node so contribution paths differ per node).
    from spear_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 0), (1, 3), (2, 4)]  # 4 -> dangling
    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    b = {r["node"]: r["rank"]
         for r in pagerank(df, "src", "dst", iters=7, broadcast_ranks=True).collect()}
    s = {r["node"]: r["rank"]
         for r in pagerank(df, "src", "dst", iters=7, broadcast_ranks=False).collect()}
    assert b == s and len(b) == 5


def test_pagerank_empty_graph_raises(spark):
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="empty edge list"):
        pagerank(df, "src", "dst")


def test_winsorized_stats_clamps_known_quantiles(spark):
    from spear_spark.operators.stats import winsorized_stats

    # group 'a': 1..9 plus a 1000 outlier; p05/p95 of [1..9,1000]
    rows = [("a", float(v)) for v in range(1, 10)] + [("a", 1000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorized_stats(df, "v", ["g"], 0.05, 0.95).collect()[0]
    # R-7: p95 of 10 sorted values = x[8] + 0.55*(x[9]-x[8])
    assert out["q_hi"] == round(9 + 0.55 * (1000 - 9), 6)
    assert out["n_clamped_hi"] == 1 and out["n_clamped_lo"] == 1
    assert out["mean_raw"] > out["mean_winsor"]  # outlier pulled in
    assert out["n_rows"] == 10


def test_zscore_outliers_flags_and_skips_zero_variance(spark):
    from spear_spark.operators.stats import zscore_outliers

    rows = [("a", i, 10.0) for i in range(8)] + [("a", 8, 100.0)] \
        + [("b", 9, 5.0), ("b", 10, 5.0)]  # zero-variance group
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = zscore_outliers(df, "v", ["g"], "id", threshold=2.0).collect()
    assert [r["id"] for r in out] == [8]  # only the spike; 'b' silent
    assert out[0]["zscore"] > 2.0


def test_top_ngrams_handles_short_docs_and_ties(spark):
    from spear_spark.operators.text import top_ngrams_per_group

    df = spark.createDataFrame(
        [("en", "b c"), ("en", "b c"), ("en", "a b"), ("en", "a b"), ("en", "x")],
        "lang string, text string",
    )
    out = top_ngrams_per_group(df, "text", "lang", n=2, k=2).collect()
    # tie (2 vs 2) broken lexicographically; single-token doc ignored
    assert [(r["rk"], r["ngram"], r["cnt"]) for r in out] == [(1, "a b", 2), (2, "b c", 2)]


def test_bpe_pair_counts_counts_adjacent_pairs(spark):
    from spear_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame([("aaab ab, x",)], "text string")
    # tokens: 'aaab' -> aa,aa,ab; 'ab' -> ab; ',' len1 skipped; 'x' skipped
    out = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df, "text").collect()}
    assert out == {"aa": 2, "ab": 2}


def test_srp_signature_partitioning_invariant(spark):
    from spear_spark.operators.similarity import srp_coeffs, srp_signature_exact

    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["sig"] for r in
         srp_signature_exact(df, "embedding", "vec_id", dim=8, n_bits=6).collect()}
    b = {r["vec_id"]: r["sig"] for r in
         srp_signature_exact(df.repartition(13), "embedding", "vec_id",
                             dim=8, n_bits=6).collect()}
    assert a == b  # int math: no partition-order sign flips
    # cross-check one signature against a direct Python evaluation
    coeffs = srp_coeffs(6, 8, seed=7)
    import math
    q = [math.floor(x * 1_000_000 + 0.5) for x in rows[0][1]]
    want = sum(
        (1 << bi) for bi, cs in enumerate(coeffs)
        if sum(c * v for c, v in zip(cs, q)) >= 0
    )
    assert a[0] == want
    assert all(0 <= s < 64 for s in a.values())


def test_mix_reweight_binding_source_keeps_all(spark):
    from spear_spark.operators.sampling import mix_reweight

    # a:60 b:30 c:10 rows; uniform target -> c binds (rate 1.0),
    # a keeps 1/6, b keeps 1/3; 'd' absent from data, 'c' in data
    rows = [("a",)] * 60 + [("b",)] * 30 + [("c",)] * 10
    df = spark.createDataFrame(rows, "src string")
    out = {r["src"]: r for r in
           mix_reweight(df, "src", {"a": 1/3, "b": 1/3, "c": 1/3}).collect()}
    assert out["c"]["keep_rate"] == 1.0 and out["c"]["expected_rows"] == 10
    assert abs(out["a"]["keep_rate"] - 1/6) < 1e-6
    assert abs(out["b"]["keep_rate"] - 1/3) < 1e-6
    assert out["a"]["expected_rows"] == 10  # 60 * 1/6
    # a source with zero target keeps nothing
    out2 = {r["src"]: r for r in
            mix_reweight(df, "src", {"a": 0.5, "b": 0.5}).collect()}
    assert out2["c"]["keep_rate"] == 0.0 and out2["c"]["expected_rows"] == 0


def test_mix_reweight_missing_target_source_surfaces(spark):
    # a target source with NO rows in df must surface as an
    # n_rows=0 / keep_rate NULL row, not silently vanish — the plan
    # cannot achieve the stated mix and the caller must see which
    # source is short
    from spear_spark.operators.sampling import mix_reweight

    rows = [("a",)] * 60 + [("b",)] * 40
    df = spark.createDataFrame(rows, "src string")
    out = {r["src"]: r for r in
           mix_reweight(df, "src", {"a": 0.4, "b": 0.4, "ghost": 0.2}).collect()}
    assert set(out) == {"a", "b", "ghost"}
    g = out["ghost"]
    assert g["n_rows"] == 0 and g["actual_share"] == 0.0
    assert g["target_share"] == 0.2
    assert g["keep_rate"] is None and g["expected_rows"] == 0
    # present sources are unaffected by the ghost row: b binds
    # (0.4/40 > 0.4/60) -> rate 1.0, a keeps 2/3
    assert out["b"]["keep_rate"] == 1.0
    assert abs(out["a"]["keep_rate"] - 2 / 3) < 1e-6


def test_quality_funnel_is_monotone_and_counts_input(spark, sf_dir):
    from spear_spark.operators.text import quality_funnel
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = quality_funnel(docs, "text").collect()
    assert [r["stage"] for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0]["n_pass"] == docs.count()
    passes = [r["n_pass"] for r in rows]
    assert all(a >= b for a, b in zip(passes, passes[1:]))  # gates only remove
    assert rows[0]["share_of_input"] == 1.0


def test_centroid_shift_zero_for_identical_halves(spark):
    from spear_spark.operators.similarity import centroid_shift
    from pyspark.sql import functions as F

    import random

    rnd = random.Random(11)
    vecs = [[rnd.uniform(-1, 1) for _ in range(4)] for _ in range(6)]
    # even/odd ids carry IDENTICAL vector sets -> zero shift per label
    rows = [(2 * i, 1, v) for i, v in enumerate(vecs)] + [
        (2 * i + 1, 1, v) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = centroid_shift(df, "embedding", "label", F.col("vec_id") % 2 == 1).collect()
    assert len(out) == 1
    assert out[0]["n_a"] == 6 and out[0]["n_b"] == 6
    assert out[0]["l2_shift"] == 0.0
    # single-sided label (only even ids) emits no row
    df2 = spark.createDataFrame(
        [(2 * i, 7, v) for i, v in enumerate(vecs)],
        "vec_id long, label int, embedding array<double>",
    )
    assert centroid_shift(df2, "embedding", "label", F.col("vec_id") % 2 == 1).count() == 0


def test_budget_waterfill_exact_allocation(spark):
    from spear_spark.operators.sampling import budget_waterfill

    rows = [("a", 10)] * 10 + [("b", 10)] * 5 + [("c", 10)] * 2  # T: a=100 b=50 c=20
    df = spark.createDataFrame(rows, "src string, w long")

    # budget above total: everyone keeps everything, nobody capped
    out = {r["source"]: r for r in budget_waterfill(df, "src", "w", 1000).collect()}
    assert all(not r["capped"] and r["alloc"] == r["tokens"] for r in out.values())

    # budget 95: c (20) and b (50) fit under the water line? level c =
    # (95-0)/3=31>20 -> c uncapped; then (95-20)/2=37.5 < 50 -> b,a
    # capped at 37 with remainder 1 -> b gets 38 (first capped in
    # (T, source) order), a gets 37
    out = {r["source"]: r for r in budget_waterfill(df, "src", "w", 95).collect()}
    assert (out["c"]["alloc"], out["c"]["capped"]) == (20, False)
    assert (out["b"]["alloc"], out["b"]["capped"]) == (38, True)
    assert (out["a"]["alloc"], out["a"]["capped"]) == (37, True)
    assert sum(r["alloc"] for r in out.values()) == 95

    # zero budget: all capped at 0
    out = {r["source"]: r for r in budget_waterfill(df, "src", "w", 0).collect()}
    assert all(r["alloc"] == 0 and r["capped"] for r in out.values())

    import pytest as _pytest
    with _pytest.raises(ValueError, match=">= 0"):
        budget_waterfill(df, "src", "w", -1)


def test_histogram_quantiles_error_bound_and_determinism(spark, sf_dir):
    """Contract: the histogram estimate is within one bin width of the
    exact type-1 order statistic (rank ceil(q*n)), for every group and
    quantile — and is invariant to input partitioning (the property
    percentile_approx does NOT have, and the reason this operator is
    the oracle-pairable scale path)."""
    import math

    from spear_spark.operators.stats import histogram_quantiles
    from spear_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    qs = (0.5, 0.9, 0.99)
    lo, hi, n_bins = 0.0, 640.0, 64
    w = (hi - lo) / n_bins
    est = {
        (r["source"], r["q"]): (r["est"], r["n_rows"])
        for r in histogram_quantiles(docs, "n_chars", "source", qs, lo, hi, n_bins).collect()
    }
    vals = {}
    for r in docs.select("source", "n_chars").collect():
        vals.setdefault(r["source"], []).append(r["n_chars"])
    for src, xs in vals.items():
        xs.sort()
        for q in qs:
            exact = xs[math.ceil(q * len(xs)) - 1]  # type-1 order statistic
            e, n = est[(src, q)]
            assert n == len(xs)
            assert abs(e - exact) <= w, (src, q, e, exact)
    # partitioning invariance: 1 partition vs 13 — identical output
    a = sorted(map(tuple, histogram_quantiles(
        docs.coalesce(1), "n_chars", "source", qs, lo, hi, n_bins).collect()))
    b = sorted(map(tuple, histogram_quantiles(
        docs.repartition(13), "n_chars", "source", qs, lo, hi, n_bins).collect()))
    assert a == b

    import pytest as _pytest
    for bad in (dict(qs=(0.0,)), dict(qs=(1.2,)), dict(qs=()),
                dict(n_bins=0), dict(lo=5.0, hi=5.0)):
        kw = dict(qs=(0.5,), lo=0.0, hi=640.0, n_bins=64)
        kw.update(bad)
        with _pytest.raises(ValueError):
            histogram_quantiles(docs, "n_chars", "source", kw["qs"],
                                kw["lo"], kw["hi"], kw["n_bins"])


def test_p73_q83_oracle_pairing_survives_nulls(spark, tmp_path):
    """Both engines must drop NULL n_chars / NULL ts identically —
    DuckDB's GREATEST(NULL,0)=0 would otherwise bin NULLs into bin 0,
    and the island rewrite would count NULL-ts events into sessions
    that Spark's session_window (implicit isnotnull filter) never
    sees.  Runs the real catalog queries AND their oracles on a
    synthetic NULL-bearing corpus."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod

    cat = entry_mod._catalog()
    docs = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": ["t"] * 8,
            "lang": ["en"] * 8,
            "source": ["a"] * 4 + ["b"] * 4,
            "n_chars": pd.array([100, 200, 300, None, 50, 60, None, None],
                                dtype="Int64"),
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    ev = pd.DataFrame(
        {
            "event_id": range(5),
            "user_id": [1, 1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", None,
                 "2024-01-01 01:00", None]
            ),
            "event_type": ["view"] * 5,
            "value": [1.0] * 5,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet")
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    for name in ("p73_histogram_quantiles", "q83_session_window"):
        fn, oracle = cat[name]
        got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
        want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
        assert got == want, (name, got, want)
    # sanity: the NULL-ts user-2 event vanished from both engines
    q83 = {r.user_id: r.n_events
           for r in cat["q83_session_window"][0](spark, str(tmp_path)).collect()}
    assert q83 == {1: 2, 2: 1}


def test_q83_exact_gap_boundary_pinned(spark, tmp_path):
    """ADVICE r6: events exactly ``gap`` apart MERGE (Spark's
    session_window opens a new session only on strictly-greater gaps)
    and gap+1s apart SPLIT — planted boundary pairs run through BOTH
    q83's Spark side and its DuckDB oracle, so a future Spark behavior
    change or an oracle edit is caught here instead of at the driver."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod

    cat = entry_mod._catalog()
    ev = pd.DataFrame(
        {
            "event_id": range(4),
            "user_id": [1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:30:00",  # == gap: merge
                 "2024-01-01 00:00:00", "2024-01-01 00:30:01"]  # gap+1s: split
            ),
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet")
    fn, oracle = cat["q83_session_window"]
    got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
    assert got == want, (got, want)
    sessions_per_user: dict[int, int] = {}
    for user_id, *_rest in got:
        sessions_per_user[user_id] = sessions_per_user.get(user_id, 0) + 1
    assert sessions_per_user == {1: 1, 2: 2}


def test_mix_reweight_plan_shape(spark, sf_dir):
    """mix_reweight must plan as a JOIN-FREE single corpus pass: the
    target table enters as literals (seed rows inlined into the count
    input, target shares via a literal map lookup), so there is no
    join of any kind — a full-outer formulation silently falls back to
    SortMergeJoin, the round-6 LEFT + LEFT-ANTI pair re-executed the
    corpus scan per branch, and even a broadcast join pays a build-side
    job.  The corpus is read EXACTLY once; the normalizers are
    global-window aggregates over the tiny counts table (exactly one
    Window node), not a second aggregate pass."""
    from spear_spark.operators.catalog import _P65_TARGETS
    from spear_spark.operators.sampling import mix_reweight
    from spear_spark.plans import executed_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    final = executed_plan(mix_reweight(docs, "source", _P65_TARGETS))
    assert "Join" not in final  # no SMJ, no BHJ, no BNLJ — literal attach
    assert final.count("Scan parquet") == 1  # corpus read exactly once
    assert final.count("Window") == 1
    assert "Union" in final  # the zero-marker seed rows are in the ONE pass


def test_histogram_quantiles_ignores_nulls(spark):
    """NULL values must be dropped before binning — a NULL bin would
    sort first in Spark's cumulative window but last in DuckDB's,
    skewing every estimate by the NULL count."""
    from spear_spark.operators.stats import histogram_quantiles

    rows = [("a", v) for v in [10, 20, 30, 40, None, None]]
    df = spark.createDataFrame(rows, "g string, v int")
    out = histogram_quantiles(df, "v", "g", (0.5, 1.0), 0.0, 50.0, 5).collect()
    got = {r["q"]: (r["est"], r["n_rows"]) for r in out}
    # 4 non-null values; q=0.5 -> rank 2 -> value 20 -> bin 2 -> edge 30
    assert got[0.5] == (30.0, 4)
    assert got[1.0] == (50.0, 4)


def test_containment_pairs_asymmetry(spark):
    """A short doc embedded in a long one: containment 1.0 one way,
    |A|/|B| the other — the signal Jaccard dilutes."""
    from spear_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    rows = [
        (1, "a b c d e f g h i j"),                              # 8 shingles
        (2, "a b c d e f g h i j k l m n o p q r s t u v w x"),  # superset, 22
        (3, "p q r s t u v w x y z zz"),                         # tail overlap w/ 2
        (4, "m0 m1 m2 m3 m4 m5"),                                # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
           for r in containment_pairs(df, "text", "doc_id", threshold=0.5).collect()}
    assert out[(1, 2)][0] == 1.0                      # doc1 fully inside doc2
    assert abs(out[(1, 2)][1] - 8 / 22) < 1e-6
    # the same pair's Jaccard is diluted below the threshold
    j = {(r.doc_a, r.doc_b): r.jaccard
         for r in ngram_jaccard_pairs(df, "text", "doc_id").collect()}
    assert j[(1, 2)] < 0.5
    # doc3 quotes doc2's 9-token tail: 7 of its 10 shingles are
    # contained -> the quote direction clears the threshold
    assert out[(2, 3)][1] == 0.7
    # unrelated docs never pair at all
    assert all(4 not in p for p in out) and all(4 not in p for p in j)


def test_containment_pairs_df_cap_underestimates(spark):
    """Under max_df the capped intersection keeps full denominators —
    containment can only shrink, never grow (same pruned-intersection
    rule as ngram_jaccard_pairs)."""
    from spear_spark.operators.dedup import containment_pairs

    rows = [(i, "hot1 hot2 hot3 hot4 hot5 " + f"u{i}a u{i}b u{i}c")
            for i in range(6)]
    rows.append((100, "hot1 hot2 hot3 hot4 hot5 u0a u0b u0c"))  # = doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r.doc_a, r.doc_b): r.cont_a_in_b
            for r in containment_pairs(df, "text", "doc_id", threshold=0.0).collect()}
    capped = {(r.doc_a, r.doc_b): r.cont_a_in_b
              for r in containment_pairs(df, "text", "doc_id", threshold=0.0,
                                         max_df=3).collect()}
    assert full[(0, 100)] == 1.0
    for p, c in capped.items():
        assert c <= full[p] + 1e-9


def test_budget_waterfill_rejects_bad_totals(spark):
    # a negative or all-NULL per-source total breaks the exact
    # allocation law -> fail loudly, never allocate
    import pytest as _pytest

    from spear_spark.operators.sampling import budget_waterfill

    neg = spark.createDataFrame(
        [("a", 10), ("b", -3)], "src string, w long"
    )
    with _pytest.raises(ValueError, match="non-negative"):
        budget_waterfill(neg, "src", "w", 100)
    allnull = spark.createDataFrame(
        [("a", 10), ("b", None)], "src string, w long"
    )
    with _pytest.raises(ValueError, match="non-NULL"):
        budget_waterfill(allnull, "src", "w", 100)


class TestImageAHash:
    def test_ahash_bits_known_pattern(self):
        from spear_spark.operators import _png
        from spear_spark.operators.multimodal import ahash_bits

        # top half black, bottom half white, 8x8 grey: mean between the
        # two levels -> exactly the 32 bright pixels set (rows 4-7 =
        # bits 32..63, two's-complement negative)
        img = _png.encode_png(bytes([0] * 32 + [255] * 32), 8, 8, 1)
        h = ahash_bits(img)
        assert (h & ((1 << 64) - 1)) == 0xFFFFFFFF00000000
        assert h < 0  # bit 63 set -> signed int64 negative
        assert ahash_bits(b"junk") is None

    def test_ahash_rgb_luma_and_scale_invariance(self):
        from spear_spark.operators import _png
        from spear_spark.operators.multimodal import ahash_bits

        # same split pattern in RGB at 16x16 must produce the same hash
        # as 8x8 grey (downsample collapses both to the same 8x8 grid)
        px = bytes()
        for y in range(16):
            row = ([0, 0, 0] if y < 8 else [255, 255, 255]) * 16
            px += bytes(row)
        img = _png.encode_png(px, 16, 16, 3)
        assert (ahash_bits(img) & ((1 << 64) - 1)) == 0xFFFFFFFF00000000

    def test_near_pairs_equal_brute_force(self, spark):
        from spear_spark.operators.multimodal import ahash_near_pairs
        import itertools
        import random

        rnd = random.Random(5)
        base = rnd.getrandbits(64) | (1 << 63)  # NEGATIVE int64 regime
        # cluster of small perturbations of `base` + distant randoms;
        # base ^ (1 << 63) makes a mixed-sign near pair (hamming 1) —
        # the case the signed-% banding bug silently dropped
        hashes = [base, base ^ 0b1, base ^ (1 << 40) ^ (1 << 2), base ^ 7,
                  base ^ (1 << 63)]
        hashes += [rnd.getrandbits(64) for _ in range(20)]
        hashes += [0, (1 << 64) - 1]  # all-dark and all-bright images
        df = spark.createDataFrame(
            [(i, h - (1 << 64) if h >= (1 << 63) else h) for i, h in enumerate(hashes)],
            "id long, h long",
        )
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in ahash_near_pairs(df, "id", "h", max_hamming=6).collect()
        }
        want = set()
        for (i, a), (j, b) in itertools.combinations(enumerate(hashes), 2):
            d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                want.add((min(i, j), max(i, j), d))
        assert got == want and len(want) >= 3

    def test_catalog_query_runs(self, spark, sf_dir):
        from spear_spark.operators.catalog import QUERIES as OPS

        df = OPS["p69_image_ahash_pairs"][0](spark, sf_dir)
        rows = df.collect()
        # every pair is ordered, within budget, and self-free
        assert all(r["id_a"] < r["id_b"] and 0 <= r["hamming"] <= 6 for r in rows)

    def test_pairing_survives_non_ascii_documents(self, spark, tmp_path):
        """Both sides scope to single-byte docs, so a multibyte
        document no longer desynchronizes the oracle's character
        sampling from Spark's byte cycling — the pairing holds on a
        corpus the old ASCII-only precondition would have broken."""
        import duckdb
        import pandas as pd

        from spear_spark.operators.catalog import QUERIES as OPS

        docs = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the quick brown fox " * 20,
                    "the quick brown fox " * 20,   # identical near-dup pair
                    "zzz completely different payload 123 " * 15,
                    "héllo wörld ünïcode ÿ " * 30,  # multibyte — scoped out
                ],
                "lang": ["en"] * 4,
                "source": ["s"] * 4,
                "n_chars": pd.array([400, 400, 555, 660], dtype="int64"),
            }
        )
        docs.to_parquet(tmp_path / "documents.parquet")
        fn, oracle = OPS["p69_image_ahash_pairs"]
        got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
        )
        want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
        assert got == want
        assert (1, 2, 0) in got  # the identical pair survives the filter
        assert all(4 not in (a, b) for a, b, _ in got)


def test_ahash_images_null_payload_yields_null_hash(spark):
    from spear_spark.operators import _png
    from spear_spark.operators.multimodal import ahash_images

    img = _png.encode_png(bytes(range(64)), 8, 8, 1)
    df = spark.createDataFrame(
        [(1, img), (2, None), (3, b"corrupt")], "doc_id long, payload binary"
    )
    out = {r["doc_id"]: r["ahash"] for r in ahash_images(df, "doc_id", "payload").collect()}
    assert out[1] is not None and out[2] is None and out[3] is None


def test_bigram_lm_score_ranks_predictable_text_lower(spark):
    from spear_spark.operators.relevance import bigram_lm_score

    rows = [
        (1, "a b a b a b a b a b"),        # one dominant transition
        (2, "a b c d e f g h i j"),        # all transitions unique
        (3, "a"),                           # < 2 tokens -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_score(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 9 and out[2]["n_bigrams"] == 9
    # doc 1's transitions are corpus-frequent -> fewer bits than doc 2
    assert out[1]["lm_bits"] < out[2]["lm_bits"]
    assert all(out[d]["lm_bits"] > 0 for d in (1, 2))


def test_pagerank_weighted_properties(spark):
    from spear_spark.operators.graph import pagerank, pagerank_weighted

    # triangle with a heavy edge 0->1: node 1 must out-rank node 2,
    # which an unweighted run scores identically
    edges_w = [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)]
    df = spark.createDataFrame(edges_w, "src string, dst string, w double")
    w = {r["node"]: r["rank"]
         for r in pagerank_weighted(df, "src", "dst", "w", iters=8).collect()}
    assert w["b"] > w["c"]
    assert abs(sum(w.values()) - 1.0) < 1e-5  # no dangling: mass conserved

    # uniform weights reproduce the unweighted ranking exactly
    uni = df.select("src", "dst", F.lit(2.0).alias("w"))
    a = {r["node"]: r["rank"]
         for r in pagerank_weighted(uni, "src", "dst", "w", iters=8).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank(df.select("src", "dst"), "src", "dst", iters=8).collect()}
    assert a == b

    # parallel edges collapse into weight: duplicating the heavy edge
    # as two w/2 rows changes nothing
    split = spark.createDataFrame(
        [("a", "b", 4.5), ("a", "b", 4.5), ("a", "c", 1.0),
         ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    s = {r["node"]: r["rank"]
         for r in pagerank_weighted(split, "src", "dst", "w", iters=8).collect()}
    assert s == w

    # shuffle fallback equality
    sh = {r["node"]: r["rank"]
          for r in pagerank_weighted(df, "src", "dst", "w", iters=8,
                                     broadcast_ranks=False).collect()}
    assert sh == w

    import pytest as _pytest
    empty = spark.createDataFrame([], "src string, dst string, w double")
    with _pytest.raises(ValueError, match="empty edge list"):
        pagerank_weighted(empty, "src", "dst", "w")


def test_pagerank_weighted_rejects_nonpositive_weights(spark):
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank_weighted

    for w in (0.0, -1.0, float("nan")):
        df = spark.createDataFrame(
            [("a", "b", 1.0), ("b", "a", w)], "src string, dst string, w double"
        )
        with _pytest.raises(ValueError, match="positive"):
            pagerank_weighted(df, "src", "dst", "w")


def test_pagerank_weighted_rejects_null_raw_weight_among_positives(spark):
    # F.sum drops NULLs: a null weight on a parallel edge must fail the
    # PRE-aggregation validation, not slip through as 0 contribution
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank_weighted

    df = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "b", None), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    with _pytest.raises(ValueError, match="positive"):
        pagerank_weighted(df, "src", "dst", "w")


def test_pagerank_converged_matches_fixed_iterations(spark):
    # the tolerance-terminated run must return EXACTLY the vector the
    # fixed-iteration engine produces at the round count it stopped
    # at (same rounded iteration map), and the residual series must
    # decrease geometrically (damping contraction)
    from spear_spark.operators.graph import pagerank, pagerank_converged

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    info = {}
    conv = {r["node"]: r["rank"]
            for r in pagerank_converged(df, "src", "dst", tol=1e-6,
                                        max_iters=60, info=info).collect()}
    k = info["iterations"]
    assert 1 < k < 60
    fixed = {r["node"]: r["rank"]
             for r in pagerank(df, "src", "dst", iters=k).collect()}
    assert conv == fixed
    res = info["residuals"]
    assert res[-1] < 1e-6
    assert all(a >= b for a, b in zip(res, res[1:]))  # monotone decay
    # geometric: each checked residual shrinks by ~damping; allow slack
    assert res[-1] < res[0] * 0.9 ** (len(res) - 1)


def test_pagerank_converged_check_every_amortizes_actions(spark):
    # check_every=3: residuals are only measured every 3rd round, so
    # the stop lands on a multiple of 3 — and still agrees exactly
    # with the fixed-iteration engine at that round count
    from spear_spark.operators.graph import pagerank, pagerank_converged

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    info = {}
    conv = {r["node"]: r["rank"]
            for r in pagerank_converged(df, "src", "dst", tol=1e-6,
                                        max_iters=60, check_every=3,
                                        info=info).collect()}
    k = info["iterations"]
    assert k % 3 == 0
    assert len(info["residuals"]) == k // 3
    fixed = {r["node"]: r["rank"]
             for r in pagerank(df, "src", "dst", iters=k).collect()}
    assert conv == fixed


def test_pagerank_converged_bounded_rounds_guard(spark):
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank_converged

    # asymmetric graph (a symmetric cycle is ALREADY stationary at the
    # uniform init, so its first residual would be 0): one round cannot
    # reach a 1e-15 tolerance -> fail loudly, never return a
    # still-moving vector
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    with _pytest.raises(RuntimeError, match="not reached tol"):
        pagerank_converged(df, "src", "dst", tol=1e-15, max_iters=1)
    for bad in (dict(tol=0.0), dict(tol=-1.0), dict(max_iters=0),
                dict(check_every=0)):
        with _pytest.raises(ValueError):
            pagerank_converged(df, "src", "dst", **bad)


def test_pagerank_weighted_rejects_negative_summed_away(spark):
    # raw weights {3.0, -1.0} on the SAME edge sum to +2.0 — the
    # aggregated weight looks healthy, but the raw negative must still
    # fail loudly (caught via the min-weight defect column carried
    # through the single aggregation pass)
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank_weighted

    df = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "b", -1.0), ("b", "a", 1.0)],
        "src string, dst string, w double",
    )
    with _pytest.raises(ValueError, match="positive"):
        pagerank_weighted(df, "src", "dst", "w")


def test_pagerank_weighted_aggregated_path_still_validates(spark):
    # edges_aggregated=True skips the aggregation but NOT the weight
    # check — validation runs on the checkpointed relation
    import pytest as _pytest

    from spear_spark.operators.graph import pagerank_weighted

    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", float("nan"))],
        "src string, dst string, w double",
    )
    with _pytest.raises(ValueError, match="positive"):
        pagerank_weighted(df, "src", "dst", "w", edges_aggregated=True)


class TestSparseCosinePairs:
    def _brute(self, docs, max_df=None):
        """Python mirror of the operator's exact recipe: smooth-idf
        TF-IDF rounded 6dp, norms from rounded weights, 9dp unit
        weights, dot over (df-capped) shared terms, 6dp cosine."""
        import math
        from collections import Counter

        toks = {i: t.lower().split() for i, t in docs}
        n = len(docs)
        dft = Counter()
        tfs = {}
        for i, ts in toks.items():
            tf = Counter(ts)
            tfs[i] = tf
            for term in tf:
                dft[term] += 1
        w = {
            i: {t: round(c * (math.log((n + 1) / (dft[t] + 1)) + 1), 6)
                for t, c in tf.items()}
            for i, tf in tfs.items()
        }
        norm = {i: math.sqrt(sum(v * v for v in ws.values())) for i, ws in w.items()}
        u = {i: {t: round(v / norm[i], 9) for t, v in ws.items()} for i, ws in w.items()}
        out = {}
        ids = sorted(u)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                shared = set(u[a]) & set(u[b])
                if max_df is not None:
                    shared = {t for t in shared if dft[t] <= max_df}
                if shared:
                    out[(a, b)] = round(sum(u[a][t] * u[b][t] for t in shared), 6)
        return out

    def test_matches_brute_force_and_scores_rare_terms(self, spark):
        from spear_spark.operators.relevance import sparse_cosine_pairs

        docs = [
            (1, "alpha beta gamma delta xenon"),
            (2, "alpha beta gamma delta xenon"),      # identical -> 1.0
            (3, "alpha beta gamma epsilon zeta"),     # common overlap w/ 1
            (4, "xenon krypton argon neon helium"),   # shares RARE xenon w/ 1
            (5, "the of and to in"),
            (6, "the of and to in unrelatedterm"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r.doc_a, r.doc_b): r.cos_sim
               for r in sparse_cosine_pairs(df, "text", "doc_id", threshold=0.0).collect()}
        want = {p: c for p, c in self._brute(docs).items() if c >= 0.0}
        assert got == want
        assert got[(1, 2)] == 1.0

    def test_max_df_cap_underestimates(self, spark):
        from spear_spark.operators.relevance import sparse_cosine_pairs

        docs = [(i, "hot1 hot2 hot3 " + f"rare{i % 3}") for i in range(9)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        full = {(r.doc_a, r.doc_b): r.cos_sim
                for r in sparse_cosine_pairs(df, "text", "doc_id", threshold=0.0).collect()}
        capped = {(r.doc_a, r.doc_b): r.cos_sim
                  for r in sparse_cosine_pairs(df, "text", "doc_id", threshold=0.0,
                                               max_df=3).collect()}
        want = self._brute(docs, max_df=3)
        assert capped == want
        for p, c in capped.items():
            assert c <= full[p] + 1e-9

    def test_partitioning_invariance(self, spark, sf_dir):
        from spear_spark.operators.relevance import sparse_cosine_pairs
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        a = sorted(map(tuple, sparse_cosine_pairs(
            docs.coalesce(1), "text", "doc_id", threshold=0.3, max_df=64).collect()))
        b = sorted(map(tuple, sparse_cosine_pairs(
            docs.repartition(13), "text", "doc_id", threshold=0.3, max_df=64).collect()))
        assert a == b and len(a) > 0


class TestSketchMerge:
    """Merge laws: sketch(A ∪ B) == merge(sketch(A), sketch(B)),
    EXACTLY — the shard-wise lifecycle the sketch module promises."""

    def test_cm_merge_law(self, spark, sf_dir):
        from spear_spark.operators.sketch import cm_merge, count_min_sketch
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        merged = {
            (r.row, r.bucket): r.cnt
            for r in cm_merge(
                count_min_sketch(a, "text"), count_min_sketch(b, "text")
            ).collect()
        }
        whole = {
            (r.row, r.bucket): r.cnt
            for r in count_min_sketch(docs, "text").collect()
        }
        assert merged == whole and len(whole) > 0

    def test_hll_merge_law(self, spark, sf_dir):
        from spear_spark.operators.sketch import hll_merge, hll_register_table
        from spear_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events")
        key = F.col("user_id").cast("string")
        a = ev.filter(F.col("event_id") % 2 == 0)
        b = ev.filter(F.col("event_id") % 2 == 1)
        merged = {
            (r.reg, r.max_rho)
            for r in hll_merge(
                hll_register_table(a, key), hll_register_table(b, key)
            ).collect()
        }
        whole = {(r.reg, r.max_rho) for r in hll_register_table(ev, key).collect()}
        assert merged == whole and len(whole) > 0

    def test_cm_merge_overlapping_shards_overcount_documented(self, spark):
        """cm_merge's contract is DISJOINT shards — Count-Min is
        linear, so a row present in both inputs is counted twice and
        the cell grid holds no provenance to detect it.  This pins the
        documented failure mode: merging a shard with the whole corpus
        over-counts every cell by exactly the shard's occurrences."""
        from spear_spark.operators.sketch import cm_merge, count_min_sketch

        df = spark.createDataFrame(
            [("alpha beta",)] * 3 + [("beta gamma",)] * 2, "text string"
        )
        sub = df.limit(3)  # overlaps df entirely
        whole = {
            (r.row, r.bucket): r.cnt for r in count_min_sketch(df, "text").collect()
        }
        subc = {
            (r.row, r.bucket): r.cnt for r in count_min_sketch(sub, "text").collect()
        }
        merged = {
            (r.row, r.bucket): r.cnt
            for r in cm_merge(count_min_sketch(df, "text"),
                              count_min_sketch(sub, "text")).collect()
        }
        assert merged != whole
        for cell, cnt in merged.items():
            assert cnt == whole[cell] + subc.get(cell, 0)

    def test_group_sketch_twins_match_per_group_runs(self, spark, sf_dir):
        """The per-group variants must equal running the corpus-global
        sketch independently on each group's rows — same registers,
        same cells, same estimate — and the per-(group, reg) MAX merge
        stays idempotent (overlap-safe), unlike CM's SUM."""
        from spear_spark.operators.sketch import (
            count_min_sketch,
            count_min_sketch_by,
            hll_distinct,
            hll_distinct_by,
            hll_merge,
            hll_register_table_by,
        )
        from spear_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events")
        key = F.col("user_id").cast("string")
        by = {r.event_type: r.est_distinct
              for r in hll_distinct_by(ev, "event_type", key).collect()}
        for et in by:
            solo = hll_distinct(
                ev.filter(F.col("event_type") == et), key
            ).first()["est_distinct"]
            assert by[et] == solo
        # idempotent merge: merging the per-group table with itself is
        # a no-op (group key included in the merge keys)
        regs = hll_register_table_by(ev, "event_type", key)
        doubled = (
            regs.unionByName(regs)
            .groupBy("event_type", "reg")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        assert sorted(map(tuple, doubled.collect())) == sorted(
            map(tuple, regs.collect())
        )
        docs = load_table(spark, sf_dir, "documents")
        grouped = {
            (r.source, r.row, r.bucket): r.cnt
            for r in count_min_sketch_by(docs, "source", "text").collect()
            if r.source == "src0"
        }
        solo_cm = {
            ("src0", r.row, r.bucket): r.cnt
            for r in count_min_sketch(
                docs.filter(F.col("source") == "src0"), "text"
            ).collect()
        }
        assert grouped == solo_cm and len(solo_cm) > 0

    def test_bloom_merge_rejects_sentinel_less_input(self, spark):
        """ADVICE r6: a union-level sentinel check passes when ONE
        input lacks its sentinel row (one distinct sentinel survives)
        even though that input's geometry was never attested — each
        input must carry exactly one sentinel individually."""
        import pytest as _pytest

        from spear_spark.operators.dedup import bloom_build
        from spear_spark.operators.sketch import bloom_merge

        n_bits, k = 1 << 14, 4
        a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "key string")
        b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "key string")
        built = bloom_build(a, "key", n_bits, k)
        stripped = bloom_build(b, "key", n_bits, k).filter(F.col("word_idx") != -1)
        with _pytest.raises(ValueError, match="sentinel"):
            bloom_merge(built, stripped)

    def test_bloom_merge_law_and_geometry_guard(self, spark):
        import pytest as _pytest

        from spear_spark.operators.dedup import bloom_build, bloom_probe
        from spear_spark.operators.sketch import bloom_merge

        n_bits, k = 1 << 14, 4
        a = spark.createDataFrame([(f"a{i}",) for i in range(200)], "key string")
        b = spark.createDataFrame([(f"b{i}",) for i in range(200)], "key string")
        merged = {
            (r.word_idx, r.bits)
            for r in bloom_merge(
                bloom_build(a, "key", n_bits, k), bloom_build(b, "key", n_bits, k)
            ).collect()
        }
        whole = {
            (r.word_idx, r.bits)
            for r in bloom_build(a.unionByName(b), "key", n_bits, k).collect()
        }
        assert merged == whole
        # the merged table probes directly: every key from both shards
        # flags, so the no-false-negative contract survives the merge
        mdf = spark.createDataFrame(sorted(merged), "word_idx long, bits long")
        flags = bloom_probe(a.unionByName(b), "key", mdf, n_bits, k)
        assert flags.filter(~F.col("maybe_member")).count() == 0
        # mismatched geometry fails loudly
        with _pytest.raises(ValueError, match="sentinels"):
            bloom_merge(
                bloom_build(a, "key", n_bits, k), bloom_build(b, "key", 1 << 12, k)
            )


class TestKmeansLloyd:
    def _blobs(self, spark):
        import random

        rnd = random.Random(23)
        centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0],
                   [0.0, 0.0, 10.0, 10.0]]
        rows = []
        truth = {}
        for i in range(90):
            c = i % 3
            v = [centers[c][d] + rnd.uniform(-0.5, 0.5) for d in range(4)]
            rows.append((i, v))
            truth[i] = c
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            truth,
        )

    def test_converges_and_recovers_blobs(self, spark):
        from spear_spark.operators.similarity import ivf_assign_fixed, kmeans_lloyd

        df, truth = self._blobs(spark)
        info = {}
        out = {r["cell"]: r for r in kmeans_lloyd(
            df, "embedding", "vec_id", k=3, tol=1e-6, max_iters=25, info=info
        ).collect()}
        assert info["drifts"][-1] < 1e-6
        assert 1 <= info["iterations"] < 25
        assert sum(r["n_assigned"] for r in out.values()) == 90
        # assignments from the final centroids recover the planted blobs
        # (each cell maps to exactly one true blob, 30 members each)
        assign = {
            r["vec_id"]: r["_cell"]
            for r in ivf_assign_fixed(df, "embedding", info["centroids"])
            .select("vec_id", "_cell").collect()
        }
        by_cell = {}
        for vid, cell in assign.items():
            by_cell.setdefault(cell, set()).add(truth[vid])
        assert all(len(blobs) == 1 for blobs in by_cell.values())
        assert len(by_cell) == 3

    def test_matches_unrolled_fixed_steps(self, spark):
        from spear_spark.operators.similarity import (
            first_k_centroids,
            kmeans_lloyd,
            kmeans_lloyd_step,
        )

        df, _ = self._blobs(spark)
        info = {}
        conv = sorted(
            map(tuple, kmeans_lloyd(df, "embedding", "vec_id", k=3,
                                    tol=1e-6, info=info).collect())
        )
        # replay the same number of rounds manually -> identical table
        cur = first_k_centroids(df, "embedding", "vec_id", 3)
        for _ in range(info["iterations"]):
            new = [list(c) for c in cur]
            for r in kmeans_lloyd_step(df, "embedding", cur).collect():
                new[r["cell"]] = [float(x) for x in r["centroid"]]
            cur = new
        fixed = sorted(
            map(tuple, kmeans_lloyd_step(df, "embedding", cur).collect())
        )
        assert conv == fixed

    def test_dead_centroid_kept_and_guards(self, spark):
        import pytest as _pytest

        from spear_spark.operators.similarity import kmeans_lloyd

        df, _ = self._blobs(spark)
        # a centroid parked far away never wins a vector: it must keep
        # its position (no crash, no reseed) while the live ones converge
        info = {}
        kmeans_lloyd(
            df, "embedding", "vec_id",
            init_centroids=[[0.0] * 4, [10.0, 10.0, 0.0, 0.0],
                            [0.0, 0.0, 10.0, 10.0], [1e6] * 4],
            tol=1e-6, max_iters=25, info=info,
        )
        assert info["centroids"][3] == [1e6] * 4
        with _pytest.raises(ValueError, match="tol"):
            kmeans_lloyd(df, "embedding", "vec_id", tol=0.0)
        with _pytest.raises(RuntimeError, match="drift"):
            kmeans_lloyd(df, "embedding", "vec_id", k=3, tol=1e-12, max_iters=1)


class TestGroupedHeavyHitters:
    """Laws for cm_heavy_hitters_by (sketch.py) — the grouped twin of
    cm_heavy_hitters, probing a per-group Count-Min sketch against a
    per-group total threshold."""

    def test_one_sided_and_threshold_laws(self, spark, sf_dir):
        """CM never undercounts (est >= exact per (group, tok)), and —
        because the estimate is one-sided — every TRUE heavy hitter
        (exact * 100 >= pct * group_total) must appear: the sketch can
        admit false positives but never false negatives."""
        from spear_spark.operators.sketch import cm_heavy_hitters_by

        docs = load_table(spark, sf_dir, "documents")
        rows = cm_heavy_hitters_by(docs, "source", "text", pct=1).collect()
        assert rows and all(r.est >= r.exact for r in rows)
        got = {(r.source, r.tok) for r in rows}
        exact = (
            docs.select(F.col("source"), F.explode(text.tokens("text")).alias("tok"))
            .groupBy("source", "tok")
            .agg(F.count(F.lit(1)).alias("exact"))
        )
        totals = exact.groupBy("source").agg(F.sum("exact").alias("total"))
        true_heavy = {
            (r.source, r.tok)
            for r in exact.join(totals, "source")
            .filter(F.col("exact") * 100 >= F.col("total"))
            .collect()
        }
        assert true_heavy <= got

    def test_matches_per_group_standalone_sketch(self, spark, sf_dir):
        """The grouped result restricted to one source equals the
        standalone pipeline run on that source's rows alone (same
        hashes, same cells, same integer threshold) — each group's
        sketch is independent, exactly like hll_distinct_by vs
        hll_distinct."""
        from spear_spark.operators.sketch import cm_heavy_hitters, cm_heavy_hitters_by

        docs = load_table(spark, sf_dir, "documents")
        by = cm_heavy_hitters_by(docs, "source", "text", pct=1).collect()
        src = sorted({r.source for r in by})[0]
        grouped = {(r.tok, r.est, r.exact) for r in by if r.source == src}
        solo_docs = docs.filter(F.col("source") == src)
        total = solo_docs.select(
            F.explode(text.tokens("text")).alias("t")
        ).count()
        solo = {
            (r.tok, r.est, r.exact)
            for r in cm_heavy_hitters(solo_docs, "text", min_count=1).collect()
            if r.est * 100 >= total
        }
        assert grouped == solo

    def test_empty_input(self, spark):
        from spear_spark.operators.sketch import cm_heavy_hitters_by

        empty = spark.createDataFrame([], "source string, text string")
        assert cm_heavy_hitters_by(empty, "source", "text").count() == 0


class TestHLLAccuracyContract:
    def test_hll_distinct_by_relative_error_bound(self, spark):
        """Planted-cardinality accuracy contract for hll_distinct_by:
        p80 certifies cross-engine hash-exactness, this certifies the
        ESTIMATE is actually good.  For m = 64 registers the standard
        error of the raw HLL estimator is 1.04/sqrt(64) ~= 13%; we
        assert within 3 sigma (39%) for groups in the raw regime, and
        within 20% for a small group in the linear-counting regime
        (m ln(m/V) is much tighter when n << m).  The md5 hash is
        deterministic, so this is a fixed property of the planted
        sets, not a flaky statistical test."""
        from pyspark.sql import functions as F

        from spear_spark.operators.sketch import hll_distinct_by

        sizes = {"small": 5, "medium": 500, "large": 40000}
        parts = []
        for g, n in sizes.items():
            parts.append(
                spark.range(n).select(
                    F.lit(g).alias("grp"),
                    F.concat(F.lit(g + ":"), F.col("id")).alias("key"),
                )
            )
        df = parts[0].unionByName(parts[1]).unionByName(parts[2])
        est = {
            r.grp: r.est_distinct
            for r in hll_distinct_by(df, "grp", F.col("key")).collect()
        }
        assert abs(est["small"] / sizes["small"] - 1) <= 0.20
        assert abs(est["medium"] / sizes["medium"] - 1) <= 0.39
        assert abs(est["large"] / sizes["large"] - 1) <= 0.39
        # duplicate keys must not move any estimate (cardinality, not count)
        doubled = {
            r.grp: r.est_distinct
            for r in hll_distinct_by(df.unionByName(df), "grp", F.col("key")).collect()
        }
        assert doubled == est


class TestRollingSketch:
    """Laws for cm_rolling / cm_probe_by (sketch.py): exact sliding
    merges of per-period Count-Min tables."""

    def _corpus(self, spark):
        rows = [
            (0, "a a b"), (0, "b c"), (1, "a c c"), (2, "b b b d"),
            (4, "a d d"), (4, "c"),  # period 3 is a gap day
        ]
        return spark.createDataFrame(rows, "period int, text string")

    def test_rolling_equals_direct_window_sketch(self, spark):
        """Rolling cells at period p == direct sketch of raw rows in
        (p-window+1 .. p] — the exactness claim: per-period shards are
        disjoint by construction, so the windowed SUM is the sketch of
        the window's union, including across the gap day."""
        from spear_spark.operators.sketch import (
            cm_rolling,
            count_min_sketch,
            count_min_sketch_by,
        )

        df = self._corpus(spark)
        daily = count_min_sketch_by(df, "period", "text")
        rolled = cm_rolling(daily, window=3).collect()
        observed = sorted({r.period for r in rolled})
        assert observed == [0, 1, 2, 4]  # gap day emits no row
        for p in observed:
            got = {(r.row, r.bucket): r.cnt for r in rolled if r.period == p}
            direct = {
                (r.row, r.bucket): r.cnt
                for r in count_min_sketch(
                    df.filter((F.col("period") > p - 3) & (F.col("period") <= p)),
                    "text",
                ).collect()
            }
            assert got == direct, f"period {p}"

    def test_window_one_is_identity_and_guard(self, spark):
        import pytest as _pytest

        from spear_spark.operators.sketch import cm_rolling, count_min_sketch_by

        daily = count_min_sketch_by(self._corpus(spark), "period", "text")
        rolled = cm_rolling(daily, window=1)
        assert sorted(map(tuple, rolled.collect())) == sorted(
            map(tuple, daily.collect())
        )
        with _pytest.raises(ValueError, match="window"):
            cm_rolling(daily, window=0)

    def test_probe_one_sided_and_absent_group(self, spark):
        """cm_probe_by: est >= exact for every (period, tok) present;
        a probe against a period the sketch never saw returns no row."""
        from spear_spark.operators.sketch import cm_probe_by, count_min_sketch_by
        from spear_spark.operators.text import tokens

        df = self._corpus(spark)
        daily = count_min_sketch_by(df, "period", "text")
        exact = (
            df.select("period", F.explode(tokens("text")).alias("tok"))
            .groupBy("period", "tok")
            .agg(F.count(F.lit(1)).alias("exact"))
        )
        est = cm_probe_by(daily, exact.select("period", "tok"), "period")
        joined = est.join(exact, ["period", "tok"]).collect()
        assert len(joined) == exact.count()
        assert all(r.est >= r.exact for r in joined)
        ghost = spark.createDataFrame([(99, "a")], "period int, tok string")
        assert cm_probe_by(daily, ghost, "period").count() == 0

    def test_probe_never_seen_token_reads_zero(self, spark):
        """Standard CM read for a token absent from an EXISTING group:
        empty cells count as 0 in the MIN (left join + coalesce), so
        with a near-empty sketch the probe answers est = 0 — it is not
        silently dropped the way an inner cell join would."""
        from spear_spark.operators.sketch import cm_probe_by, count_min_sketch_by

        tiny = spark.createDataFrame([(0, "a")], "period int, text string")
        daily = count_min_sketch_by(tiny, "period", "text")
        probe = spark.createDataFrame(
            [(0, "zz-never-seen")], "period int, tok string"
        )
        rows = cm_probe_by(daily, probe, "period").collect()
        assert len(rows) == 1 and rows[0].est == 0


class TestCorpusHealthReport:
    def test_columns_agree_with_standalone_operators(self, spark, sf_dir):
        """Each report column must equal the standalone operator it
        folds in: hll_distinct_by over the distinct token set,
        cm_heavy_hitters_by's row count per group, group_quantiles of
        doc token lengths — the report is a staging reuse, never a
        different estimator."""
        from spear_spark.operators.profile import corpus_health_report
        from spear_spark.operators.sketch import cm_heavy_hitters_by, hll_distinct_by
        from spear_spark.operators.stats import group_quantiles

        docs = load_table(spark, sf_dir, "documents")
        rep = {r.source: r for r in
               corpus_health_report(docs, "source", "text", "doc_id").collect()}
        toks = docs.select("source", "doc_id", F.explode(text.tokens("text")).alias("tok"))
        hll = {
            r.source: r.est_distinct
            for r in hll_distinct_by(
                toks.select("source", "tok").distinct(), "source", F.col("tok")
            ).collect()
        }
        hh = cm_heavy_hitters_by(docs, "source", "text", pct=1).collect()
        lens = toks.groupBy("source", "doc_id").agg(F.count(F.lit(1)).alias("len"))
        qg = {r.source: r for r in
              group_quantiles(lens, "len", ["source"], (0.5, 0.9)).collect()}
        assert set(rep) == set(hll)
        for src, r in rep.items():
            assert r.est_distinct_toks == hll[src]
            assert r.n_heavy == sum(1 for x in hh if x.source == src)
            assert r.n_docs == qg[src].n_rows
            assert r.q50_len == qg[src].q50
            assert r.q90_len == qg[src].q90

    def test_dup_frac_agrees_with_repeated_ngram_profile(self, spark, sf_dir):
        """dup_frac is the per-source rollup of p85's per-doc signal:
        sum(n_dup)/sum(n_ngrams) over the source's docs, with the SAME
        corpus-wide >= 2 rule — the report must not reinvent the
        estimator."""
        from spear_spark.operators.dedup import repeated_ngram_profile
        from spear_spark.operators.profile import corpus_health_report

        docs = load_table(spark, sf_dir, "documents")
        rep = {r.source: r.dup_frac for r in
               corpus_health_report(docs, "source", "text", "doc_id").collect()}
        per_doc = repeated_ngram_profile(docs, "text", "doc_id")
        want = {
            r.source: round(r.nd / r.nn, 6)
            for r in per_doc.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.sum("n_dup").alias("nd"), F.sum("n_ngrams").alias("nn"))
            .collect()
        }
        for src in want:
            assert rep[src] == want[src], src

    def test_single_scan_plan_shape(self, spark, sf_dir):
        """The report's final plan must read NO parquet at all — every
        branch consumes the two checkpointed stagings, so the corpus
        is scanned exactly once (inside the staging job), and every
        assembly join is broadcast (no SortMergeJoin of the tiny
        per-group aggregates)."""
        from spear_spark.operators.profile import corpus_health_report
        from spear_spark.plans import executed_plan

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        final = executed_plan(corpus_health_report(docs, "source", "text", "doc_id"))
        assert "Scan parquet" not in final
        assert "SortMergeJoin" not in final


def test_rolling_sketch_single_scan_plan_shape(spark, sf_dir):
    """p82's final plan must read NO parquet: the (period, tok) counts
    staging is checkpointed once, the daily grid is summed FROM it
    (CM linearity), and probes derive from the same staging — at
    100 TB nothing downstream of the staging job touches the events
    table again.  All joins stay broadcast (the probe fan-out never
    shuffles)."""
    from spear_spark.operators.catalog import QUERIES
    from spear_spark.plans import executed_plan

    final = executed_plan(QUERIES["p82_rolling_sketch"][0](spark, sf_dir))
    assert "Scan parquet" not in final
    assert "SortMergeJoin" not in final


class TestRollingHLL:
    """Laws for hll_rolling / hll_rolling_distinct: rolling register
    MAX equals the register table of the window's union, and — unlike
    Count-Min's SUM — survives overlapping inputs (MAX is idempotent)."""

    def _events(self, spark):
        rows = [(p, f"u{u}") for p, us in
                [(0, [1, 2, 3]), (1, [2, 4]), (2, [5]), (4, [1, 6, 7])]
                for u in us]  # period 3 is a gap day
        return spark.createDataFrame(rows, "period int, user string")

    def test_rolling_equals_direct_window_registers(self, spark):
        from spear_spark.operators.sketch import (
            hll_register_table,
            hll_register_table_by,
            hll_rolling,
            hll_rolling_distinct,
            hll_distinct,
        )

        df = self._events(spark)
        daily = hll_register_table_by(df, "period", F.col("user"))
        rolled = hll_rolling(daily, window=3).collect()
        assert sorted({r.period for r in rolled}) == [0, 1, 2, 4]
        for p in [0, 1, 2, 4]:
            got = {(r.reg, r.max_rho) for r in rolled if r.period == p}
            win = df.filter((F.col("period") > p - 3) & (F.col("period") <= p))
            direct = {(r.reg, r.max_rho)
                      for r in hll_register_table(win, F.col("user")).collect()}
            assert got == direct, f"period {p}"
            est = {r.period: r.est_distinct
                   for r in hll_rolling_distinct(daily, window=3).collect()}
            solo = hll_distinct(win, F.col("user")).first()["est_distinct"]
            assert est[p] == solo

    def test_overlap_safe_and_guard(self, spark):
        """Doubling the daily input (simulating per-period tables built
        from overlapping sources) must not move any rolling register —
        the idempotence Count-Min's SUM merge cannot offer."""
        import pytest as _pytest

        from spear_spark.operators.sketch import hll_register_table_by, hll_rolling

        daily = hll_register_table_by(self._events(spark), "period", F.col("user"))
        base = sorted(map(tuple, hll_rolling(daily, window=3).collect()))
        doubled = sorted(map(tuple,
                             hll_rolling(daily.unionByName(daily), window=3).collect()))
        assert doubled == base
        with _pytest.raises(ValueError, match="window"):
            hll_rolling(daily, window=0)


class TestRepeatedNgramProfile:
    def test_planted_spans(self, spark):
        """A span shared by two docs marks exactly one 8-gram position
        in each; a within-doc repeat marks both positions; unique docs
        score 0; docs shorter than n emit no row."""
        from spear_spark.operators.dedup import repeated_ngram_profile

        span = "s1 s2 s3 s4 s5 s6 s7 s8"
        rows = [
            (1, f"a1 a2 a3 {span}"),            # 11 toks -> 4 grams, 1 dup
            (2, f"b1 b2 {span} b3"),            # 11 toks -> 4 grams, 1 dup
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # unique, 2 grams, 0 dup
            (4, "d1 d2 d3 d4 d5 d6 d7"),        # 7 toks -> no row
            (5, f"{span} {span}"),              # 16 toks -> 9 grams; pos 1 and 9
                                                # identical, others span-straddling
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r.doc_id: r for r in
               repeated_ngram_profile(df, "text", "doc_id").collect()}
        assert set(out) == {1, 2, 3, 5}
        assert (out[1].n_ngrams, out[1].n_dup) == (4, 1)
        assert (out[2].n_ngrams, out[2].n_dup) == (4, 1)
        assert (out[3].n_ngrams, out[3].n_dup) == (2, 0)
        assert out[3].dup_frac == 0.0
        # doc 5: grams at positions 1 and 9 are the span itself -- which
        # docs 1 and 2 also contain, so those two are dup; the 7
        # straddling grams (s_k..s8 s1..s_{k-1}) are unique to doc 5
        assert (out[5].n_ngrams, out[5].n_dup) == (9, 2)
        assert out[1].dup_frac == 0.25

    def test_partitioning_invariance_and_guard(self, spark, sf_dir):
        import pytest as _pytest

        from spear_spark.operators.dedup import repeated_ngram_profile

        docs = load_table(spark, sf_dir, "documents")
        a = sorted(map(tuple, repeated_ngram_profile(docs, "text", "doc_id").collect()))
        b = sorted(map(tuple,
                       repeated_ngram_profile(docs.repartition(13), "text", "doc_id").collect()))
        assert a == b and len(a) > 0
        with _pytest.raises(ValueError, match="n must be"):
            repeated_ngram_profile(docs, "text", "doc_id", n=1)


def test_hist_merge_law(spark, sf_dir):
    """merge(counts(A), counts(B)) == counts(A ∪ B) for disjoint
    shards, and decorating the merged counts reproduces the whole
    fixed_width_histogram — shares recompute exactly from merged
    integer counts."""
    import pytest as _pytest

    from spear_spark.operators.stats import (
        fixed_width_histogram,
        hist_decorate,
        hist_merge,
        histogram_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    even = histogram_counts(docs.filter(F.col("doc_id") % 2 == 0), "n_chars", 64.0)
    odd = histogram_counts(docs.filter(F.col("doc_id") % 2 == 1), "n_chars", 64.0)
    merged = sorted(map(tuple, hist_merge(even, odd).collect()))
    whole = sorted(map(tuple, histogram_counts(docs, "n_chars", 64.0).collect()))
    assert merged == whole
    dec = sorted(map(tuple, hist_decorate(hist_merge(even, odd), 64.0).collect()))
    direct = sorted(map(tuple, fixed_width_histogram(docs, "n_chars", 64.0).collect()))
    assert dec == direct
    with _pytest.raises(ValueError, match="at least one"):
        hist_merge()


def test_round8_operators_partitioning_invariant(spark, sf_dir):
    """The round-8 surfaces are deterministic aggregates end-to-end —
    md5 hashes, integer registers/cells, exact percentiles — so
    repartitioning the input must not move a single output value
    (the property that makes them oracle-pairable at all)."""
    from spear_spark.operators.profile import corpus_health_report
    from spear_spark.operators.sketch import (
        cm_heavy_hitters_by,
        cm_rolling,
        count_min_sketch_by,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs13 = docs.repartition(13)
    for fn in (
        lambda d: corpus_health_report(d, "source", "text", "doc_id"),
        lambda d: cm_heavy_hitters_by(d, "source", "text", pct=1),
        lambda d: cm_rolling(count_min_sketch_by(
            d.withColumn("period", (F.col("doc_id") % 5).cast("int")),
            "period", "text"), window=2),
    ):
        a = sorted(map(tuple, fn(docs).collect()))
        b = sorted(map(tuple, fn(docs13).collect()))
        assert a == b and len(a) > 0


class TestContaminationSpans:
    def test_planted_span_positions(self, spark):
        """The shared benchmark sentence marks exactly its own n-gram
        positions in the corpus doc — 1-based, multiplicity-aware
        (a doc repeating the bench phrase gets both positions)."""
        from spear_spark.operators.dedup import contamination_spans

        bench = spark.createDataFrame(
            [(1, "the quick brown fox")], "doc_id int, text string"
        )
        corpus = spark.createDataFrame(
            [
                (10, "intro words the quick brown fox outro"),
                (11, "the quick brown fox the quick brown fox"),
                (12, "totally unrelated text here"),
            ],
            "doc_id int, text string",
        )
        rows = contamination_spans(corpus, bench, "text", "doc_id").collect()
        got = sorted((r.doc_id, r.pos, r.gram) for r in rows)
        # bench 3-grams: "the quick brown", "quick brown fox"
        assert got == [
            (10, 3, "the quick brown"), (10, 4, "quick brown fox"),
            (11, 1, "the quick brown"), (11, 2, "quick brown fox"),
            (11, 5, "the quick brown"), (11, 6, "quick brown fox"),
        ]

    def test_consistent_with_doc_level_contamination(self, spark, sf_dir):
        """Every (doc, bench) pair p38-style contamination reports must
        have >= min_overlap distinct contaminated grams in the span
        view — the span operator can only add detail, never lose a
        contaminated doc."""
        from spear_spark.operators.dedup import contamination_spans, ngram_contamination

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") < 10)
        corpus = docs.filter(F.col("doc_id") >= 10)
        flagged = ngram_contamination(corpus, bench, "text", "doc_id", min_overlap=8)
        spans = contamination_spans(corpus, bench, "text", "doc_id")
        per_doc = {
            r.doc_id: r.n
            for r in spans.groupBy("doc_id")
            .agg(F.count_distinct("gram").alias("n"))
            .collect()
        }
        for r in flagged.collect():
            assert per_doc.get(r.doc_id, 0) >= 8


def test_cluster_representatives_argmax_and_tiebreak(spark):
    """Best score wins; exact score ties fall to the smallest id; the
    single-aggregate argmax (MAX over (score, -id) structs) must agree
    with the obvious window formulation."""
    from pyspark.sql import Window

    from spear_spark.operators.dedup import cluster_representatives

    labels = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 200), (9, 200), (4, 300)],
        "doc_id int, cluster_id int",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (7, 0.4), (9, 0.4), (4, 0.1)],
        "doc_id int, score double",
    )
    got = {r.cluster_id: (r.keep_id, r.keep_score, r.n_members)
           for r in cluster_representatives(labels, scores).collect()}
    assert got == {100: (2, 0.9, 3), 200: (7, 0.4, 2), 300: (4, 0.1, 1)}
    # cross-check against the window formulation on the same inputs
    j = labels.join(scores, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("score"), "doc_id")
    ref = {
        r.cluster_id: r.doc_id
        for r in j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert {c: k for c, (k, _, _) in got.items()} == ref


class TestHLLOverlap:
    def test_inclusion_exclusion_consistency(self, spark, sf_dir):
        """Per-pair union registers equal hll_register_table over the
        two groups' rows, est_a/est_b equal hll_distinct_by, and the
        overlap is exactly max(0, a + b - union) of those estimates."""
        from spear_spark.operators.sketch import (
            hll_distinct,
            hll_distinct_by,
            hll_overlap_by,
        )

        ev = load_table(spark, sf_dir, "events")
        key = F.col("user_id").cast("string")
        rows = hll_overlap_by(ev, "event_type", key).collect()
        singles = {r.event_type: r.est_distinct
                   for r in hll_distinct_by(ev, "event_type", key).collect()}
        n = len(singles)
        assert len(rows) == n * (n - 1) // 2
        for r in rows:
            assert r.group_a < r.group_b
            assert r.est_a == singles[r.group_a]
            assert r.est_b == singles[r.group_b]
            direct_union = hll_distinct(
                ev.filter(F.col("event_type").isin(r.group_a, r.group_b)), key
            ).first()["est_distinct"]
            assert r.est_union == direct_union
            assert r.est_overlap == round(
                max(0.0, r.est_a + r.est_b - r.est_union), 3
            )

    def test_planted_overlap_accuracy(self, spark):
        """Two groups sharing exactly half their keys: the estimated
        overlap lands within HLL noise (3 estimators' 3σ) of truth."""
        from spear_spark.operators.sketch import hll_overlap_by

        a = spark.range(2000).select(
            F.lit("a").alias("g"), F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        b = spark.range(1000, 3000).select(
            F.lit("b").alias("g"), F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        r = hll_overlap_by(a.unionByName(b), "g", F.col("k")).collect()[0]
        # true overlap 1000 of 2000-sized sets; sigma ~13% per estimate
        assert abs(r.est_overlap - 1000) <= 3 * 0.13 * (2000 + 2000 + 3000)


class TestJaccardPrefixPairs:
    def test_lossless_vs_full_index(self, spark, sf_dir):
        """The prefix-filtered join must return EXACTLY the full
        inverted index's pairs at the threshold — the losslessness
        claim the prefix filter's correctness argument makes."""
        from spear_spark.operators.dedup import jaccard_prefix_pairs, ngram_jaccard_pairs

        docs = load_table(spark, sf_dir, "documents")
        for t in (0.3, 0.5, 0.8):
            got = sorted(map(tuple, jaccard_prefix_pairs(
                docs, "text", "doc_id", threshold=t).collect()))
            want = sorted(map(tuple, ngram_jaccard_pairs(docs, "text", "doc_id")
                              .filter(F.col("jaccard") >= t).collect()))
            assert got == want, f"threshold {t}"
        assert len(sorted(map(tuple, jaccard_prefix_pairs(
            docs, "text", "doc_id", threshold=0.3).collect()))) > 0

    def test_threshold_edge_and_guard(self, spark):
        """A pair at exactly t = 0.5 (2 shared of 3+3 shingles) must
        survive the prefix + length filters and the final comparison."""
        import pytest as _pytest

        from spear_spark.operators.dedup import jaccard_prefix_pairs

        docs = spark.createDataFrame(
            [(1, "t1 t2 t3 t4 t5"), (2, "t1 t2 t3 t4 t6"), (3, "u1 u2 u3 u4 u5")],
            "doc_id int, text string",
        )
        rows = jaccard_prefix_pairs(docs, "text", "doc_id", threshold=0.5).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.5)]
        with _pytest.raises(ValueError, match="threshold"):
            jaccard_prefix_pairs(docs, "text", "doc_id", threshold=0.0)


def test_mad_outliers_beat_zscore_masking(spark):
    """The masking law: three planted extremes inflate stddev until
    the z-score flags nothing at 2σ, while the modified z-score flags
    exactly those three; an all-identical group (MAD = 0) emits no
    rows instead of dividing by zero."""
    from spear_spark.operators.stats import mad_outliers, zscore_outliers

    rows = [("a", i, v) for i, v in enumerate([10, 11, 12, 13, 14, 15,
                                               1000, 1000, 1000])]
    rows += [("b", 100 + i, 7) for i in range(5)]  # constant group
    df = spark.createDataFrame(rows, "g string, doc_id int, v int")
    z = zscore_outliers(df, "v", ["g"], "doc_id", threshold=2.0).collect()
    assert z == []  # masked
    m = mad_outliers(df, "v", ["g"], "doc_id", threshold=3.5).collect()
    assert sorted(r.doc_id for r in m) == [6, 7, 8]
    assert all(r.g == "a" and r.mscore > 100 for r in m)


class TestMadOutliersApprox:
    """Laws for the mergeable histogram-binned MAD — the 100 TB form
    p91's exact operator prescribes in its docstring."""

    def _df(self, spark):
        rows = [("a", i, v) for i, v in enumerate([10, 11, 12, 13, 14, 15,
                                                   1000, 1000, 1000])]
        rows += [("b", 100 + i, 7) for i in range(5)]  # constant group
        return spark.createDataFrame(rows, "g string, doc_id int, v int")

    def test_masking_law_and_constant_group(self, spark):
        """Same planted-extremes dataset as the exact masking law: the
        approx variant flags exactly the three extremes, and the
        constant group's resolution-floored MAD scores ~0.6745 —
        suppressed without a zero-division special case."""
        from spear_spark.operators.stats import mad_outliers_approx

        out = mad_outliers_approx(
            self._df(spark), "v", ["g"], "doc_id",
            lo=0.0, hi=1100.0, n_bins=1100, threshold=3.5,
        ).collect()
        assert sorted(r.doc_id for r in out) == [6, 7, 8]
        assert all(r.g == "a" and r.mscore > 100 for r in out)

    def test_agrees_with_exact_on_wide_margins(self, spark, sf_dir):
        """On real per-source doc lengths with unit-width bins, every
        doc the exact modified-z flags (p91's lang grouping and 1.5
        threshold) is within one bin-width's score error of the approx
        flag set: the two sets agree exactly once scores within 0.5 of
        the threshold are set aside."""
        from spear_spark.operators.stats import mad_outliers, mad_outliers_approx

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "lang", "doc_id", F.length("text").alias("n_chars")
        )
        hi = docs.agg(F.max("n_chars")).first()[0] + 1.0
        exact = {r.doc_id: r.mscore for r in mad_outliers(
            docs, "n_chars", ["lang"], "doc_id", threshold=1.5).collect()}
        approx = {r.doc_id: r.mscore for r in mad_outliers_approx(
            docs, "n_chars", ["lang"], "doc_id",
            lo=0.0, hi=hi, n_bins=int(hi), threshold=1.5).collect()}
        assert exact, "fixture should plant at least one robust outlier"
        confident_exact = {d for d, s in exact.items() if abs(s) >= 2.0}
        confident_approx = {d for d, s in approx.items() if abs(s) >= 2.0}
        assert confident_exact - set(approx) == set()
        assert confident_approx - set(exact) == set()

    def test_partitioning_and_replication_invariance(self, spark):
        """Integer bin counts are associative-commutative-exact, so the
        result is identical under repartitioning, and a self-union
        (every shard duplicated — the merge law) leaves each row's
        score unchanged: median and MAD are replication-invariant."""
        from spear_spark.operators.stats import mad_outliers_approx

        df = self._df(spark)
        args = ("v", ["g"], "doc_id")
        kw = dict(lo=0.0, hi=1100.0, n_bins=1100, threshold=3.5)
        base = sorted(map(tuple, mad_outliers_approx(df, *args, **kw).collect()))
        repart = sorted(map(tuple, mad_outliers_approx(
            df.repartition(7, "doc_id"), *args, **kw).collect()))
        assert base == repart
        doubled = sorted(set(map(tuple, mad_outliers_approx(
            df.unionAll(df), *args, **kw).collect())))
        assert base == doubled


class TestContaminationIntervals:
    def _spans_and_intervals(self, spark):
        from spear_spark.operators.dedup import (
            contamination_intervals,
            contamination_spans,
        )

        bench = spark.createDataFrame(
            [(0, "secret eval answer key")], "doc_id int, text string"
        )
        corpus = spark.createDataFrame(
            [
                # two touching hits -> one interval; a far hit -> its own
                (10, "x secret eval answer key y z secret eval answer q"),
                (11, "clean text with no overlap at all"),
                (12, "secret eval answer key"),
            ],
            "doc_id int, text string",
        )
        spans = contamination_spans(corpus, bench, "text", "doc_id").collect()
        ivs = contamination_intervals(corpus, bench, "text", "doc_id").collect()
        return spans, ivs

    def test_interval_coverage_equals_position_coverage(self, spark):
        """The law the operator exists for: the union of interval token
        ranges equals the union of the positions' covered [pos, pos+n-1]
        ranges — merging must neither drop nor add covered tokens."""
        n = 3
        spans, ivs = self._spans_and_intervals(spark)
        from_positions = {
            (r.doc_id, t) for r in spans for t in range(r.pos, r.pos + n)
        }
        from_intervals = {
            (r.doc_id, t) for r in ivs for t in range(r.start_pos, r.end_pos + 1)
        }
        assert from_intervals == from_positions
        # position counts partition across intervals
        assert sum(r.n_positions for r in ivs) == len(spans)

    def test_intervals_are_maximal_and_disjoint(self, spark):
        """No two intervals of one doc overlap or touch — otherwise the
        island merge wasn't maximal."""
        n = 3
        _, ivs = self._spans_and_intervals(spark)
        by_doc = {}
        for r in ivs:
            assert r.start_pos <= r.end_pos
            by_doc.setdefault(r.doc_id, []).append((r.start_pos, r.end_pos))
        for doc, ranges in by_doc.items():
            ranges.sort()
            for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
                assert s2 > e1 + 1, f"doc {doc}: [{s1},{e1}] and [{s2},{e2}] mergeable"

    def test_clean_doc_emits_nothing(self, spark):
        _, ivs = self._spans_and_intervals(spark)
        assert all(r.doc_id != 11 for r in ivs)


class TestCmInnerProduct:
    def _exact_inner(self, df, ga, gb):
        from collections import Counter

        rows = df.collect()
        ca = Counter(t for r in rows if r.g == ga for t in r.text.split())
        cb = Counter(t for r in rows if r.g == gb for t in r.text.split())
        return sum(ca[t] * cb[t] for t in ca)

    def test_one_sided_overestimate(self, spark):
        """CM inner product never undercounts the exact distribution
        overlap (Cormode-Muthukrishnan): est >= exact for every pair."""
        from spear_spark.operators.sketch import (
            cm_inner_product_by,
            count_min_sketch_by,
        )

        df = spark.createDataFrame(
            [
                ("a", "x x y z shared shared"),
                ("b", "y shared shared shared w"),
                ("c", "totally disjoint tokens here"),
            ],
            "g string, text string",
        )
        grid = count_min_sketch_by(df, "g", "text")
        out = {(r.group_a, r.group_b): r.est_inner
               for r in cm_inner_product_by(grid, "g").collect()}
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}  # full matrix
        for (ga, gb), est in out.items():
            assert est >= self._exact_inner(df, ga, gb), (ga, gb)

    def test_small_vocab_is_exact(self, spark):
        """With |vocab| << width the grid has no collisions, so the
        estimator equals the exact inner product (planted-overlap
        accuracy contract)."""
        from spear_spark.operators.sketch import (
            cm_inner_product_by,
            count_min_sketch_by,
        )

        df = spark.createDataFrame(
            [("a", "t1 t1 t2"), ("b", "t1 t2 t2 t2"), ("c", "t9")],
            "g string, text string",
        )
        grid = count_min_sketch_by(df, "g", "text")
        out = {(r.group_a, r.group_b): r.est_inner
               for r in cm_inner_product_by(grid, "g").collect()}
        # exact: a.b = 2*1 + 1*3 = 5, a.c = 0, b.c = 0 (no collisions
        # guaranteed only probabilistically, but 4 tokens over 4x1024
        # cells collide with prob ~1e-2 per row and the MIN over 4
        # independent rows makes a wrong answer ~1e-8)
        assert out[("a", "b")] == 5
        assert out[("a", "c")] == 0
        assert out[("b", "c")] == 0


class TestRollingDensify:
    def _corpus(self, spark):
        rows = [
            (0, "a a b"), (1, "a c"), (4, "b d"), (5, "c"),  # gap at 2, 3
        ]
        return spark.createDataFrame(rows, "period int, text string")

    def test_densified_gap_day_equals_direct_window_sketch(self, spark):
        """THE densify law: a calendar-gap period's cells equal the
        direct sketch of the window's raw rows — including gap periods
        the observed-period mode would drop entirely."""
        from spear_spark.operators.sketch import (
            cm_rolling,
            count_min_sketch,
            count_min_sketch_by,
        )

        df = self._corpus(spark)
        daily = count_min_sketch_by(df, "period", "text")
        rolled = cm_rolling(daily, window=3, densify=True).collect()
        periods = sorted({r.period for r in rolled})
        assert periods == [0, 1, 2, 3, 4, 5]  # gap days 2 and 3 present
        for p in periods:
            got = {(r.row, r.bucket): r.cnt for r in rolled if r.period == p}
            direct = {
                (r.row, r.bucket): r.cnt
                for r in count_min_sketch(
                    df.filter((F.col("period") > p - 3) & (F.col("period") <= p)),
                    "text",
                ).collect()
            }
            assert got == direct, f"period {p}"

    def test_densify_superset_of_observed_mode(self, spark):
        """Densified output restricted to observed periods equals the
        default mode exactly; on gapless input the two modes agree."""
        from spear_spark.operators.sketch import cm_rolling, count_min_sketch_by

        daily = count_min_sketch_by(self._corpus(spark), "period", "text")
        dense = cm_rolling(daily, window=3, densify=True).collect()
        sparse = cm_rolling(daily, window=3).collect()
        observed = {0, 1, 4, 5}
        assert sorted(t for t in map(tuple, dense) if t[0] in observed) == sorted(
            map(tuple, sparse)
        )
        gapless = self._corpus(spark).withColumn(
            "period", F.when(F.col("period") > 1, F.col("period") - 2).otherwise(F.col("period"))
        )
        d2 = count_min_sketch_by(gapless, "period", "text")
        assert sorted(map(tuple, cm_rolling(d2, 2, densify=True).collect())) == sorted(
            map(tuple, cm_rolling(d2, 2).collect())
        )

    def test_hll_densified_distinct_matches_direct(self, spark):
        """hll_rolling_distinct(densify=True) on a gap day equals the
        estimate over the window's raw keys."""
        from spear_spark.operators.sketch import (
            hll_distinct,
            hll_register_table_by,
            hll_rolling_distinct,
        )

        rows = [(0, "u1"), (0, "u2"), (1, "u2"), (4, "u3"), (4, "u1")]
        df = spark.createDataFrame(rows, "period int, k string")
        daily = hll_register_table_by(df, "period", F.col("k"))
        dense = {r.period: r.est_distinct
                 for r in hll_rolling_distinct(daily, window=3, densify=True).collect()}
        assert set(dense) == {0, 1, 2, 3, 4}  # gap days 2, 3 emitted
        for p in dense:
            win = df.filter((F.col("period") > p - 3) & (F.col("period") <= p))
            direct = hll_distinct(win, F.col("k")).collect()[0][0]
            assert dense[p] == direct, f"period {p}"


class TestNgramNovelty:
    def test_first_doc_fully_novel_and_copy_zero(self, spark):
        """The planted laws: the first doc in id order is 100% novel;
        an exact copy appended under a LATER id is 0% novel; a doc of
        never-seen grams is 100% novel regardless of position."""
        from spear_spark.operators.dedup import ngram_novelty_profile

        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        fresh = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, fresh)], "doc_id int, text string"
        )
        out = {r.doc_id: r for r in
               ngram_novelty_profile(df, "text", "doc_id").collect()}
        assert out[1].novelty_frac == 1.0
        assert out[2].novelty_frac == 0.0
        assert out[3].novelty_frac == 1.0
        assert out[1].n_ngrams == 3 and out[3].n_ngrams == 2  # 10-7, 9-7

    def test_within_first_doc_repeats_count_as_novel(self, spark):
        """Every occurrence inside a gram's FIRST doc is novel — a doc
        that repeats its own fresh gram is still 100% novel (novelty is
        about the corpus prefix, not within-doc uniqueness)."""
        from spear_spark.operators.dedup import ngram_novelty_profile

        rep = "a b c d e f g h a b c d e f g h"
        out = ngram_novelty_profile(
            spark.createDataFrame([(7, rep)], "doc_id int, text string"),
            "text", "doc_id",
        ).collect()
        assert len(out) == 1 and out[0].novelty_frac == 1.0

    def test_n_ngrams_agrees_with_repeated_profile(self, spark, sf_dir):
        """Both profiles count the same positional 8-gram universe."""
        from spear_spark.operators.dedup import (
            ngram_novelty_profile,
            repeated_ngram_profile,
        )

        docs = load_table(spark, sf_dir, "documents").limit(60)
        a = {r.doc_id: r.n_ngrams for r in
             ngram_novelty_profile(docs, "text", "doc_id").collect()}
        b = {r.doc_id: r.n_ngrams for r in
             repeated_ngram_profile(docs, "text", "doc_id").collect()}
        assert a == b


class TestGroupLexicalCosine:
    def test_hand_computed_matrix(self, spark):
        from math import sqrt

        from spear_spark.operators.relevance import group_lexical_cosine

        df = spark.createDataFrame(
            [("a", "t1 t1 t2"), ("b", "t1 t2 t2"), ("c", "zz")],
            "g string, text string",
        )
        out = {(r.group_a, r.group_b): r.cos_sim
               for r in group_lexical_cosine(df, "g", "text").collect()}
        # a = (2,1), b = (1,2): cos = (2+2)/5 = 0.8
        assert out[("a", "b")] == round(4 / (sqrt(5.0) * sqrt(5.0)), 6) == 0.8
        assert out[("a", "c")] == 0.0  # disjoint pair still emitted
        assert out[("b", "c")] == 0.0
        assert len(out) == 3  # complete C(3,2) matrix

    def test_identical_distributions_score_one(self, spark):
        from spear_spark.operators.relevance import group_lexical_cosine

        df = spark.createDataFrame(
            [("a", "x y z"), ("b", "x y z"), ("b", "x y z")],
            "g string, text string",
        )
        out = group_lexical_cosine(df, "g", "text").collect()
        assert len(out) == 1 and out[0].cos_sim == 1.0

    def test_scale_invariance(self, spark):
        """Cosine sees direction, not mass: doubling one group's counts
        leaves the matrix unchanged."""
        from spear_spark.operators.relevance import group_lexical_cosine

        base = [("a", "t1 t1 t2 t3"), ("b", "t1 t2 t2")]
        df1 = spark.createDataFrame(base, "g string, text string")
        df2 = spark.createDataFrame(base + [("a", "t1 t1 t2 t3")],
                                    "g string, text string")
        m1 = {(r.group_a, r.group_b): r.cos_sim
              for r in group_lexical_cosine(df1, "g", "text").collect()}
        m2 = {(r.group_a, r.group_b): r.cos_sim
              for r in group_lexical_cosine(df2, "g", "text").collect()}
        assert m1 == m2


class TestMaxDupSpan:
    def test_planted_shared_paragraph_measures_its_length(self, spark):
        """Two docs embed the same 12-token paragraph in otherwise
        unique text: each reports max_dup_span == 12 (the island over
        the paragraph's 12-8+1 = 5 positions covers exactly its
        tokens), one island each."""
        from spear_spark.operators.dedup import max_dup_span

        para = " ".join(f"p{i}" for i in range(12))
        a = "a1 a2 a3 a4 a5 a6 a7 a8 a9 " + para + " a10 a11 a12 a13 a14 a15 a16 a17"
        b = "b1 b2 b3 b4 b5 b6 b7 b8 b9 " + para + " b10 b11 b12 b13 b14 b15 b16 b17"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9")],
            "doc_id int, text string",
        )
        out = {r.doc_id: r for r in max_dup_span(df, "text", "doc_id").collect()}
        assert set(out) == {1, 2}  # the clean doc emits nothing
        assert out[1].max_dup_span == 12 and out[2].max_dup_span == 12
        assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1

    def test_within_doc_repetition_counts(self, spark):
        """A doc repeating its own 8-gram is self-duplicated — the
        corpus-wide >= 2 rule counts multiplicity, matching p85."""
        from spear_spark.operators.dedup import max_dup_span

        block = "r1 r2 r3 r4 r5 r6 r7 r8"
        text = block + " m1 m2 m3 m4 m5 m6 m7 m8 m9 " + block
        out = max_dup_span(
            spark.createDataFrame([(9, text)], "doc_id int, text string"),
            "text", "doc_id",
        ).collect()
        assert len(out) == 1
        assert out[0].max_dup_span == 8 and out[0].n_dup_spans == 2

    def test_span_set_consistent_with_dup_positions(self, spark, sf_dir):
        """On real data: each doc's island count and max length must be
        reproducible from repeated_ngram_profile's universe — docs with
        n_dup == 0 are absent, docs with n_dup > 0 present, and
        max_dup_span is between n and the doc's token count."""
        from spear_spark.operators.dedup import max_dup_span, repeated_ngram_profile

        docs = load_table(spark, sf_dir, "documents").limit(80)
        spans = {r.doc_id: r for r in max_dup_span(docs, "text", "doc_id").collect()}
        prof = {r.doc_id: r for r in
                repeated_ngram_profile(docs, "text", "doc_id").collect()}
        for d, r in prof.items():
            assert (d in spans) == (r.n_dup > 0), d
        for d, s in spans.items():
            assert 8 <= s.max_dup_span <= prof[d].n_ngrams + 7, d


class TestGroupEcdf:
    def test_matches_direct_definition(self, spark):
        """ecdf(g, v) == P(X <= v) within group, inclusive; last value
        of each group closes at exactly 1.0; cum_n is monotone."""
        from spear_spark.operators.stats import group_ecdf

        rows = [("a", v) for v in [1, 1, 2, 5, 5, 5, 9]] + [("b", v) for v in [3, 4]]
        df = spark.createDataFrame(rows, "g string, v int")
        out = sorted(group_ecdf(df, "v", ["g"]).collect(),
                     key=lambda r: (r.g, r.v))
        data = {"a": [1, 1, 2, 5, 5, 5, 9], "b": [3, 4]}
        for r in out:
            vals = data[r.g]
            assert r.cum_n == sum(1 for x in vals if x <= r.v)
            assert r.ecdf == round(r.cum_n / len(vals), 6)
        for g in data:
            grp = [r for r in out if r.g == g]
            assert grp[-1].ecdf == 1.0
            assert all(a.cum_n < b.cum_n for a, b in zip(grp, grp[1:]))

    def test_collapses_rows_before_the_window(self, spark, sf_dir):
        """The scale contract: the cumulative window runs over the
        per-group DISTINCT-value relation, so output rows = distinct
        (group, value) pairs, not input rows; and the plan's aggregate
        is two-phase below the window."""
        from spear_spark.operators.stats import group_ecdf
        from spear_spark.plans import executed_plan, has_partial_aggregation

        docs = load_table(spark, sf_dir, "documents")
        out = group_ecdf(docs, "n_chars", ["lang"])
        distinct = docs.select("lang", "n_chars").distinct().count()
        assert out.count() == distinct
        plan = executed_plan(out)
        assert has_partial_aggregation(plan)


class TestTrainingOrder:
    def test_positions_are_a_permutation(self, spark, sf_dir):
        from spear_spark.operators.ids import training_order

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n = docs.count()
        pos = [r.position for r in training_order(spark, docs, "doc_id").collect()]
        assert sorted(pos) == list(range(1, n + 1))

    def test_matches_single_window_row_number(self, spark):
        """The bucket-parallel rank must equal the one-task
        ROW_NUMBER() OVER (ORDER BY shuffle_key, id) it replaces."""
        from pyspark.sql.window import Window as W

        from spear_spark.operators.ids import training_order

        df = spark.createDataFrame([(i,) for i in range(97)], "doc_id int")
        out = training_order(spark, df, "doc_id", seed=23)
        direct = out.withColumn(
            "ref", F.row_number().over(W.orderBy("shuffle_key", "doc_id"))
        )
        assert direct.filter(F.col("position") != F.col("ref")).count() == 0

    def test_bucket_count_invariance(self, spark):
        """The schedule is a pure function of (ids, seed): n_buckets is
        a parallelism knob, never a semantics knob."""
        from spear_spark.operators.ids import training_order

        df = spark.createDataFrame([(i * 7 % 211,) for i in range(211)], "doc_id int")
        a = {(r.doc_id, r.position)
             for r in training_order(spark, df, "doc_id", n_buckets=256).collect()}
        b = {(r.doc_id, r.position)
             for r in training_order(spark, df, "doc_id", n_buckets=16).collect()}
        assert a == b

    def test_partitioning_invariance(self, spark):
        from spear_spark.operators.ids import training_order

        df = spark.createDataFrame([(i,) for i in range(150)], "doc_id int")
        a = {(r.doc_id, r.position)
             for r in training_order(spark, df, "doc_id").collect()}
        b = {(r.doc_id, r.position)
             for r in training_order(spark, df.repartition(13), "doc_id").collect()}
        assert a == b

    def test_different_seed_different_epoch_same_set(self, spark):
        from spear_spark.operators.ids import training_order

        df = spark.createDataFrame([(i,) for i in range(80)], "doc_id int")
        e1 = [r.doc_id for r in
              training_order(spark, df, "doc_id", seed=1).orderBy("position").collect()]
        e2 = [r.doc_id for r in
              training_order(spark, df, "doc_id", seed=2).orderBy("position").collect()]
        assert sorted(e1) == sorted(e2) and e1 != e2

    def test_grouped_ranks_cover_each_group(self, spark, sf_dir):
        from spear_spark.operators.ids import seeded_shuffle_ranks

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        out = seeded_shuffle_ranks(spark, docs, "doc_id", ("source",))
        sizes = {r.source: r.cnt for r in
                 docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        got = {}
        for r in out.collect():
            got.setdefault(r.source, []).append(r.rank)
        assert set(got) == set(sizes)
        for s, ranks in got.items():
            assert sorted(ranks) == list(range(1, sizes[s] + 1))

    def test_rejects_non_power_of_two_buckets(self, spark):
        import pytest as _pytest

        from spear_spark.operators.ids import training_order

        df = spark.createDataFrame([(1,)], "doc_id int")
        with _pytest.raises(ValueError, match="power of two"):
            training_order(spark, df, "doc_id", n_buckets=100)


class TestMixSchedule:
    def test_prefix_proportions_track_weights(self, spark):
        """Stride scheduling's contract: after any whole number of
        cycles, each group's appearance count is proportional to its
        weight (exactly, when groups are large enough)."""
        from spear_spark.operators.sampling import mix_schedule

        rows = [(i, f"g{i % 3}") for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id int, g string")
        weights = {"g0": 1, "g1": 2, "g2": 3}
        out = (mix_schedule(spark, df, "doc_id", "g", weights)
               .orderBy("sched_key", "g", "src_rank").collect())
        # lcm = 6; one cycle of sched_key <= 6k emits k g0, 2k g1, 3k g2
        from collections import Counter

        for k in (6, 30, 60):
            c = Counter(r.g for r in out if r.sched_key <= k)
            assert c["g0"] * 2 == c["g1"] and c["g0"] * 3 == c["g2"], (k, c)

    def test_equal_weights_reduce_to_round_robin(self, spark):
        from spear_spark.operators.sampling import mix_schedule

        rows = [(i, f"g{i % 2}") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id int, g string")
        out = (mix_schedule(spark, df, "doc_id", "g", {"g0": 1, "g1": 1})
               .orderBy("sched_key", "g").collect())
        # alternating pairs: every consecutive block of 2 holds both groups
        for i in range(0, len(out), 2):
            assert {out[i].g, out[i + 1].g} == {"g0", "g1"}

    def test_deterministic_across_partitioning(self, spark):
        from spear_spark.operators.sampling import mix_schedule

        rows = [(i, f"g{i % 4}") for i in range(120)]
        df = spark.createDataFrame(rows, "doc_id int, g string")
        w = {"g0": 1, "g1": 2, "g2": 3, "g3": 4}
        a = {tuple(r) for r in mix_schedule(spark, df, "doc_id", "g", w).collect()}
        b = {tuple(r) for r in
             mix_schedule(spark, df.repartition(11), "doc_id", "g", w).collect()}
        assert a == b

    def test_rejects_bad_weights(self, spark):
        import pytest as _pytest

        from spear_spark.operators.sampling import mix_schedule

        df = spark.createDataFrame([(1, "a")], "doc_id int, g string")
        with _pytest.raises(ValueError, match="positive integers"):
            mix_schedule(spark, df, "doc_id", "g", {"a": 0})
        with _pytest.raises(ValueError, match="positive integers"):
            mix_schedule(spark, df, "doc_id", "g", {"a": 1.5})
        with _pytest.raises(ValueError, match="lcm"):
            mix_schedule(spark, df, "doc_id", "g",
                         {"a": 2**19, "b": (2**19) - 1})


class TestDedupReport:
    def test_planted_exact_and_near_dups(self, spark):
        """src_a: 3 docs, one an exact copy (drops at stage 1) and one
        a near-dup of the survivor (drops at stage 2) -> keeps 1.
        src_b: 1 unique doc -> keeps 1."""
        from spear_spark.operators.dedup import dedup_report

        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        near = base + " extra"
        df = spark.createDataFrame(
            [(1, "src_a", base), (2, "src_a", base), (3, "src_a", near),
             (4, "src_b", "u1 u2 u3 u4 u5 u6 u7 u8")],
            "doc_id int, source string, text string",
        )
        out = {r.source: r for r in
               dedup_report(df, "text", "doc_id", "source").collect()}
        a, b = out["src_a"], out["src_b"]
        assert (a.n_docs, a.n_exact_kept, a.n_final_kept) == (3, 2, 1)
        assert (b.n_docs, b.n_exact_kept, b.n_final_kept) == (1, 1, 1)
        assert a.retention == round(1 / 3, 6) and b.retention == 1.0

    def test_cross_source_dup_charged_to_its_own_source(self, spark):
        """An exact copy living in src_b of a doc in src_a is dropped
        from src_b's tally — asymmetric retention shows WHERE the
        duplication lives."""
        from spear_spark.operators.dedup import dedup_report

        t = "x1 x2 x3 x4 x5 x6 x7 x8"
        df = spark.createDataFrame(
            [(1, "src_a", t), (2, "src_b", t)],
            "doc_id int, source string, text string",
        )
        out = {r.source: r for r in
               dedup_report(df, "text", "doc_id", "source").collect()}
        assert out["src_a"].n_final_kept == 1 and out["src_b"].n_final_kept == 0
        assert out["src_b"].retention == 0.0

    def test_stage_counts_monotone(self, spark, sf_dir):
        from spear_spark.operators.dedup import dedup_report

        docs = load_table(spark, sf_dir, "documents")
        for r in dedup_report(docs, "text", "doc_id", "source").collect():
            assert r.n_final_kept <= r.n_exact_kept <= r.n_docs

    def test_final_keeps_equal_cluster_count(self, spark, sf_dir):
        """Global law: sum(n_final_kept) == number of distinct
        clusters among exact survivors (each cluster keeps exactly
        one representative)."""
        from spear_spark.operators.dedup import (
            connected_components,
            dedup_report,
            ngram_jaccard_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        rep = dedup_report(docs, "text", "doc_id", "source")
        total_kept = rep.agg(F.sum("n_final_kept")).collect()[0][0]
        hashed = docs.select("doc_id", F.md5("text").alias("h"))
        surv = hashed.join(
            hashed.groupBy("h").agg(F.min("doc_id").alias("kid")), "h"
        ).filter(F.col("doc_id") == F.col("kid")).select("doc_id")
        surv_docs = docs.join(surv, "doc_id", "semi")
        pairs = ngram_jaccard_pairs(surv_docs, "text", "doc_id").filter(
            F.col("jaccard") >= 0.5
        )
        labels = connected_components(pairs)
        n_clustered = labels.select("cluster_id").distinct().count()
        n_singleton = surv_docs.join(labels, "doc_id", "anti").count()
        assert total_kept == n_clustered + n_singleton

    @staticmethod
    def _scrape_corpus(spark):
        """srcB is a scraping re-crawl of srcA: every page re-published
        with a long unique header PREPENDED, body verbatim.  The header
        dilutes whole-document n-gram Jaccard below 0.5 (header ≈ 1.5×
        body), while the body's CDC chunks re-align right after the
        prepend and match verbatim."""
        import random

        rnd = random.Random(3)
        vocab = [f"w{i}" for i in range(300)]
        rows = []
        for i in range(8):
            body = " ".join(rnd.choice(vocab) for _ in range(100))
            header = " ".join(rnd.choice(vocab) for _ in range(150))
            rows.append((2 * i, "srcA", body))
            rows.append((2 * i + 1, "srcB", header + " " + body))
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_chunk_grade_catches_scrape_jaccard_grade_misses(self, spark):
        """VERDICT r11 item 6: the planted-scrape asymmetric-retention
        law.  At Jaccard grade the header dilution keeps every srcB doc
        (J < 0.5); at chunk grade the verbatim body chunks cluster each
        scrape with its original and min-id keeps the srcA copy —
        asymmetric retention at chunk grade only."""
        from spear_spark.operators.dedup import dedup_report

        df = self._scrape_corpus(spark)
        jac = {r.source: r for r in
               dedup_report(df, "text", "doc_id", "source", threshold=0.5).collect()}
        chk = {r.source: r for r in
               dedup_report(df, "text", "doc_id", "source", chunk_grade=True).collect()}
        assert jac["srcB"].n_final_kept == 8 and jac["srcB"].retention == 1.0
        assert chk["srcA"].n_final_kept == 8 and chk["srcA"].retention == 1.0
        assert chk["srcB"].n_final_kept == 0 and chk["srcB"].retention == 0.0

    def test_chunk_shared_pairs_edges_and_df_cap(self, spark):
        """chunk_shared_pairs emits exactly the scrape pairs (each
        original with its re-crawl), and max_chunk_df silences a
        boilerplate chunk shared corpus-wide — the quadratic-fan-out
        guard, same contract as the shingle df cap."""
        from spear_spark.operators.dedup import chunk_shared_pairs

        df = self._scrape_corpus(spark)
        got = {(r.doc_a, r.doc_b)
               for r in chunk_shared_pairs(df, "text", "doc_id").collect()}
        assert got == {(2 * i, 2 * i + 1) for i in range(8)}
        # plant boilerplate: the same long license block in EVERY doc
        blk = " ".join(f"lic{j}" for j in range(40))
        boil = df.select(
            "doc_id", "source",
            F.concat(F.col("text"), F.lit(" " + blk)).alias("text"),
        )
        uncapped = chunk_shared_pairs(boil, "text", "doc_id")
        capped = chunk_shared_pairs(boil, "text", "doc_id", max_chunk_df=4)
        # boilerplate connects everything without the cap…
        assert uncapped.count() > len(got)
        # …and the cap restores exactly the true scrape pairs
        assert {(r.doc_a, r.doc_b) for r in capped.collect()} == got


class TestDistinctNgramStats:
    def test_hand_computed_example(self, spark):
        from spear_spark.operators.text import distinct_ngram_stats

        df = spark.createDataFrame(
            [("a", "t1 t2 t1 t2"), ("a", "t1 t1")],
            "g string, text string",
        )
        out = {r.n: r for r in
               distinct_ngram_stats(df, "text", "g").collect()}
        # unigrams: 6 positions, {t1, t2} distinct
        assert (out[1].total_ngrams, out[1].distinct_ngrams) == (6, 2)
        # bigrams: 3 + 1 positions, {t1 t2, t2 t1, t1 t1}
        assert (out[2].total_ngrams, out[2].distinct_ngrams) == (4, 3)
        # trigrams: 2 + 0 positions, {t1 t2 t1, t2 t1 t2}
        assert (out[3].total_ngrams, out[3].distinct_ngrams) == (2, 2)
        assert out[1].distinct_ratio == round(2 / 6, 6)

    def test_distinct_bounded_by_total(self, spark, sf_dir):
        from spear_spark.operators.text import distinct_ngram_stats

        docs = load_table(spark, sf_dir, "documents")
        for r in distinct_ngram_stats(docs, "text", "source").collect():
            assert 1 <= r.distinct_ngrams <= r.total_ngrams

    def test_duplicating_the_corpus_halves_the_ratio_floor(self, spark):
        """Concatenating the corpus with itself doubles totals but
        keeps the distinct sets — the degeneracy signal the metric
        exists for."""
        from spear_spark.operators.text import distinct_ngram_stats

        rows = [("a", f"u{i} u{i+1} u{i+2} u{i+3}") for i in range(6)]
        df1 = spark.createDataFrame(rows, "g string, text string")
        df2 = spark.createDataFrame(rows + rows, "g string, text string")
        s1 = {r.n: r for r in distinct_ngram_stats(df1, "text", "g").collect()}
        s2 = {r.n: r for r in distinct_ngram_stats(df2, "text", "g").collect()}
        for n in (1, 2, 3):
            assert s2[n].total_ngrams == 2 * s1[n].total_ngrams
            assert s2[n].distinct_ngrams == s1[n].distinct_ngrams
            assert s2[n].distinct_ratio == round(
                s1[n].distinct_ratio / 2, 6
            ) or abs(s2[n].distinct_ratio - s1[n].distinct_ratio / 2) < 1e-6


class TestGroupJsDivergence:
    def test_identical_distributions_zero(self, spark):
        rows = [("a", "x y z x"), ("b", "x x y z")]
        df = spark.createDataFrame(rows, "g string, text string")
        from spear_spark.operators.relevance import group_js_divergence

        out = group_js_divergence(df, "g", "text").collect()
        assert len(out) == 1 and out[0].jsd == 0.0

    def test_disjoint_vocab_is_exactly_one(self, spark):
        rows = [("a", "x y z"), ("b", "u v w u")]
        df = spark.createDataFrame(rows, "g string, text string")
        from spear_spark.operators.relevance import group_js_divergence

        out = group_js_divergence(df, "g", "text").collect()
        assert out[0].jsd == 1.0

    def test_matches_union_vocabulary_reference(self, spark):
        """The intersection-only identity must equal the textbook
        union-vocabulary JSD computed independently in Python."""
        from math import log2

        from spear_spark.operators.relevance import group_js_divergence

        ta, tb = "x y z x w w", "x u y y y u u"
        df = spark.createDataFrame(
            [("a", ta), ("b", tb)], "g string, text string"
        )
        from collections import Counter

        ca, cb = Counter(ta.split()), Counter(tb.split())
        na, nb = sum(ca.values()), sum(cb.values())
        ref = 0.0
        for tok in set(ca) | set(cb):
            p, q = ca[tok] / na, cb[tok] / nb
            m = (p + q) / 2
            if p:
                ref += 0.5 * p * log2(p / m)
            if q:
                ref += 0.5 * q * log2(q / m)
        out = group_js_divergence(df, "g", "text").collect()[0]
        assert abs(out.jsd - ref) < 1e-6

    def test_full_matrix_bounded_on_corpus(self, spark, sf_dir):
        from spear_spark.operators.relevance import group_js_divergence

        docs = load_table(spark, sf_dir, "documents")
        n_src = docs.select("source").distinct().count()
        out = group_js_divergence(docs, "source", "text").collect()
        assert len(out) == n_src * (n_src - 1) // 2
        for r in out:
            assert 0.0 <= r.jsd <= 1.0
            assert r.group_a < r.group_b

    def test_partitioning_invariance(self, spark, sf_dir):
        from spear_spark.operators.relevance import group_js_divergence

        docs = load_table(spark, sf_dir, "documents")
        a = {(r.group_a, r.group_b): r.jsd
             for r in group_js_divergence(docs, "source", "text").collect()}
        b = {(r.group_a, r.group_b): r.jsd
             for r in group_js_divergence(
                 docs.repartition(17), "source", "text").collect()}
        assert a == b


def _token_counts(df, group_col):
    from spear_spark.operators.text import tokens

    return (
        df.select(F.col(group_col).alias("g"),
                  F.explode(tokens("text")).alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


class TestJsdVsReference:
    def test_self_reference_is_zero(self, spark):
        from spear_spark.operators.relevance import jsd_vs_reference

        rows = [("a", "x y z x"), ("b", "u v u")]
        counts = _token_counts(
            spark.createDataFrame(rows, "g string, text string"), "g"
        )
        ref = counts.filter(F.col("g") == "a").select("tok", "c")
        out = {r.g: r.jsd for r in
               jsd_vs_reference(counts, ["g"], ref).collect()}
        assert out["a"] == 0.0 and out["b"] == 1.0  # disjoint vocab → 1

    def test_matches_group_js_divergence_pairs(self, spark, sf_dir):
        """Scoring each source's counts against source S's counts must
        reproduce group_js_divergence's (source, S) matrix column —
        the drift readout IS the pairwise operator, refactored to a
        fixed reference side."""
        from spear_spark.operators.relevance import (
            group_js_divergence,
            jsd_vs_reference,
        )

        docs = load_table(spark, sf_dir, "documents")
        srcs = sorted(r.source for r in docs.select("source").distinct().collect())
        ref_src = srcs[-1]
        counts = _token_counts(docs, "source")
        ref = counts.filter(F.col("g") == ref_src).select("tok", "c")
        got = {r.g: r.jsd for r in
               jsd_vs_reference(counts, ["g"], ref).collect()}
        want = {(r.group_a, r.group_b): r.jsd
                for r in group_js_divergence(docs, "source", "text").collect()}
        assert got[ref_src] == 0.0
        for s in srcs[:-1]:
            assert got[s] == want[(s, ref_src)]

    def test_partitioning_invariance(self, spark, sf_dir):
        from spear_spark.operators.relevance import jsd_vs_reference

        docs = load_table(spark, sf_dir, "documents")
        counts = _token_counts(docs, "source")
        ref = counts.filter(F.col("g") == "src0").select("tok", "c")
        a = {r.g: r.jsd for r in
             jsd_vs_reference(counts, ["g"], ref).collect()}
        b = {r.g: r.jsd for r in
             jsd_vs_reference(counts.repartition(17), ["g"],
                              ref.repartition(5)).collect()}
        assert a == b


class TestCurriculumOrder:
    def test_positions_permutation_stage_sizes(self, spark, sf_dir):
        from spear_spark.operators.ids import curriculum_order

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        n = docs.count()
        out = curriculum_order(spark, docs, "doc_id", "n_chars", n_stages=4).collect()
        assert sorted(r.position for r in out) == list(range(1, n + 1))
        from collections import Counter

        sizes = Counter(r.stage for r in out)
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1

    def test_stages_ordered_by_difficulty(self, spark, sf_dir):
        """Stage boundaries must respect the score order: the hardest
        doc of stage i is never harder than the easiest of stage i+1."""
        from spear_spark.operators.ids import curriculum_order

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        out = curriculum_order(spark, docs, "doc_id", "n_chars", n_stages=4)
        joined = out.join(docs, "doc_id")
        stats = {
            r.stage: (r.mn, r.mx)
            for r in joined.groupBy("stage").agg(
                F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
            ).collect()
        }
        for s in (1, 2, 3):
            assert stats[s][1] <= stats[s + 1][0]

    def test_positions_are_stage_major_shuffled_within(self, spark):
        """Reference semantics: ROW_NUMBER over (stage, md5 key, id)."""
        from pyspark.sql.window import Window as W

        from spear_spark.operators.ids import curriculum_order

        rows = [(i, (i * 37) % 97) for i in range(130)]
        df = spark.createDataFrame(rows, "doc_id int, score int")
        out = curriculum_order(spark, df, "doc_id", "score", n_stages=5, seed=23)
        key = F.conv(
            F.substring(F.md5(F.concat(F.lit("23_"), F.col("doc_id").cast("string"))), 1, 15),
            16, 10,
        ).cast("bigint")
        ref = out.withColumn("_sk", key).withColumn(
            "ref", F.row_number().over(W.orderBy("stage", "_sk", "doc_id"))
        )
        assert ref.filter(F.col("position") != F.col("ref")).count() == 0

    def test_bucket_and_partitioning_invariance(self, spark):
        from spear_spark.operators.ids import curriculum_order

        rows = [(i, i % 11) for i in range(160)]
        df = spark.createDataFrame(rows, "doc_id int, score int")
        a = {(r.doc_id, r.stage, r.position)
             for r in curriculum_order(spark, df, "doc_id", "score").collect()}
        b = {(r.doc_id, r.stage, r.position)
             for r in curriculum_order(
                 spark, df.repartition(9), "doc_id", "score", n_buckets=16
             ).collect()}
        assert a == b

    def test_rejects_nulls_and_non_integral_scores(self, spark):
        import pytest as _pytest

        from spear_spark.operators.ids import curriculum_order

        df = spark.createDataFrame([(1, None), (2, 5)], "doc_id int, score int")
        with _pytest.raises(ValueError, match="non-null"):
            curriculum_order(spark, df, "doc_id", "score")
        df2 = spark.createDataFrame([(1, 0.5)], "doc_id int, score double")
        with _pytest.raises(ValueError, match="integral"):
            curriculum_order(spark, df2, "doc_id", "score")


class TestDupClusterProfile:
    def test_planted_cluster_sizes(self, spark):
        """Three identical docs + a duplicate pair + unique docs →
        exactly one size-3 cluster, one size-2, the rest singletons."""
        from spear_spark.operators.dedup import dup_cluster_profile

        tri = "alpha beta gamma delta epsilon"
        duo = "zeta eta theta iota kappa"
        rows = [(0, tri), (1, tri), (2, tri), (3, duo), (4, duo)] + [
            (5 + i, f"solo{i}a solo{i}b solo{i}c solo{i}d") for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        prof = {r.cluster_size: (r.n_clusters, r.n_docs)
                for r in dup_cluster_profile(df, "text", "doc_id").collect()}
        assert prof == {3: (1, 3), 2: (1, 2), 1: (4, 4)}

    def test_mass_conservation(self, spark, sf_dir):
        from spear_spark.operators.dedup import dup_cluster_profile

        docs = load_table(spark, sf_dir, "documents")
        rows = dup_cluster_profile(docs, "text", "doc_id").collect()
        assert sum(r.n_docs for r in rows) == docs.count()
        for r in rows:
            assert r.n_docs == r.cluster_size * r.n_clusters
        assert abs(sum(r.doc_frac for r in rows) - 1.0) < 1e-4

    def test_agrees_with_direct_cc_labels(self, spark, sf_dir):
        from collections import Counter

        from spear_spark.operators.dedup import (
            connected_components,
            dup_cluster_profile,
            ngram_jaccard_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id").filter(
            F.col("jaccard") >= 0.5
        )
        labels = {r.doc_id: r.cluster_id
                  for r in connected_components(pairs).collect()}
        clusters = Counter()
        for r in docs.select("doc_id").collect():
            clusters[labels.get(r.doc_id, r.doc_id)] += 1
        ref = Counter(clusters.values())
        got = {r.cluster_size: r.n_clusters
               for r in dup_cluster_profile(docs, "text", "doc_id").collect()}
        assert got == dict(ref)


class TestBpeLearn:
    """Laws for the full BPE trainer (bpe_learn/bpe_apply) — the
    vocabulary-construction loop p63's single pair-scan is one step of."""

    def _docs(self, spark, sf_dir):
        return (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 120)
            .select("doc_id", "text")
        )

    def test_first_merge_equals_pair_counts_top1(self, spark, sf_dir):
        """Cross-operator consistency: rank-0 of the learned table is
        exactly p63's top pair (same tokenizer, same count, same
        tie-break) — the trainer's first step IS the single-scan
        operator."""
        from spear_spark.operators.text import bpe_learn, bpe_pair_counts

        docs = self._docs(spark, sf_dir)
        [top] = bpe_pair_counts(docs, "text", top=1).collect()
        [first] = bpe_learn(docs, "text", n_merges=1, top_words=200_000).collect()
        assert first.merged == top.pair and first.cnt == top.cnt

    def test_winning_counts_never_increase(self, spark, sf_dir):
        """BPE invariant: each merge's winning count is <= the previous
        one (merging only removes occurrences of existing pairs; a new
        fused pair's count is bounded by the count that won the fuse)."""
        from spear_spark.operators.text import bpe_learn

        cnts = [r.cnt for r in bpe_learn(
            self._docs(spark, sf_dir), "text", n_merges=25, top_words=200_000
        ).orderBy("rank").collect()]
        assert len(cnts) == 25 and all(a >= b for a, b in zip(cnts, cnts[1:]))

    def test_apply_reproduces_learned_segmentation(self, spark, sf_dir):
        """Encoding the training corpus with the learned table yields
        exactly the symbol statistics the trainer tracked: the corpus-
        wide BPE-token counts equal an independent Python replay of the
        merges over the (word, freq) table — learn and apply agree."""
        from spear_spark.operators.text import (
            BPE_PATTERN,
            _merge_pair,
            bpe_apply,
            bpe_learn,
        )

        docs = self._docs(spark, sf_dir)
        merges = bpe_learn(docs, "text", n_merges=20, top_words=200_000)
        got = {
            r.s: r.n
            for r in bpe_apply(docs, "text", merges)
            .select(F.explode("bpe_tokens").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        wf = (
            docs.select(F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
            ).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("freq")).collect()
        )
        vocab = {tuple(r.w): int(r.freq) for r in wf}
        for m in merges.orderBy("rank").collect():
            vocab = {
                _merge_pair(syms, m.left, m.right): f for syms, f in vocab.items()
            }
        want: dict = {}
        for syms, f in vocab.items():
            for s in syms:
                want[s] = want.get(s, 0) + f
        assert got == want

    def test_replication_and_partition_invariance(self, spark, sf_dir):
        """Doubling the corpus doubles every winning count but changes
        no merge decision; repartitioning changes nothing at all."""
        from spear_spark.operators.text import bpe_learn

        docs = self._docs(spark, sf_dir)
        base = bpe_learn(docs, "text", n_merges=10, top_words=200_000).collect()
        rep = bpe_learn(
            docs.repartition(7), "text", n_merges=10, top_words=200_000
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, rep))
        dbl = {r.rank: r for r in bpe_learn(
            docs.unionAll(docs), "text", n_merges=10, top_words=200_000
        ).collect()}
        for r in base:
            d = dbl[r.rank]
            assert (d.left, d.right, d.merged) == (r.left, r.right, r.merged)
            assert d.cnt == 2 * r.cnt

    def test_balance_by_lowers_minority_fertility(self, spark):
        """VERDICT r11 item 5: the fertility-equalization law.  A
        corpus 10:1 skewed toward 'en' trains a vocabulary that
        short-changes 'de' (high de fertility); `balance_by='lang'`
        reweights each language to equal pre-token mass, and the
        balanced vocabulary STRICTLY lowers the disadvantaged group's
        fertility (while en's rises — the merges are a zero-sum
        budget)."""
        from spear_spark.operators.text import bpe_fertility, bpe_learn

        rows = [(i, "en", "the cat sat on the mat and the dog ran away")
                for i in range(60)]
        rows += [(60 + i, "de", "der hund lief schnell durch den wald heute")
                 for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        raw = bpe_learn(df, "text", n_merges=6)
        bal = bpe_learn(df, "text", n_merges=6, balance_by="lang")
        f_raw = {r.lang: r.fertility
                 for r in bpe_fertility(df, "text", "lang", raw).collect()}
        f_bal = {r.lang: r.fertility
                 for r in bpe_fertility(df, "text", "lang", bal).collect()}
        assert f_bal["de"] < f_raw["de"]
        assert f_bal["en"] >= f_raw["en"]

    def test_balance_by_is_identity_on_single_group(self, spark, sf_dir):
        """With one group the multiplier is exactly balance_scale for
        every word, so the merge DECISIONS are identical to the raw
        trainer and every winning count is scaled by balance_scale —
        the balancing is a pure reweighting, not a different trainer."""
        from spear_spark.operators.text import bpe_learn

        docs = self._docs(spark, sf_dir).withColumn("g", F.lit("all"))
        raw = bpe_learn(docs, "text", n_merges=8, top_words=200_000).collect()
        bal = bpe_learn(
            docs, "text", n_merges=8, top_words=200_000,
            balance_by="g", balance_scale=1000,
        ).collect()
        assert [(r.rank, r.left, r.right, r.merged) for r in raw] == [
            (r.rank, r.left, r.right, r.merged) for r in bal
        ]
        assert all(b.cnt == 1000 * r.cnt for r, b in zip(raw, bal))

    def test_balance_by_validation_and_null_groups(self, spark):
        import pytest as _pytest

        from spear_spark.operators.text import bpe_learn

        df = spark.createDataFrame(
            [(1, "a", "aa bb aa"), (2, None, "zz zz zz zz")],
            "doc_id long, g string, text string",
        )
        with _pytest.raises(ValueError, match="balance_scale"):
            bpe_learn(df, "text", 2, balance_by="g", balance_scale=0)
        # NULL-group rows contribute nothing to a balanced vocabulary
        merges = bpe_learn(df, "text", 1, balance_by="g").collect()
        assert [(m.left, m.right) for m in merges] == [("a", "a")]


class TestSemDedup:
    """Laws for the SemDeDup composition (Abbas et al. 2023): cluster-
    blocked exact-cosine dedup over embeddings."""

    def _emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )

    def test_drops_are_sound_subset_of_brute_force(self, spark, sf_dir):
        """Every SemDeDup drop is exactly verified, so the drop set is
        a subset of the brute-force all-pairs threshold drops (cluster
        blocking can only MISS boundary pairs, never invent one), and
        each drop's keep_id is one of the brute-force partners."""
        from spear_spark.operators.dedup import near_dedup_embedding, semdedup
        from spear_spark.operators.similarity import cosine

        emb = self._emb(spark, sf_dir)
        got = {r.drop_id: r.keep_id for r in semdedup(
            emb, "embedding", "vec_id", k=8, threshold=0.3).collect()}
        brute = near_dedup_embedding(
            emb.withColumn("_one", F.lit(1)), "embedding", "vec_id", "_one",
            threshold=0.3,
        ).collect()
        brute_drops = {r.drop_id for r in brute}
        assert got, "0.3 on the synthetic tail should yield pairs"
        assert set(got) <= brute_drops
        # each kept partner must genuinely clear the threshold
        a = emb.selectExpr("vec_id as ida", "embedding as va")
        b = emb.selectExpr("vec_id as idb", "embedding as vb")
        pairs = {(r.ida, r.idb) for r in a.crossJoin(b).select(
            "ida", "idb", cosine(F.col("va"), F.col("vb")).alias("c")
        ).filter(F.col("c") >= 0.3).collect()}
        assert all((keep, drop) in pairs for drop, keep in got.items())

    def test_vectorized_verify_drop_set_equals_fold(self, spark, sf_dir):
        """The gram-matrix verify (one Arrow/BLAS matmul per block) is
        drop-set-equal to the pure-Column cosine fold — same 6dp
        rounding, same ascending-id first-hit min-keep rule — across
        thresholds on real embeddings, both through the raw
        near_dedup_embedding surface (label blocks) and end-to-end
        through semdedup (IVF cells, where vectorized is the
        default)."""
        from spear_spark.operators.dedup import near_dedup_embedding, semdedup
        from spear_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label"
        )
        for th in (0.2, 0.35, 0.9):
            fold = sorted(
                (r.drop_id, r.keep_id)
                for r in near_dedup_embedding(
                    emb, "embedding", "vec_id", "label", threshold=th
                ).collect()
            )
            vec = sorted(
                (r.drop_id, r.keep_id)
                for r in near_dedup_embedding(
                    emb, "embedding", "vec_id", "label", threshold=th,
                    impl="vectorized",
                ).collect()
            )
            assert fold == vec
        sem_fold = sorted(
            (r.drop_id, r.keep_id)
            for r in semdedup(
                emb, "embedding", "vec_id", k=8, threshold=0.3, verify="fold"
            ).collect()
        )
        sem_vec = sorted(
            (r.drop_id, r.keep_id)
            for r in semdedup(
                emb, "embedding", "vec_id", k=8, threshold=0.3
            ).collect()
        )
        assert sem_fold and sem_fold == sem_vec

    def test_vectorized_matches_fold_on_duplicate_and_null_degenerates(
        self, spark, sf_dir
    ):
        """ADVICE r13: the gram verify's pair mask must match the fold
        path BIT-FOR-BIT on degenerate ids.  Duplicate id values: the
        fold's strict ``ida < idb`` join emits nothing for an equal-id
        pair, so the vectorized id-inequality mask must too (an index
        mask would emit a drop_id == keep_id self-pair).  NULL ids:
        the vectorized path raises its descriptive contract error
        rather than an opaque object-dtype argsort TypeError."""
        import pytest as _pytest

        from spear_spark.operators.dedup import near_dedup_embedding

        emb = self._emb(spark, sf_dir).withColumn("_one", F.lit(1))
        # two rows share one id AND one vector (cosine 1.0 >= any thr),
        # plus the real corpus on top
        v0 = emb.orderBy("vec_id").limit(1).select("embedding").collect()[0][0]
        dup = spark.createDataFrame(
            [(999_999, list(v0), 1), (999_999, list(v0), 1)],
            "vec_id long, embedding array<float>, _one int",
        )
        both = emb.unionByName(dup)
        for impl in ("fold", "vectorized"):
            got = sorted(
                (r.drop_id, r.keep_id)
                for r in near_dedup_embedding(
                    both, "embedding", "vec_id", "_one", threshold=0.3,
                    impl=impl,
                ).collect()
            )
            assert all(d != k for d, k in got), (impl, "self-pair emitted")
            if impl == "fold":
                fold = got
        assert got == fold  # identical drop sets on the degenerate corpus

        null_ids = spark.createDataFrame(
            [(None, list(v0), 1), (7, list(v0), 1), (8, list(v0), 1)],
            "vec_id long, embedding array<float>, _one int",
        )
        with _pytest.raises(Exception, match="NULL id"):
            near_dedup_embedding(
                null_ids, "embedding", "vec_id", "_one", threshold=0.3,
                impl="vectorized",
            ).collect()

    def test_vectorized_chunked_paths_equal_unchunked(self, spark, sf_dir):
        """The row-chunked BLAS paths (gram verify and IVF assignment)
        are only exercised past ~4.5k rows per block at the default
        ~160MB budget, so force a tiny ``chunk_budget`` and pin that
        multi-chunk results equal single-chunk ones — the triangle
        mask with GLOBAL row offsets and the per-chunk argmin merge
        are the error-prone parts."""
        from spear_spark.operators.dedup import (
            _near_dedup_embedding_vectorized,
            near_dedup_embedding,
        )
        from spear_spark.operators.similarity import _ivf_assign_vectorized

        emb = self._emb(spark, sf_dir).withColumn("_one", F.lit(1))
        for th in (0.2, 0.35):
            one = sorted(
                (r.drop_id, r.keep_id)
                for r in near_dedup_embedding(
                    emb, "embedding", "vec_id", "_one", threshold=th,
                    impl="vectorized",
                ).collect()
            )
            # budget of 64 doubles -> step of 64//n = 1 row per chunk
            many = sorted(
                (r.drop_id, r.keep_id)
                for r in _near_dedup_embedding_vectorized(
                    emb, "embedding", "vec_id", "_one", th, chunk_budget=64
                ).collect()
            )
            assert one and one == many
        rows = emb.orderBy("vec_id").limit(40).select("embedding").collect()
        cents = [list(map(float, r.embedding)) for r in rows]
        one = sorted(
            (r.vec_id, r["_cell"])
            for r in _ivf_assign_vectorized(emb, "embedding", cents).collect()
        )
        many = sorted(
            (r.vec_id, r["_cell"])
            for r in _ivf_assign_vectorized(
                emb, "embedding", cents, chunk_budget=40
            ).collect()
        )
        assert one == many

    def test_planted_exact_duplicates_always_drop(self, spark, sf_dir):
        """Identical vectors assign to identical cells (deterministic
        argmin), so an exact duplicate can never escape across a
        cluster boundary — every planted copy is dropped with its
        original (the lower id) as keep."""
        from spear_spark.operators.dedup import semdedup

        emb = self._emb(spark, sf_dir)
        copies = emb.filter(F.col("vec_id") % 50 == 3).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        planted = {r.vec_id for r in copies.select("vec_id").collect()}
        out = {r.drop_id: r.keep_id for r in semdedup(
            emb.unionByName(copies), "embedding", "vec_id",
            k=8, threshold=0.999).collect()}
        assert planted <= set(out)
        assert all(out[c] == c - 10_000 for c in planted)

    def test_deterministic_across_runs_and_partitioning(self, spark, sf_dir):
        from spear_spark.operators.dedup import semdedup

        emb = self._emb(spark, sf_dir)
        one = sorted(map(tuple, semdedup(
            emb, "embedding", "vec_id", k=8, threshold=0.3).collect()))
        two = sorted(map(tuple, semdedup(
            emb.repartition(11), "embedding", "vec_id", k=8,
            threshold=0.3).collect()))
        assert one == two and one


class TestCapPerGroup:
    """Laws for the deterministic per-group cap (the per-host document
    cap): groupwise top-n under a total order."""

    def test_matches_python_groupwise_topn(self, spark, sf_dir):
        from spear_spark.operators.sampling import cap_per_group

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        out = cap_per_group(
            docs, ["lang"], 3, [F.desc("n_chars"), F.col("doc_id")]
        ).collect()
        rows = docs.collect()
        by_lang: dict = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r)
        want = {
            (r.doc_id, r.lang, r.n_chars)
            for rs in by_lang.values()
            for r in sorted(rs, key=lambda r: (-r.n_chars, r.doc_id))[:3]
        }
        assert {(r.doc_id, r.lang, r.n_chars) for r in out} == want
        assert len(out) == len(want)  # no duplicate survivors

    def test_partitioning_invariant_under_total_order(self, spark, sf_dir):
        from spear_spark.operators.sampling import cap_per_group

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        args = (["source"], 5, [F.desc("n_chars"), F.col("doc_id")])
        a = sorted(map(tuple, cap_per_group(docs, *args).collect()))
        b = sorted(map(tuple, cap_per_group(docs.repartition(13), *args).collect()))
        assert a == b


class TestBpeMultibyte:
    """Cross-engine tokenizer exactness on non-ASCII input: bpe_learn
    tokenizes JVM-side (regexp_extract_all, Java Pattern \\s = ASCII
    whitespace) while bpe_apply re-tokenizes in Python (re.ASCII pins
    \\s/[a-z] to the same ASCII classes).  These laws plant a corpus of
    multibyte edge cases so any drift between the two tokenizers —
    or between the two engines' lower() — fails loudly instead of
    silently desynchronizing trainer and encoder."""

    TEXTS = [
        "héllo wörld ünïcode ÿ café naïve",
        "İstanbul STRASSE ß ligature ﬁne",  # case-fold edges: İ → i+U+0307, ß stays
        "nbsp\u00a0separated\u00a0words",  # NBSP is NOT \s in either engine
        "中文 字符 mixed with ascii tokens",
        "emoji 🙂 and combining e\u0301 accents",  # non-BMP + combining mark
        "tabs\tand\nnewlines\u000bvertical",  # VT IS \s in both engines
        "digits 123 mixed42tokens 7x7",
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "doc_id long, text string"
        )

    def test_jvm_and_python_tokenizers_agree(self, spark):
        """The (word, freq) table the JVM trainer aggregates equals the
        Python encoder's pre-tokenization word counts exactly — the
        single contract both BPE surfaces rest on."""
        import re
        from collections import Counter

        from spear_spark.operators.text import BPE_PATTERN

        got = {
            (r.w, r.freq)
            for r in self._docs(spark)
            .select(
                F.explode(
                    F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
                ).alias("w")
            )
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .collect()
        }
        pat = re.compile(BPE_PATTERN, re.ASCII)
        want = Counter(w for t in self.TEXTS for w in pat.findall(t.lower()))
        assert got == set(want.items())

    def test_learn_apply_agreement_on_utf8_corpus(self, spark):
        """End-to-end on the multibyte corpus: encoding with the
        JVM-learned table yields exactly the symbol statistics of a
        Python replay whose word table comes from the PYTHON tokenizer
        — cross-engine by construction, so either tokenizer drifting
        breaks the equality."""
        import re
        from collections import Counter

        from spear_spark.operators.text import (
            BPE_PATTERN,
            _merge_pair,
            bpe_apply,
            bpe_learn,
        )

        docs = self._docs(spark)
        merges = bpe_learn(docs, "text", n_merges=10, top_words=200_000)
        got = {
            r.s: r.n
            for r in bpe_apply(docs, "text", merges)
            .select(F.explode("bpe_tokens").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        pat = re.compile(BPE_PATTERN, re.ASCII)
        vocab = {
            tuple(w): f
            for w, f in Counter(
                w for t in self.TEXTS for w in pat.findall(t.lower())
            ).items()
        }
        for m in merges.orderBy("rank").collect():
            vocab = {
                _merge_pair(syms, m.left, m.right): f for syms, f in vocab.items()
            }
        want: dict = {}
        for syms, f in vocab.items():
            for s in syms:
                want[s] = want.get(s, 0) + f
        assert got == want


class TestGopherRules:
    """Laws for the Gopher/MassiveText quality-filter rule table (Rae
    et al. 2021 §A.1.1): each rule trips on a planted violator and the
    metrics equal an independent Python replay."""

    DOCS = [
        # (id, text, violated_rule_or_None)
        (0, "the quick brown foxes jumped over lazy dogs and that have been "
            "with more text " * 5, None),
        (1, "too short doc the have", "words_ok"),  # 5 words < min
        (2, ("a b c d " * 20) + "the have", "word_len_ok"),  # mean len ~1
        (3, ("extraordinarily incomprehensible " * 15) + "the have",
         "word_len_ok"),  # mean len > 10
        (4, ("spam # ### word ... more ..... the have " * 10), "symbol_ok"),
        (5, ("1234 5678 9 ## 00 " * 12) + "the have 42 17 99 31 8",
         None),  # digits: alpha frac low — see below
        (6, ("plain words without stop terms here " * 10), "stopword_ok"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t, _ in self.DOCS], "doc_id long, text string"
        )

    def test_rules_match_python_replay(self, spark):
        from spear_spark.operators.text import GOPHER_STOPWORDS, gopher_rules

        got = {
            r.doc_id: r.asDict()
            for r in gopher_rules(
                self._df(spark), "text", "doc_id", min_words=20,
                min_alpha_word_frac=0.5,
            ).collect()
        }
        for i, t, _ in self.DOCS:
            toks = t.strip().lower().split()
            n = len(toks)
            mean_len = round(sum(map(len, toks)) / n, 6)
            sym = round(
                (t.count("#") + (len(t) - len(t.replace("...", ""))) / 3) / n, 6
            )
            alpha = round(
                sum(1 for w in toks if any("a" <= c <= "z" for c in w)) / n, 6
            )
            stop = len(set(toks) & set(GOPHER_STOPWORDS))
            g = got[i]
            assert g["n_words"] == n
            assert g["mean_word_len"] == mean_len
            assert g["symbol_ratio"] == sym
            assert g["alpha_word_frac"] == alpha
            assert g["stopword_hits"] == stop
            assert g["words_ok"] == (20 <= n <= 100_000)
            assert g["word_len_ok"] == (3.0 <= mean_len <= 10.0)
            assert g["symbol_ok"] == (sym <= 0.1)
            assert g["alpha_ok"] == (alpha >= 0.5)
            assert g["stopword_ok"] == (stop >= 2)
            assert g["keep"] == all(
                g[k] for k in
                ("words_ok", "word_len_ok", "symbol_ok", "alpha_ok", "stopword_ok")
            )

    def test_planted_violators_fail_their_rule(self, spark):
        from spear_spark.operators.text import gopher_rules

        got = {
            r.doc_id: r.asDict()
            for r in gopher_rules(
                self._df(spark), "text", "doc_id", min_words=20,
                min_alpha_word_frac=0.5,
            ).collect()
        }
        assert got[0]["keep"] is True
        for i, _, rule in self.DOCS:
            if rule is not None:
                assert got[i][rule] is False, (i, rule)
                assert got[i]["keep"] is False
        # doc 5: digit-heavy — alpha fraction must sit below the
        # default 0.8 even though the relaxed 0.5 run above passes it
        strict = {
            r.doc_id: r.alpha_ok
            for r in gopher_rules(
                self._df(spark), "text", "doc_id", min_words=20
            ).collect()
        }
        assert strict[5] is False

    def test_null_text_fails_every_rule_not_null(self, spark):
        """NULL text -> keep=false and every per-rule boolean=false (not
        NULL), so a consumer negating the flag (filter(~keep) for
        rejects) still sees the row — the round-10 ADVICE hole.  The
        raw metrics stay NULL (nothing to measure)."""
        from spear_spark.operators.text import gopher_rules

        df = spark.createDataFrame(
            [(0, "the words flow and that is fine with all of them here ok " * 3),
             (1, None)],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.asDict()
            for r in gopher_rules(df, "text", "doc_id", min_words=5).collect()
        }
        g = got[1]
        for flag in ("words_ok", "word_len_ok", "symbol_ok", "alpha_ok",
                     "stopword_ok", "keep"):
            assert g[flag] is False, flag
        for metric in ("n_words", "mean_word_len", "symbol_ratio",
                       "alpha_word_frac", "stopword_hits"):
            assert g[metric] is None, metric
        assert got[0]["keep"] is True
        # the negated-flag consumer sees exactly the NULL row + none lost
        rejects = gopher_rules(df, "text", "doc_id", min_words=5).filter(
            ~F.col("keep")
        )
        assert [r.doc_id for r in rejects.collect()] == [1]


class TestPsiVsReference:
    """Laws for the PSI drift monitor (stats.psi_vs_reference)."""

    def test_identical_distribution_is_exactly_zero(self, spark, sf_dir):
        from spear_spark.operators.stats import psi_vs_reference

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = psi_vs_reference(
            docs, docs, "n_chars", ["lang"], lo=0.0, hi=600.0, n_bins=24
        ).collect()
        # each group vs the pooled reference is NOT zero; a group vs
        # itself is: score each lang against a same-lang reference
        for lang in {r.lang for r in docs.select("lang").distinct().collect()}:
            sub = docs.filter(F.col("lang") == lang)
            [row] = psi_vs_reference(
                sub, sub, "n_chars", ["lang"], lo=0.0, hi=600.0, n_bins=24
            ).collect()
            assert row.psi == 0.0
        assert len(out) > 0  # pooled-reference scores exist for every lang

    def test_matches_python_replay(self, spark, sf_dir):
        import math

        from spear_spark.operators.stats import psi_vs_reference

        lo, hi, nb, eps = 0.0, 600.0, 24, 1e-6
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = docs.select("lang", "n_chars").collect()
        w = (hi - lo) / nb

        def bin_of(v):
            return min(max(int(math.floor((float(v) - lo) / w)), 0), nb - 1)

        ref: dict = {}
        per: dict = {}
        for r in rows:
            if r.n_chars is None:
                continue
            b = bin_of(r.n_chars)
            ref[b] = ref.get(b, 0) + 1
            per.setdefault(r.lang, {})[b] = per.setdefault(r.lang, {}).get(b, 0) + 1
        rn = sum(ref.values())
        want = {}
        for lang, cnts in per.items():
            gn = sum(cnts.values())
            psi = 0.0
            for b in range(nb):
                p = max(cnts.get(b, 0) / gn, eps)
                q = max(ref.get(b, 0) / rn, eps)
                psi += (p - q) * math.log(p / q)
            want[lang] = round(psi, 6)
        got = {
            r.lang: r.psi
            for r in psi_vs_reference(
                docs, docs, "n_chars", ["lang"], lo=lo, hi=hi, n_bins=nb
            ).collect()
        }
        for lang in want:
            assert abs(got[lang] - want[lang]) <= 1e-6, (lang, got[lang], want[lang])

    def test_replication_invariant_and_shift_detected(self, spark, sf_dir):
        from spear_spark.operators.stats import psi_vs_reference

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = {
            r.lang: r.psi
            for r in psi_vs_reference(
                docs, docs, "n_chars", ["lang"], 0.0, 600.0, 24
            ).collect()
        }
        docs10 = docs.withColumn(
            "rep", F.explode(F.array(*[F.lit(i) for i in range(10)]))
        ).drop("rep")
        rep = {
            r.lang: r.psi
            for r in psi_vs_reference(
                docs10, docs, "n_chars", ["lang"], 0.0, 600.0, 24
            ).collect()
        }
        assert rep == base  # shares are volume-invariant
        # planted shift: halve every length in one group -> big PSI
        shifted = docs.withColumn(
            "n_chars",
            F.when(F.col("lang") == "en", (F.col("n_chars") / 2).cast("long"))
            .otherwise(F.col("n_chars")),
        )
        moved = {
            r.lang: r.psi
            for r in psi_vs_reference(
                shifted, docs, "n_chars", ["lang"], 0.0, 600.0, 24
            ).collect()
        }
        assert moved["en"] > 0.25  # "shifted" per the standard rule of thumb
        assert moved["en"] > base.get("en", 0.0)

    def test_nan_values_are_dropped_not_binned(self, spark):
        """NaN values are dropped alongside NULLs (stats.finite_values),
        never silently clamped into bin 0 (the round-10 ADVICE hole:
        (NaN-lo)/w stays NaN, floor+cast yields NULL, greatest/least
        clamp it to 0).  A corpus polluted with NaNs must score exactly
        like the clean corpus, and identically on both sides."""
        from spear_spark.operators.stats import psi_vs_reference

        clean = spark.createDataFrame(
            [("a", float(v)) for v in (1, 2, 3, 10, 20, 450)],
            "g string, v double",
        )
        dirty = clean.unionByName(
            spark.createDataFrame(
                [("a", float("nan")), ("a", None), ("a", float("nan"))],
                "g string, v double",
            )
        )
        args = dict(value_col="v", group_cols=["g"], lo=0.0, hi=600.0, n_bins=24)
        [want] = psi_vs_reference(clean, clean, **args).collect()
        [got] = psi_vs_reference(dirty, dirty, **args).collect()
        assert (got.g, got.psi) == (want.g, want.psi) == ("a", 0.0)
        # asymmetric pollution too: dirty group vs clean reference
        [one_side] = psi_vs_reference(dirty, clean, **args).collect()
        assert one_side.psi == 0.0
        # integer-typed value columns still work (cast makes isnan total)
        ints = spark.createDataFrame(
            [("a", v) for v in (1, 2, 3)], "g string, v long"
        )
        [iz] = psi_vs_reference(ints, ints, **args).collect()
        assert iz.psi == 0.0


class TestKCenterCoreset:
    """Laws for greedy k-center selection (similarity.kcenter_coreset)."""

    def test_matches_python_replay(self, spark, sf_dir):
        from spear_spark.operators.similarity import kcenter_coreset

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        vecs = {
            int(r.vec_id): [float(x) for x in r.embedding] for r in emb.collect()
        }

        def d2(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += (x - y) * (x - y)
            return round(acc, 6)

        chosen = [min(vecs)]
        want = [(0, chosen[0], 0.0)]
        for r in range(1, 6):
            best = max(
                ((min(d2(v, vecs[c]) for c in chosen), -i), i)
                for i, v in vecs.items()
            )
            (dist, _), i = best
            chosen.append(i)
            want.append((r, i, dist))
        got = [
            (r.sel_round, r.vec_id, r.d2)
            for r in kcenter_coreset(emb, "embedding", "vec_id", k=6)
            .orderBy("sel_round")
            .collect()
        ]
        assert got == want

    def test_partition_invariance_and_outlier_first(self, spark, sf_dir):
        from spear_spark.operators.similarity import kcenter_coreset

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        base = kcenter_coreset(emb, "embedding", "vec_id", k=5).collect()
        rep = kcenter_coreset(
            emb.repartition(7), "embedding", "vec_id", k=5
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, rep))
        # plant one far outlier: it must be chosen at round 1
        far = emb.limit(1).select(
            F.lit(999_999).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(0.0) + F.lit(50.0)).alias(
                "embedding"
            ),
        )
        out = kcenter_coreset(
            emb.unionByName(far), "embedding", "vec_id", k=3
        ).orderBy("sel_round").collect()
        assert out[1].vec_id == 999_999

    def test_early_stop_on_duplicates(self, spark):
        from spear_spark.operators.similarity import kcenter_coreset

        df = spark.createDataFrame(
            [(i, [1.0, 2.0]) for i in range(10)], "vec_id long, embedding array<double>"
        )
        out = kcenter_coreset(df, "embedding", "vec_id", k=5).collect()
        assert len(out) == 1 and out[0].vec_id == 0


class TestDedupReportCustomId:
    def test_non_default_id_col_works_and_matches_doc_id_run(self, spark):
        """Regression for the round-9 advice finding: dedup_report
        joins the connected-components label table (fixed doc_id
        column) against the caller's id column — a non-default id_col
        must produce the identical report, not an AnalysisException."""
        from spear_spark.operators.dedup import dedup_report

        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
        rows = [(1, "src_a", base), (2, "src_a", base),
                (3, "src_a", base + " extra"),
                (4, "src_b", "u1 u2 u3 u4 u5 u6 u7 u8")]
        df = spark.createDataFrame(
            rows, "doc_id int, source string, text string"
        )
        want = sorted(
            map(tuple, dedup_report(df, "text", "doc_id", "source").collect())
        )
        renamed = df.withColumnRenamed("doc_id", "item_key")
        got = sorted(
            map(tuple, dedup_report(renamed, "text", "item_key", "source").collect())
        )
        assert got == want


class TestCanaryScan:
    def test_planted_canaries_found_exactly(self, spark):
        from spear_spark.operators.dedup import canary_scan

        guid = "canary:9f2a-bigbench-7c"
        df = spark.createDataFrame(
            [
                (1, f"normal text with {guid} embedded mid-document"),
                (2, "clean document nothing to see"),
                (3, f"two markers {guid} and EVAL-MARKER-X here"),
                (4, "case sensitivity: CANARY:9F2A-BIGBENCH-7C upper"),
                (5, "substring boundary canary:9f2a-bigbench is a prefix only"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.canary)
            for r in canary_scan(
                df, "text", "doc_id", [guid, "EVAL-MARKER-X"]
            ).collect()
        }
        assert got == {(1, guid), (3, guid), (3, "EVAL-MARKER-X")}

    def test_validates_inputs(self, spark):
        import pytest

        from spear_spark.operators.dedup import canary_scan

        df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with pytest.raises(ValueError, match="non-empty"):
            canary_scan(df, "text", "doc_id", [])
        with pytest.raises(ValueError, match="non-empty strings"):
            canary_scan(df, "text", "doc_id", ["ok", ""])

    def test_plan_is_exchange_free_and_python_free(self, spark, sf_dir):
        from spear_spark.operators.dedup import canary_scan
        from spear_spark.plans import exchange_record_counts, executed_plan

        docs = load_table(spark, sf_dir, "documents")
        out = canary_scan(docs, "text", "doc_id", ["the line", "zz-never"])
        plan = executed_plan(out)
        assert "EvalPython" not in plan and "InPandas" not in plan
        assert exchange_record_counts(out, run=False) == []


class TestKsVsReference:
    def test_self_is_exactly_zero(self, spark, sf_dir):
        from spear_spark.operators.stats import ks_vs_reference

        docs = load_table(spark, sf_dir, "documents")
        for lang in {r.lang for r in docs.select("lang").distinct().collect()}:
            sub = docs.filter(F.col("lang") == lang)
            [row] = ks_vs_reference(sub, sub, "n_chars", ["lang"]).collect()
            assert row.ks == 0.0

    def test_matches_python_replay(self, spark, sf_dir):
        from spear_spark.operators.stats import ks_vs_reference

        docs = load_table(spark, sf_dir, "documents")
        rows = [
            (r.lang, int(r.n_chars))
            for r in docs.select("lang", "n_chars").collect()
            if r.n_chars is not None
        ]
        ref = sorted(v for _, v in rows)
        n_ref = len(ref)
        import bisect

        def ecdf(sorted_vals, n, v):
            return bisect.bisect_right(sorted_vals, v) / n

        want = {}
        per: dict = {}
        for g, v in rows:
            per.setdefault(g, []).append(v)
        for g, vs in per.items():
            vs_sorted = sorted(vs)
            points = set(vs) | set(ref)
            ks = max(
                abs(ecdf(vs_sorted, len(vs), p) - ecdf(ref, n_ref, p))
                for p in points
            )
            want[g] = round(ks, 6)
        got = {
            r.lang: r.ks
            for r in ks_vs_reference(docs, docs, "n_chars", ["lang"]).collect()
        }
        for g in want:
            assert abs(got[g] - want[g]) <= 1e-6, (g, got[g], want[g])

    def test_replication_invariant_and_shift_detected(self, spark, sf_dir):
        from spear_spark.operators.stats import ks_vs_reference

        docs = load_table(spark, sf_dir, "documents")
        base = {
            r.lang: r.ks
            for r in ks_vs_reference(docs, docs, "n_chars", ["lang"]).collect()
        }
        docs10 = docs.withColumn(
            "rep", F.explode(F.array(*[F.lit(i) for i in range(10)]))
        ).drop("rep")
        rep = {
            r.lang: r.ks
            for r in ks_vs_reference(docs10, docs, "n_chars", ["lang"]).collect()
        }
        assert rep == base  # ECDFs are volume-invariant
        shifted = docs.withColumn(
            "n_chars",
            F.when(F.col("lang") == "en", F.col("n_chars") + 300).otherwise(
                F.col("n_chars")
            ),
        )
        moved = {
            r.lang: r.ks
            for r in ks_vs_reference(shifted, docs, "n_chars", ["lang"]).collect()
        }
        assert moved["en"] > 0.5  # a +300 shift moves most mass past the ref
        assert moved["en"] > base.get("en", 0.0)

    def test_unbounded_domain_fails_loudly(self, spark, sf_dir):
        """The bounded-domain contract is enforced (round-10 verdict
        nit): a reference whose distinct-value count exceeds
        max_ref_points raises a legible error inside the plan instead
        of silently single-tasking a data-sized window sort at scale;
        max_ref_points=None is the documented deliberate override."""
        import pytest

        from spear_spark.operators.stats import ks_vs_reference

        docs = load_table(spark, sf_dir, "documents")
        q = ks_vs_reference(docs, docs, "n_chars", ["lang"], max_ref_points=5)
        with pytest.raises(Exception, match="max_ref_points"):
            q.collect()
        # the override and the default both run this domain fine
        base = ks_vs_reference(docs, docs, "n_chars", ["lang"]).collect()
        off = ks_vs_reference(
            docs, docs, "n_chars", ["lang"], max_ref_points=None
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, off))


class TestSemDedupFitOn:
    """Laws for semdedup's sampled-fit knob (round-10 verdict item 5)."""

    def test_fit_on_self_is_identity(self, spark, sf_dir):
        from spear_spark.operators.dedup import semdedup

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        args = dict(k=8, threshold=0.35, tol=0.3, max_iters=10)
        base = sorted(
            map(tuple, semdedup(emb, "embedding", "vec_id", **args).collect())
        )
        same = sorted(
            map(
                tuple,
                semdedup(emb, "embedding", "vec_id", fit_on=emb, **args).collect(),
            )
        )
        assert base == same and base

    def test_sampled_fit_drops_are_sound_and_exact_dups_caught(self, spark, sf_dir):
        """Fitting on a deterministic half of the corpus (the
        production shape) moves cell boundaries, never the verify:
        every emitted pair must still be a genuine >= threshold pair
        (checked against brute force), and planted exact duplicates
        are always caught — identical vectors share a cell under ANY
        centroid set."""
        from spear_spark.operators.dedup import near_dedup_embedding, semdedup

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        dup = emb.orderBy("vec_id").limit(3).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        corpus = emb.unionByName(dup)
        fit = corpus.filter(F.col("vec_id") % 2 == 0)
        got = {
            (r.drop_id, r.keep_id)
            for r in semdedup(
                corpus, "embedding", "vec_id", k=8, threshold=0.35, tol=0.3,
                max_iters=10, fit_on=fit,
            ).collect()
        }
        brute = {
            (r.drop_id, r.keep_id)
            for r in near_dedup_embedding(
                corpus.withColumn("_all", F.lit(1)), "embedding", "vec_id",
                "_all", 0.35,
            ).collect()
        }
        assert {d for d, _ in got} <= {d for d, _ in brute}  # sound drops
        planted = {d for d, _ in got if d >= 1_000_000}
        assert planted == {1_000_000, 1_000_001, 1_000_002}


class TestKCenter2Pass:
    """Laws for the 2-pass k-center composition (verdict item 7)."""

    def test_equals_direct_kcenter_on_centroid_table(self, spark, sf_dir):
        from spear_spark.operators.similarity import (
            kcenter_coreset,
            kcenter_coreset_2pass,
            kmeans_lloyd,
        )

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        info: dict = {}
        got = [
            tuple(r)
            for r in kcenter_coreset_2pass(
                emb, "embedding", "vec_id", k=4, n_cells=8, tol=0.3,
                max_iters=10, info=info,
            ).orderBy("sel_round").collect()
        ]
        # independent fit with the same params -> same centroids
        info2: dict = {}
        kmeans_lloyd(
            emb, "embedding", "vec_id", k=8, tol=0.3, max_iters=10, info=info2
        )
        assert info2["centroids"] == info["centroids"]
        cent = spark.createDataFrame(
            [(i, c) for i, c in enumerate(info2["centroids"])],
            "cent_id long, centroid array<double>",
        )
        want = [
            tuple(r)
            for r in kcenter_coreset(cent, "centroid", "cent_id", k=4)
            .orderBy("sel_round")
            .collect()
        ]
        assert got == want and len(got) == 4
        assert all(0 <= cid < 8 for _, cid, _ in got)
        # Gonzalez max-min radius is non-increasing after the seed row
        d2s = [d for _, _, d in got[1:]]
        assert all(a >= b for a, b in zip(d2s, d2s[1:]))

    def test_k_above_n_cells_rejected(self, spark, sf_dir):
        import pytest

        from spear_spark.operators.similarity import kcenter_coreset_2pass

        emb = load_table(spark, sf_dir, "embeddings")
        with pytest.raises(ValueError, match="exceeds n_cells"):
            kcenter_coreset_2pass(emb, "embedding", "vec_id", k=9, n_cells=8)


class TestEditDistancePairs:
    """Laws for character-grain near-dup (dedup.edit_distance_pairs)."""

    def test_ocr_noise_caught_where_token_jaccard_underweights(self, spark):
        """The motivating grain difference: OCR-style single-character
        flips in every 10th word knock out ~3 shingles per flip —
        token Jaccard reads a visibly degraded document — while the
        relative edit distance stays at ~one character per ten words.
        (A fully-noised doc shares NO shingles and is invisible to the
        LSH candidate generator — the documented contract: this is a
        character-grain VERIFY over token-grain candidates.)"""
        from spear_spark.operators.dedup import (
            edit_distance_pairs,
            ngram_jaccard_pairs,
        )

        words = [f"wool{i}lot" for i in range(80)]
        noisy = [
            (w.replace("l", "1", 1) if i % 10 == 0 else w)
            for i, w in enumerate(words)
        ]
        base, noised = " ".join(words), " ".join(noisy)
        df = spark.createDataFrame(
            [(1, base), (2, noised)], "doc_id long, text string"
        )
        [jac] = ngram_jaccard_pairs(df, "text", "doc_id").collect()
        assert jac.jaccard < 0.8  # token view: a clearly-degraded copy
        # bands=6 (2-row bands) is the documented recall knob for the
        # ~0.5-Jaccard regime this noise level lands in
        got = edit_distance_pairs(
            df, "text", "doc_id", max_rel=0.25, bands=6
        ).collect()
        assert len(got) == 1
        [p] = got
        assert (p.doc_a, p.doc_b) == (1, 2)
        assert p.edit_dist == 8  # exactly one flip per corrupted word
        assert p.rel_edit == round(8 / len(base), 6)
        assert p.rel_edit < 0.02  # char view: a near-perfect copy

    def test_threshold_validated_and_exact_python_replay(self, spark, sf_dir):
        import pytest

        from spear_spark.operators.dedup import (
            edit_distance_pairs,
            minhash_lsh_pairs,
        )

        docs = load_table(spark, sf_dir, "documents")
        with pytest.raises(ValueError, match="max_rel"):
            edit_distance_pairs(docs, "text", "doc_id", max_rel=0.0)
        got = {
            (r.doc_a, r.doc_b): (r.edit_dist, r.rel_edit)
            for r in edit_distance_pairs(docs, "text", "doc_id").collect()
        }
        assert got  # non-degenerate on the synthetic corpus
        # replay: every emitted pair is an LSH candidate with the exact
        # DP distance and a passing rounded ratio
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        cands = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
        }
        assert set(got) <= cands

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        for (a, b), (d, rel) in got.items():
            want = lev(texts[a], texts[b])
            assert d == want, (a, b)
            assert rel == round(want / max(len(texts[a]), len(texts[b]), 1), 6)
            assert rel <= 0.2


class TestSourceTokenYield:
    def test_planted_boilerplate_source_reprices(self, spark):
        """A source shipping mostly copies yields a low token fraction;
        a clean source yields 1.0 — the mix-planning number."""
        from spear_spark.operators.dedup import source_token_yield

        blk = "dup dup text body with ten total tokens here now"
        rows = [(i, "spam", blk) for i in range(10)] + [
            (100 + i, "clean", f"unique doc {i} words body") for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = {r.source: r.asDict() for r in
               source_token_yield(df, "text", "doc_id", "source").collect()}
        s = got["spam"]
        assert (s["n_docs"], s["n_kept"]) == (10, 1)
        assert s["n_tokens"] == 100 and s["kept_tokens"] == 10
        assert s["yield_frac"] == 0.1
        c = got["clean"]
        assert c["n_kept"] == 4 and c["yield_frac"] == 1.0

    def test_totals_conserve_vs_exact_dedup(self, spark, sf_dir):
        from spear_spark.operators.dedup import exact_dedup, source_token_yield

        docs = load_table(spark, sf_dir, "documents")
        got = source_token_yield(docs, "text", "doc_id", "source").collect()
        assert sum(r.n_docs for r in got) == docs.count()
        assert sum(r.n_kept for r in got) == exact_dedup(
            docs, "text", "doc_id"
        ).count()
        assert all(0 < r.yield_frac <= 1.0 for r in got)


class TestSplitLeakage:
    def test_leakage_safe_split_always_audits_empty(self, spark):
        """THE guarantee law: leakage_safe_split's content-hash split
        can never span a content group, so the exact-grade audit is
        empty even on a heavily duplicated corpus — while the naive
        id-parity split on the same corpus leaks with exact counts."""
        from spear_spark.operators.dedup import split_leakage_report
        from spear_spark.operators.sampling import leakage_safe_split

        blk = "repeated page body with enough words to matter here"
        rows = [(i, blk) for i in range(10)] + [
            (100 + i, f"unique {i} doc") for i in range(5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        safe = leakage_safe_split(df, "text", "doc_id", val_frac=0.4).select(
            "doc_id", "split"
        )
        joined = df.join(safe, "doc_id")
        assert split_leakage_report(
            joined, "text", "doc_id", F.col("split") == "validation"
        ).count() == 0
        leaked = split_leakage_report(
            df, "text", "doc_id", F.col("doc_id") % 2 == 1
        ).collect()
        assert len(leaked) == 1
        [g] = leaked
        assert (g.n_train, g.n_val, g.example_id) == (5, 5, 0)

    def test_near_dup_grade_catches_fuzzy_leaks(self, spark):
        """An exact-grade audit passes a corpus whose duplicates are
        FUZZY; the connected-component key catches them (the p131
        catalog shape)."""
        from spear_spark.operators.dedup import (
            connected_components,
            ngram_jaccard_pairs,
            split_leakage_report,
        )

        base = " ".join(f"w{i * 7919 % 10007}q" for i in range(60))
        df = spark.createDataFrame(
            [(0, base), (1, base + " tiny edit"), (2, "something else entirely ok")],
            "doc_id long, text string",
        )
        parity = F.col("doc_id") % 2 == 1
        assert split_leakage_report(df, "text", "doc_id", parity).count() == 0
        pairs = ngram_jaccard_pairs(df, "text", "doc_id").filter(
            F.col("jaccard") >= 0.5
        )
        labels = connected_components(pairs)
        keyed = df.join(labels, "doc_id", "left").select(
            "doc_id", "text",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("_g"),
        )
        leaked = split_leakage_report(
            keyed, "text", "doc_id", parity, group_key=F.col("_g")
        ).collect()
        assert [(g.group_key, g.n_train, g.n_val) for g in leaked] == [(0, 1, 1)]

    def test_cc_grade_split_audits_empty_at_cc_grade(self, spark):
        """VERDICT r11 item 4: the constructor's guarantee and the
        audit share one granularity.  A fuzzily-duplicated corpus:
        the DEFAULT (content-hash) split leaks at CC grade — near-dup
        cluster members hash differently, so they can straddle the
        boundary — while the CC-keyed split (group_key = the CC label,
        singletons coalesced) audits EMPTY at the same CC grade."""
        from spear_spark.operators.dedup import (
            connected_components,
            ngram_jaccard_pairs,
            split_leakage_report,
        )
        from spear_spark.operators.sampling import leakage_safe_split

        import random

        rnd = random.Random(5)
        vocab = [f"v{i}" for i in range(200)]
        rows = []
        for i in range(20):
            base = [rnd.choice(vocab) for _ in range(40)]
            near = list(base)
            near[0] = "edited"
            rows += [(2 * i, " ".join(base)), (2 * i + 1, " ".join(near))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = ngram_jaccard_pairs(df, "text", "doc_id").filter(
            F.col("jaccard") >= 0.5
        )
        labels = connected_components(pairs)
        keyed = df.join(labels, "doc_id", "left").withColumn(
            "_g", F.coalesce("cluster_id", "doc_id")
        )
        cc_audit = lambda split_df: split_leakage_report(  # noqa: E731
            keyed.join(split_df.select("doc_id", "split"), "doc_id"),
            "text", "doc_id", F.col("split") == "validation",
            group_key=F.col("_g"),
        )
        default_split = leakage_safe_split(keyed, "text", "doc_id", val_frac=0.5)
        assert cc_audit(default_split).count() > 0  # exact grade leaks near-dups
        cc_split = leakage_safe_split(
            keyed, "text", "doc_id", val_frac=0.5, group_key=F.col("_g")
        )
        assert cc_audit(cc_split).count() == 0
        # both sides populated (the split is a real split, not a collapse)
        sides = {r["split"] for r in cc_split.select("split").distinct().collect()}
        assert sides == {"train", "validation"}

    def test_cc_grade_split_null_group_key_is_loud(self, spark):
        import pytest as _pytest

        from spear_spark.operators.sampling import leakage_safe_split

        df = spark.createDataFrame(
            [(1, "a", 7), (2, "b", None)], "doc_id long, text string, g int"
        )
        with _pytest.raises(Exception, match="group_key must be non-NULL"):
            leakage_safe_split(
                df, "text", "doc_id", group_key=F.col("g")
            ).collect()


class TestBpeFertility:
    """Laws for the tokenizer-fertility readout (text.bpe_fertility)."""

    def test_matches_python_replay(self, spark):
        import re

        from spear_spark.operators.text import (
            BPE_PATTERN,
            bpe_apply,
            bpe_fertility,
            bpe_learn,
        )

        rows = [
            ("a", "the cat sat on the mat with the cat"),
            ("a", "the mat and the cat sat"),
            ("b", "zq xv wj zq kq"),
        ]
        df = spark.createDataFrame(rows, "lang string, text string")
        merges = bpe_learn(
            df.selectExpr("text"), "text", n_merges=4
        )
        got = {
            r.lang: r.asDict()
            for r in bpe_fertility(df, "text", "lang", merges).collect()
        }
        enc = {
            (r.lang, r.text): list(r.bpe_tokens)
            for r in bpe_apply(df, "text", merges).collect()
        }
        want: dict = {}
        for lang, text in rows:
            ws = re.findall(BPE_PATTERN, text, re.ASCII)
            w = want.setdefault(lang, [0, 0, 0, 0])
            w[0] += 1
            w[1] += len(ws)
            w[2] += len(enc[(lang, text)])
            w[3] += sum(len(x) for x in ws)
        for lang, (nd, nw, nt, nc) in want.items():
            g = got[lang]
            assert (g["n_docs"], g["n_words"], g["n_tokens"], g["n_chars"]) == (
                nd, nw, nt, nc
            ), lang
            assert g["fertility"] == round(nt / nw, 6)
            assert g["chars_per_token"] == round(nc / nt, 6)

    def test_out_of_distribution_group_has_higher_fertility(self, spark):
        """The diagnostic's point: a vocabulary trained on group A's
        repeated words segments A's text into fused pieces but chops
        unseen group-B words into characters — fertility(B) >
        fertility(A)."""
        from spear_spark.operators.text import bpe_fertility, bpe_learn

        a_text = "hello world hello world hello world hello"
        rows = [("a", a_text)] * 6 + [("b", "qzx vkj wpy unseen tokens")]
        df = spark.createDataFrame(rows, "lang string, text string")
        merges = bpe_learn(
            df.filter(F.col("lang") == "a").select("text"), "text", n_merges=6
        )
        got = {
            r.lang: r.fertility
            for r in bpe_fertility(df, "text", "lang", merges).collect()
        }
        assert got["b"] > got["a"]

    def test_empty_pretoken_group_dropped(self, spark):
        from spear_spark.operators.text import bpe_fertility, bpe_learn

        df = spark.createDataFrame(
            [("a", "some words here"), ("empty", "   ")],
            "lang string, text string",
        )
        merges = bpe_learn(df.select("text"), "text", n_merges=2)
        got = {r.lang for r in bpe_fertility(df, "text", "lang", merges).collect()}
        assert got == {"a"}


class TestWavDecode:
    """Laws for the REAL stdlib audio modality (multimodal.attach_wav /
    decode_wav): genuine RIFF/PCM bytes in, parsed stats out."""

    def test_round_trip_matches_generation_params(self, spark, sf_dir):
        from spear_spark.operators.multimodal import (
            attach_wav,
            decode_wav,
            wav_params,
            wav_sample,
        )

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 40
        )
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        got = {
            r.doc_id: r.asDict()
            for r in decode_wav(attach_wav(docs, "text", "doc_id")).collect()
        }
        assert set(got) == set(texts)
        for did, text in texts.items():
            rate, n = wav_params(text)
            samples = [wav_sample(str(did), i) for i in range(n)]
            g = got[did]
            assert g["n_channels"] == 1
            assert g["sample_rate"] == rate
            assert g["n_samples"] == n
            assert g["duration_us"] == n * 1_000_000 // rate
            assert g["sumsq"] == sum(s * s for s in samples)
            assert g["peak"] == max(abs(s) for s in samples)

    def test_stereo_and_real_bytes(self, spark):
        """A stereo WAV built directly with the stdlib writer parses
        with the right channel count and stats over BOTH channels —
        and the payload is genuine RIFF (magic bytes checked)."""
        import io
        import struct
        import wave

        from spear_spark.operators.multimodal import decode_wav

        frames = [(100, -200), (300, -400), (32767, -32768)]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                struct.pack(f"<{len(frames) * 2}h", *[v for f in frames for v in f])
            )
        payload = buf.getvalue()
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        df = spark.createDataFrame(
            [(7, bytearray(payload))], "doc_id long, payload binary"
        )
        [r] = decode_wav(df).collect()
        flat = [v for f in frames for v in f]
        assert (r.n_channels, r.sample_rate, r.n_samples) == (2, 8000, 3)
        assert r.sumsq == sum(v * v for v in flat)
        assert r.peak == 32768
        assert r.duration_us == 3 * 1_000_000 // 8000

    def test_malformed_and_unsupported_raise(self, spark):
        import io
        import struct
        import wave

        import pytest

        from spear_spark.operators.multimodal import decode_wav

        junk = spark.createDataFrame(
            [(1, bytearray(b"not a wav at all"))], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="unparseable WAV id=1"):
            decode_wav(junk).collect()
        nul = spark.createDataFrame(
            [(2, None)], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="NULL payload id=2"):
            decode_wav(nul).collect()
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)  # 8-bit — unsupported
            w.setframerate(8000)
            w.writeframes(struct.pack("<4B", 1, 2, 3, 4))
        eight = spark.createDataFrame(
            [(3, bytearray(buf.getvalue()))], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="only 16-bit"):
            decode_wav(eight).collect()


class TestY4mDecode:
    """Laws for the REAL video container (multimodal.attach_y4m /
    decode_y4m): genuine YUV4MPEG2 bytes in, parsed stats out."""

    def test_round_trip_matches_generation_params(self, spark, sf_dir):
        from spear_spark.operators.multimodal import (
            attach_y4m,
            decode_y4m,
            y4m_frame_bytes,
            y4m_n_frames,
        )

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 40
        )
        texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
        got = {
            r.doc_id: r.asDict()
            for r in decode_y4m(attach_y4m(docs, "text", "doc_id")).collect()
        }
        assert set(got) == set(texts)
        for did, text in texts.items():
            n = y4m_n_frames(text)
            planes = [y4m_frame_bytes(str(did), f) for f in range(n)]
            g = got[did]
            assert (g["width"], g["height"], g["fps_num"], g["fps_den"]) == (
                8, 8, 25, 1
            )
            assert g["n_frames"] == n
            assert g["duration_us"] == n * 40000
            assert g["luma_sum"] == sum(sum(p) for p in planes)
            assert g["luma_max"] == max(max(p) for p in planes)

    def test_payload_is_genuine_y4m(self, spark, sf_dir):
        """The bytes really are the public format: header magic,
        parseable tokens, FRAME markers at the exact plane stride."""
        from spear_spark.operators.multimodal import attach_y4m, y4m_n_frames

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 3
        )
        for r in attach_y4m(docs, "text", "doc_id").collect():
            b = bytes(r.payload)
            assert b.startswith(b"YUV4MPEG2 W8 H8 F25:1 ")
            nl = b.index(b"\n")
            body = b[nl + 1:]
            assert body.startswith(b"FRAME\n")
            assert len(body) == (6 + 64) * body.count(b"FRAME\n")

    def test_malformed_and_unsupported_raise(self, spark):
        import pytest

        from spear_spark.operators.multimodal import decode_y4m

        def run(payload):
            df = spark.createDataFrame(
                [(1, bytearray(payload))], "doc_id long, payload binary"
            )
            decode_y4m(df).collect()

        with pytest.raises(Exception, match="not a YUV4MPEG2"):
            run(b"RIFFxxxx not video")
        with pytest.raises(Exception, match="only Cmono"):
            run(b"YUV4MPEG2 W2 H2 F25:1 C420jpeg\nFRAME\n" + b"\x00" * 6)
        with pytest.raises(Exception, match="truncated frame"):
            run(b"YUV4MPEG2 W8 H8 F25:1 Cmono\nFRAME\n" + b"\x00" * 10)
        with pytest.raises(Exception, match="bad FRAME marker"):
            run(b"YUV4MPEG2 W2 H2 F25:1 Cmono\nNOPE\n" + b"\x00" * 4)
        with pytest.raises(Exception, match="incomplete header"):
            run(b"YUV4MPEG2 W8 F25:1 Cmono\nFRAME\n" + b"\x00" * 64)


class TestSourceChunkOverlap:
    """Laws for cross-source chunk overlap (dedup.source_chunk_overlap)."""

    def test_planted_scrape_detected_with_exact_counts(self, spark):
        import hashlib

        from spear_spark.operators.dedup import source_chunk_overlap

        passage = " ".join(f"b{i * 31 % 997}z" for i in range(120))
        rows = [
            (1, "siteA", passage + " " + " ".join(f"a{j}x" for j in range(40))),
            (2, "siteA", " ".join(f"c{j}y" for j in range(50))),
            (3, "siteB", "scraper prefix words " + passage),
            (4, "siteC", " ".join(f"d{j}k" for j in range(60))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = {
            (r.source_a, r.source_b): r.asDict()
            for r in source_chunk_overlap(
                df, "text", "doc_id", "source", min_tokens=3
            ).collect()
        }
        assert set(got) == {("siteA", "siteB")}  # C shares nothing
        hit = got[("siteA", "siteB")]

        def chunk_hashes(text):
            toks = text.strip().lower().split()
            hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
            cuts = [i for i in range(1, len(toks) + 1) if hs[i - 1] % 16 == 0]
            if not cuts or cuts[-1] != len(toks):
                cuts.append(len(toks))
            out, start = [], 0
            for e in cuts:
                if e - start >= 3:
                    out.append(
                        hashlib.md5(" ".join(toks[start:e]).encode()).hexdigest()
                    )
                start = e
            return out

        sa = set(chunk_hashes(rows[0][2])) | set(chunk_hashes(rows[1][2]))
        sb = set(chunk_hashes(rows[2][2]))
        assert hit["n_shared"] == len(sa & sb) and hit["n_shared"] >= 2
        assert (hit["n_a"], hit["n_b"]) == (len(sa), len(sb))
        assert hit["contain_a"] == round(len(sa & sb) / len(sa), 6)
        assert hit["contain_b"] == round(len(sa & sb) / len(sb), 6)

    def test_pairs_are_ordered_and_complete(self, spark, sf_dir):
        from spear_spark.operators.dedup import source_chunk_overlap

        docs = load_table(spark, sf_dir, "documents")
        out = source_chunk_overlap(docs, "text", "doc_id", "source").collect()
        assert out  # synthetic corpus repeats sentences across sources
        assert all(r.source_a < r.source_b for r in out)
        assert all(0 < r.n_shared <= min(r.n_a, r.n_b) for r in out)
        assert all(0 < r.contain_a <= 1 and 0 < r.contain_b <= 1 for r in out)


class TestFilterAgreement:
    """Laws for the two-filter Cohen's kappa diagnostic
    (stats.filter_agreement)."""

    def test_hand_computed_confusion_and_kappa(self, spark):
        from spear_spark.operators.stats import filter_agreement

        rows = (
            [(True, True)] * 40 + [(True, False)] * 10
            + [(False, True)] * 5 + [(False, False)] * 45
        )
        df = spark.createDataFrame(rows, "a boolean, b boolean")
        [r] = filter_agreement(df, "a", "b").collect()
        assert (r.n, r.n_both, r.n_a_only, r.n_b_only, r.n_neither) == (
            100, 40, 10, 5, 45
        )
        po = 0.85
        pe = 0.5 * 0.45 + 0.5 * 0.55
        kappa = (po - pe) / (1 - pe)
        assert r.po == round(po, 6)
        assert r.pe == round(pe, 6)
        assert abs(r.kappa - round(kappa, 6)) <= 1e-6

    def test_identical_filters_kappa_one_and_degenerate(self, spark):
        from spear_spark.operators.stats import filter_agreement

        same = spark.createDataFrame(
            [(i % 3 == 0, i % 3 == 0) for i in range(30)], "a boolean, b boolean"
        )
        [r] = filter_agreement(same, "a", "b").collect()
        assert r.kappa == 1.0 and r.po == 1.0
        # degenerate identical marginals (everything true on both sides)
        const = spark.createDataFrame(
            [(True, True)] * 10, "a boolean, b boolean"
        )
        [rc] = filter_agreement(const, "a", "b").collect()
        assert rc.kappa == 1.0 and rc.pe == 1.0
        # chance-level: a independent of b -> kappa near 0 (exact 0 for
        # the balanced 2x2 grid)
        grid = spark.createDataFrame(
            [(x, y) for x in (True, False) for y in (True, False)] * 5,
            "a boolean, b boolean",
        )
        [rg] = filter_agreement(grid, "a", "b").collect()
        assert rg.kappa == 0.0

    def test_null_flags_raise(self, spark):
        import pytest

        from spear_spark.operators.stats import filter_agreement

        df = spark.createDataFrame(
            [(True, True), (None, False)], "a boolean, b boolean"
        )
        with pytest.raises(Exception, match="NULL flag"):
            filter_agreement(df, "a", "b").collect()


class TestEmbeddingGramPca:
    """Laws for the exact quantized Gram table and driver-side PCA
    (similarity.embedding_gram_exact / pca_project)."""

    def test_gram_matches_numpy_and_partition_invariant(self, spark, sf_dir):
        import numpy as np

        from spear_spark.operators.similarity import embedding_gram_exact

        emb = load_table(spark, sf_dir, "embeddings")
        x = np.asarray(
            [r.embedding for r in emb.select("embedding").collect()],
            dtype=np.float64,
        )
        q = np.floor(x * 1e6 + 0.5).astype(np.int64)
        g = q.T @ q
        s = q.sum(axis=0)
        n = len(q)
        rows = embedding_gram_exact(emb, "embedding", dim=64).collect()
        assert len(rows) == 64 * 65 // 2
        for r in rows:
            assert r.n == n
            assert r.gram_q == int(g[r.i, r.j]), (r.i, r.j)
            want_cov = round(
                (g[r.i, r.j] / n - (s[r.i] / n) * (s[r.j] / n)) / 1e12, 6
            )
            assert abs(r.cov - want_cov) <= 1e-6
        rep = embedding_gram_exact(emb.repartition(13), "embedding", dim=64)
        assert sorted(map(tuple, rep.collect())) == sorted(map(tuple, rows))

    def test_gram_rejects_bad_vectors(self, spark):
        import pytest

        from spear_spark.operators.similarity import embedding_gram_exact

        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="NULL or not"):
            embedding_gram_exact(df, "embedding", dim=2).collect()
        short = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="NULL or not"):
            embedding_gram_exact(short, "embedding", dim=2).collect()

    def test_pca_matches_numpy_replay_and_orders_variance(self, spark, sf_dir):
        import numpy as np

        from spear_spark.operators.similarity import pca_project

        emb = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < 500
        )
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r.vec_id for r in rows]
        x = np.asarray([r.embedding for r in rows], dtype=np.float64)
        # replay: same quantized moments -> same covariance (6dp) -> eigh
        q = np.floor(x * 1e6 + 0.5).astype(np.int64)
        n = len(q)
        g = q.T @ q
        s = q.sum(axis=0)
        cov = np.zeros((64, 64))
        for i in range(64):
            for j in range(64):
                cov[i, j] = round(
                    (g[i, j] / n - (s[i] / n) * (s[j] / n)) / 1e12, 6
                )
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1][:4]
        mu = s / n / 1e6
        comps = []
        for idx in order:
            vec = v[:, idx]
            pin = int(np.argmax(np.abs(np.round(vec, 12))))
            if vec[pin] < 0:
                vec = -vec
            comps.append(vec)
        got = {
            r.vec_id: list(r.pc)
            for r in pca_project(emb, "embedding", "vec_id", dim=64, k=4).collect()
        }
        assert set(got) == set(ids)
        for rid, xv in zip(ids, x):
            want = [round(float((xv - mu) @ c), 6) for c in comps]
            assert all(abs(a - b) <= 2e-6 for a, b in zip(got[rid], want)), rid
        # variance ordering: pc1 spread >= pc2 spread >= ...
        mat = np.asarray([got[i] for i in ids])
        vars_ = mat.var(axis=0)
        assert all(a >= b - 1e-9 for a, b in zip(vars_, vars_[1:]))


class TestBoilerplateChunks:
    def test_planted_template_tops_the_table(self, spark):
        """A footer stamped on most docs must rank first with the right
        doc count; unique content and short chunks never appear."""
        from spear_spark.operators.dedup import boilerplate_chunks

        footer = " ".join(f"b{i * 31 % 997}z" for i in range(40))
        rows = [
            (i, " ".join(f"u{i}w{j}" for j in range(30)) + " " + footer)
            for i in range(12)
        ]
        rows.append((99, "totally unique document body here"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = boilerplate_chunks(df, "text", "doc_id", min_tokens=3).collect()
        assert out, "no boilerplate found"
        top = out[0]
        assert top.n_docs == 12 and top.first_doc == 0
        assert all(r.n_docs >= 2 and r.n_tokens >= 3 for r in out)
        # descending by n_docs then occurrences
        keys = [(r.n_docs, r.n_occurrences) for r in out]
        assert keys == sorted(keys, reverse=True) or len(set(keys)) < len(keys)

    def test_top_validated(self, spark):
        import pytest

        from spear_spark.operators.dedup import boilerplate_chunks

        df = spark.createDataFrame([(1, "t x y")], "doc_id long, text string")
        with pytest.raises(ValueError, match="top"):
            boilerplate_chunks(df, "text", "doc_id", top=0)


class TestCdcChunks:
    """Laws for content-defined chunking (text.cdc_chunks)."""

    def _replay(self, text, modulus=64):
        import hashlib

        toks = text.strip().lower().split()
        if not toks:
            return []
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        cuts = [i for i in range(1, len(toks) + 1) if hs[i - 1] % modulus == 0]
        if not cuts or cuts[-1] != len(toks):
            cuts.append(len(toks))
        out, start = [], 0
        for j, e in enumerate(cuts):
            chunk = " ".join(toks[start:e])
            out.append(
                (j, e - start, hashlib.md5(chunk.encode()).hexdigest(), chunk)
            )
            start = e
        return out

    def test_matches_python_replay_and_reconstructs(self, spark, sf_dir):
        from spear_spark.operators.text import cdc_chunks

        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 60)
            .select("doc_id", "text")
        )
        rows = {r.doc_id: r.text for r in docs.collect()}
        got: dict = {}
        for r in cdc_chunks(docs, "text", "doc_id", modulus=16).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.n_tokens, r.chunk_hash, r.chunk_text)
            )
        for did, text in rows.items():
            want = self._replay(text, modulus=16)
            assert sorted(got.get(did, [])) == want, did
            # chunks concatenate back to the tokenized doc exactly
            joined = " ".join(
                c for _, _, _, c in sorted(got.get(did, []))
            )
            assert joined == " ".join(text.strip().lower().split())

    def test_shift_robustness_vs_fixed_windows(self, spark):
        """THE defining CDC law: prepending a paragraph changes only a
        bounded prefix of chunks — the suffix chunk-hash multiset is
        preserved, so chunk-level dedup still matches the original.
        Fixed-size windows (chunk_documents' shape) lose ALL
        alignment under the same edit."""
        from spear_spark.operators.text import cdc_chunks

        base = " ".join(f"tok{i}x" for i in range(400))
        edited = "new header paragraph inserted here " + base
        df = spark.createDataFrame(
            [(1, base), (2, edited)], "doc_id long, text string"
        )
        out: dict = {1: [], 2: []}
        for r in cdc_chunks(df, "text", "doc_id", modulus=16).collect():
            out[r.doc_id].append((r.chunk_idx, r.chunk_hash))
        h1 = [h for _, h in sorted(out[1])]
        h2 = [h for _, h in sorted(out[2])]
        shared = set(h1) & set(h2)
        # all but the first (edited) chunk of each side must re-align
        assert len(shared) >= len(h1) - 1
        assert len(shared) >= 3  # the law is vacuous with few chunks
        # and a true suffix of the chunk sequences is identical
        k = min(len(h1), len(h2)) - 1
        assert h1[-k:] == h2[-k:]

    def test_blank_docs_and_validation(self, spark):
        import pytest

        from spear_spark.operators.text import cdc_chunks

        df = spark.createDataFrame(
            [(1, "   "), (2, "one real doc here")], "doc_id long, text string"
        )
        rows = cdc_chunks(df, "text", "doc_id").collect()
        assert {r.doc_id for r in rows} == {2}
        with pytest.raises(ValueError, match="modulus"):
            cdc_chunks(df, "text", "doc_id", modulus=0)


class TestChunkDedupReport:
    """Laws for the chunk-level dedup payoff (dedup.chunk_dedup_report,
    round-10 verdict item 3)."""

    def test_prefix_edited_recrawl_caught_where_fixed_windows_miss(self, spark):
        """THE motivating scenario: a re-crawled page with one new
        header paragraph.  Document-level exact dedup sees two distinct
        hashes; FIXED-window chunking shares zero window hashes (all
        windows shift); CDC chunk dedup reports the re-crawl as mostly
        duplicated tokens."""
        from spear_spark.operators.dedup import chunk_dedup_report, exact_dedup
        from spear_spark.operators.text import chunk_documents

        base = " ".join(f"w{i * 7919 % 10007}q" for i in range(400))
        recrawl = "brand new header paragraph inserted by the recrawl " + base
        df = spark.createDataFrame(
            [(1, base), (2, recrawl)], "doc_id long, text string"
        )
        # document level: two distinct content hashes, no dedup
        assert exact_dedup(df, "text", "doc_id").count() == 2
        # fixed windows: zero shared chunk hashes (total misalignment)
        fixed = chunk_documents(df, "text", "doc_id", window=32, stride=32).select(
            "doc_id", F.md5("chunk_text").alias("h")
        )
        a = {r.h for r in fixed.filter(F.col("doc_id") == 1).collect()}
        b = {r.h for r in fixed.filter(F.col("doc_id") == 2).collect()}
        assert not (a & b)
        # CDC chunk level: the re-crawl is mostly duplicated tokens
        rep = {
            r.doc_id: r.asDict()
            for r in chunk_dedup_report(df, "text", "doc_id", modulus=16).collect()
        }
        assert rep[1]["n_dup_chunks"] == 0 and rep[1]["dup_token_share"] == 0.0
        assert rep[2]["dup_token_share"] > 0.8
        assert rep[2]["n_dup_chunks"] >= rep[2]["n_chunks"] - 2

    def test_matches_python_replay(self, spark, sf_dir):
        import hashlib

        from spear_spark.operators.dedup import chunk_dedup_report

        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 80)
            .select("doc_id", "text")
        )
        texts = {r.doc_id: r.text for r in docs.collect()}
        chunks = []  # (doc_id, n_tokens, hash)
        for did, text in texts.items():
            toks = text.strip().lower().split()
            if not text.strip():
                continue
            hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
            cuts = [i for i in range(1, len(toks) + 1) if hs[i - 1] % 16 == 0]
            if not cuts or cuts[-1] != len(toks):
                cuts.append(len(toks))
            start = 0
            for e in cuts:
                chunk = " ".join(toks[start:e])
                chunks.append(
                    (did, e - start, hashlib.md5(chunk.encode()).hexdigest())
                )
                start = e
        first = {}
        for did, _, h in chunks:
            first[h] = min(first.get(h, did), did)
        want = {}
        for did, nt, h in chunks:
            w = want.setdefault(did, [0, 0, 0, 0])
            dup = first[h] < did
            w[0] += 1
            w[1] += 1 if dup else 0
            w[2] += nt
            w[3] += nt if dup else 0
        got = {
            r.doc_id: r.asDict()
            for r in chunk_dedup_report(docs, "text", "doc_id", modulus=16).collect()
        }
        assert set(got) == set(want)
        for did, (nc, nd, nt, dt) in want.items():
            g = got[did]
            assert (g["n_chunks"], g["n_dup_chunks"], g["n_tokens"],
                    g["dup_tokens"]) == (nc, nd, nt, dt), did
            assert g["dup_token_share"] == round(dt / nt, 6)

    def test_within_doc_repeats_do_not_count(self, spark):
        """A doc repeating its OWN boilerplate chunk is not 'duplicated'
        — only hashes first seen in a lower-id doc count (the min-id
        keep convention)."""
        from spear_spark.operators.dedup import chunk_dedup_report

        blk = " ".join(f"w{i * 7919 % 10007}q" for i in range(60))
        df = spark.createDataFrame(
            [(5, blk + " " + blk)], "doc_id long, text string"
        )
        [r] = chunk_dedup_report(df, "text", "doc_id", modulus=16).collect()
        assert r.n_dup_chunks == 0 and r.dup_token_share == 0.0


class TestChunkDecontaminate:
    """Laws for chunk-level benchmark decontamination
    (dedup.chunk_decontaminate)."""

    def test_planted_passage_found_at_any_offset(self, spark):
        """A benchmark passage pasted mid-document (arbitrary token
        offset — the case fixed-window membership misses) is flagged
        against the right bench doc; clean docs are absent."""
        from spear_spark.operators.dedup import chunk_decontaminate

        passage = " ".join(f"b{i * 31 % 997}z" for i in range(150))
        filler_a = " ".join(f"f{i}o" for i in range(87))
        filler_b = " ".join(f"g{i}u" for i in range(55))
        corpus = spark.createDataFrame(
            [
                (1, f"{filler_a} {passage} {filler_b}"),
                (2, " ".join(f"c{i}l clean text" for i in range(100))),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(900, passage)], "doc_id long, text string"
        )
        got = chunk_decontaminate(
            corpus, bench, "text", "doc_id", min_tokens=3
        ).collect()
        assert {(r.doc_id, r.bench_id) for r in got} == {(1, 900)}
        [hit] = got
        # most of the passage's tokens are recovered as shared chunks
        assert hit.shared_tokens > 100 and hit.n_shared_chunks >= 3

    def test_min_tokens_drops_stopword_chunks(self, spark):
        from spear_spark.operators.dedup import chunk_decontaminate

        # find a 1-token chunk: a token whose h32 % 16 == 0 chunks alone
        import hashlib

        tok = next(
            f"s{i}x" for i in range(1000)
            if int(hashlib.md5(f"s{i}x".encode()).hexdigest()[:8], 16) % 16 == 0
        )
        corpus = spark.createDataFrame(
            [(1, f"{tok} unrelated body of text here")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(9, f"{tok} different bench content")], "doc_id long, text string"
        )
        loose = chunk_decontaminate(corpus, bench, "text", "doc_id").collect()
        strict = chunk_decontaminate(
            corpus, bench, "text", "doc_id", min_tokens=2
        ).collect()
        assert {(r.doc_id, r.bench_id) for r in loose} == {(1, 9)}
        assert strict == []


class TestDsirWeights:
    """Laws for DSIR importance weights (relevance.dsir_weights,
    Xie et al. 2023)."""

    def test_target_equals_raw_gives_zero(self, spark, sf_dir):
        from spear_spark.operators.relevance import dsir_weights

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 100
        )
        out = dsir_weights(docs, docs, "text", "doc_id", n_buckets=4096).collect()
        assert out and all(
            r.log_weight == 0.0 and r.avg_log_ratio == 0.0 for r in out
        )

    def test_matches_python_replay(self, spark, sf_dir):
        import hashlib
        import math

        from spear_spark.operators.relevance import dsir_weights

        nb, k = 512, 1.0
        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 120
        )
        target = docs.filter(F.col("lang") == "en")
        rows = [(r.doc_id, r.text, r.lang) for r in
                docs.select("doc_id", "text", "lang").collect()]

        def feats(text):
            t = text.strip().lower().split()
            fs = list(t) + [f"{a} {b}" for a, b in zip(t, t[1:])]
            return [
                int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % nb for f in fs
            ]

        raw_c: dict = {}
        tgt_c: dict = {}
        doc_b: dict = {}
        for did, text, lang in rows:
            bs = feats(text)
            doc_b[did] = bs
            for b in bs:
                raw_c[b] = raw_c.get(b, 0) + 1
                if lang == "en":
                    tgt_c[b] = tgt_c.get(b, 0) + 1
        rn, tn = sum(raw_c.values()), sum(tgt_c.values())
        want = {}
        for did, bs in doc_b.items():
            s = 0.0
            for b in bs:
                pt = (tgt_c.get(b, 0) + k) / (tn + k * nb)
                pr = (raw_c.get(b, 0) + k) / (rn + k * nb)
                s += math.log(pt) - math.log(pr)
            want[did] = (len(bs), round(s, 6), round(s / len(bs), 6))
        got = {
            r.doc_id: (r.n_feats, r.log_weight, r.avg_log_ratio)
            for r in dsir_weights(
                docs, target, "text", "doc_id", n_buckets=nb, k=k
            ).collect()
        }
        assert set(got) == set(want)
        for did in want:
            assert got[did][0] == want[did][0], did
            assert abs(got[did][1] - want[did][1]) <= 1e-6, did
            assert abs(got[did][2] - want[did][2]) <= 1e-6, did

    def test_target_language_ranks_higher(self, spark, sf_dir):
        """The selection property the method exists for: with an
        English target, English docs' mean per-feature log ratio beats
        every other language's."""
        from spear_spark.operators.relevance import dsir_weights

        docs = load_table(spark, sf_dir, "documents")
        target = docs.filter(F.col("lang") == "en")
        w = dsir_weights(docs, target, "text", "doc_id", n_buckets=4096)
        means = {
            r.lang: r.m
            for r in w.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.avg("avg_log_ratio").alias("m"))
            .collect()
        }
        assert all(means["en"] > v for lang, v in means.items() if lang != "en")


class TestFilterAgreementMatrix:
    """Laws for the k-filter ensemble agreement matrix (p138)."""

    @staticmethod
    def _flags(spark):
        from spear_spark.operators.text import gopher_rules
        from spear_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        return gopher_rules(docs, "text", "doc_id", min_words=20,
                            min_stopword_hits=1)

    def test_each_row_equals_pairwise_filter_agreement(self, spark):
        """Consistency: every matrix row must be bit-identical to the
        certified two-filter operator run on that pair."""
        from spear_spark.operators.stats import (
            filter_agreement,
            filter_agreement_matrix,
        )

        flags = self._flags(spark)
        names = ["words_ok", "alpha_ok", "stopword_ok", "keep"]
        got = {
            (r.filter_a, r.filter_b): r
            for r in filter_agreement_matrix(flags, names).collect()
        }
        assert len(got) == 6  # C(4,2), caller order
        for i, a in enumerate(names):
            for b in names[i + 1:]:
                [want] = filter_agreement(flags, a, b).collect()
                have = got[(a, b)]
                assert tuple(have)[2:] == tuple(want), (a, b)

    def test_self_pair_kappa_is_one(self, spark):
        from spear_spark.operators.stats import filter_agreement_matrix

        flags = self._flags(spark).select(
            F.col("keep").alias("k1"), F.col("keep").alias("k2")
        )
        [row] = filter_agreement_matrix(flags, ["k1", "k2"]).collect()
        assert row.kappa == 1.0 and row.n_a_only == 0 and row.n_b_only == 0

    def test_single_scan_single_aggregate(self, spark):
        """The whole k² matrix must come from ONE corpus scan and one
        two-phase aggregate — never a scan or aggregate per pair."""
        from spear_spark.operators.stats import filter_agreement_matrix
        from spear_spark.plans import executed_plan

        flags = self._flags(spark)
        plan = executed_plan(
            filter_agreement_matrix(
                flags, ["words_ok", "alpha_ok", "stopword_ok", "keep"]
            )
        )
        assert plan.count("Scan parquet") == 1
        assert "CartesianProduct" not in plan

    def test_null_flag_and_validation(self, spark):
        import pytest as _pytest

        from spear_spark.operators.stats import filter_agreement_matrix

        df = spark.createDataFrame(
            [(True, None), (False, True)], "a boolean, b boolean"
        )
        with _pytest.raises(Exception, match="NULL flag"):
            filter_agreement_matrix(df, ["a", "b"]).collect()
        ok = spark.createDataFrame([(True, True)], "a boolean, b boolean")
        with _pytest.raises(ValueError, match="2..12"):
            filter_agreement_matrix(ok, ["a"])
        with _pytest.raises(ValueError, match="duplicate"):
            filter_agreement_matrix(ok, ["a", "a"])


class TestPackingPreview:
    """Laws for the training-sequence yield readout (p139)."""

    def test_hand_computed_example(self, spark):
        from spear_spark.operators.text import packing_preview

        df = spark.createDataFrame(
            [("s1", "a b c d e"), ("s1", "f g"), ("s2", "h i j k")],
            "src string, text string",
        )
        out = {r.src: r for r in packing_preview(df, "text", "src", 4).collect()}
        s1 = out["s1"]
        # 5 + 2 tokens; packed = ceil(7/4) = 2; padded = 2 + 1 = 3;
        # waste = (12 - 7)/12; one doc overflows L=4
        assert (s1.n_docs, s1.n_tokens, s1.n_overflow_docs) == (2, 7, 1)
        assert (s1.n_seq_packed, s1.n_seq_padded) == (2, 3)
        assert s1.pad_waste_frac == round(5 / 12, 6)
        s2 = out["s2"]
        assert (s2.n_seq_packed, s2.n_seq_padded, s2.pad_waste_frac) == (1, 1, 0.0)

    def test_packed_never_exceeds_padded_and_L_monotone(self, spark, sf_dir):
        from spear_spark.operators.text import packing_preview
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        prev = None
        for L in (16, 64, 256):
            rows = packing_preview(docs, "text", "source", L).collect()
            for r in rows:
                assert r.n_seq_packed <= r.n_seq_padded
                assert 0.0 <= r.pad_waste_frac < 1.0
            tot = sum(r.n_seq_padded for r in rows)
            if prev is not None:
                assert tot <= prev  # larger context -> fewer padded seqs
            prev = tot

    def test_validation(self, spark):
        import pytest as _pytest

        from spear_spark.operators.text import packing_preview

        df = spark.createDataFrame([("s", "a b")], "src string, text string")
        with _pytest.raises(ValueError, match="context_len"):
            packing_preview(df, "text", "src", 0)


class TestDedupReportParamConflicts:
    def test_chunk_grade_rejects_jaccard_knobs(self, spark):
        """Round-12 review finding: Jaccard-grade knobs passed with
        chunk_grade=True would silently answer a different question —
        they must raise."""
        import pytest as _pytest

        from spear_spark.operators.dedup import dedup_report

        df = spark.createDataFrame(
            [(1, "s", "a b c")], "doc_id long, source string, text string"
        )
        for kw in (dict(threshold=0.8), dict(shingle_n=2), dict(max_df=100)):
            with _pytest.raises(ValueError, match="Jaccard-grade"):
                dedup_report(
                    df, "text", "doc_id", "source", chunk_grade=True, **kw
                )
        # the chunk-grade knobs themselves are accepted
        dedup_report(
            df, "text", "doc_id", "source",
            chunk_grade=True, chunk_modulus=8, max_chunk_df=10,
        )


class TestBpeCoverage:
    """Laws for the char-fallback readout (p140)."""

    def test_empty_merge_table_is_all_chars(self, spark):
        from spear_spark.operators.text import bpe_coverage

        df = spark.createDataFrame(
            [("g", "abc de"), ("g", "fgh")], "g string, text string"
        )
        [row] = bpe_coverage(df, "text", "g", []).collect()
        assert row.char_token_frac == 1.0 and row.n_char_tokens == row.n_tokens

    def test_monotone_non_increasing_in_merges(self, spark, sf_dir):
        """A merge only fuses symbols — the single-character population
        can never grow with more merges."""
        from spear_spark.operators.text import bpe_coverage, bpe_learn
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "lang",
            F.regexp_replace(F.lower("text"), "[^a-z ]+", " ").alias("text"),
        )
        prev = None
        for n in (0, 4, 12):
            merges = bpe_learn(docs, "text", n_merges=n, top_words=200_000)
            fr = {
                r.lang: r.char_token_frac
                for r in bpe_coverage(docs, "text", "lang", merges).collect()
            }
            if prev is not None:
                assert all(fr[g] <= prev[g] + 1e-9 for g in fr)
            prev = fr

    def test_ood_group_has_higher_fallback(self, spark):
        """A vocabulary trained on the majority slice leaves the OOD
        slice falling back to characters more often."""
        from spear_spark.operators.text import bpe_coverage, bpe_learn

        rows = [(i, "en", "the cat sat on the mat and the dog ran")
                for i in range(50)]
        rows += [(50 + i, "xx", "zqv wjk pfy xbn qrt") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, g string, text string")
        merges = bpe_learn(df.select("g", "text"), "text", n_merges=8)
        fr = {
            r.g: r.char_token_frac
            for r in bpe_coverage(df, "text", "g", merges).collect()
        }
        assert fr["xx"] > fr["en"]


class TestStratifiedSplit:
    """Laws for the n-way leakage-safe split (p141)."""

    def test_two_way_equals_leakage_safe_split(self, spark, sf_dir):
        from spear_spark.operators.sampling import (
            leakage_safe_split,
            stratified_split,
        )

        docs = load_table(spark, sf_dir, "documents")
        a = sorted(map(tuple, leakage_safe_split(
            docs, "text", "doc_id", val_frac=0.25).collect()))
        b = sorted(map(tuple, stratified_split(
            docs, "text", "doc_id",
            {"validation": 0.25, "train": 0.75}).collect()))
        assert a == b

    def test_every_split_pair_is_leak_free(self, spark):
        """Exact duplicates can never straddle ANY pair of the named
        splits — the audit is empty for every pair."""
        from spear_spark.operators.dedup import split_leakage_report
        from spear_spark.operators.sampling import stratified_split

        rows = [(i, f"page body {i % 7} repeated") for i in range(70)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = stratified_split(
            df, "text", "doc_id", {"test": 0.3, "validation": 0.3, "train": 0.4}
        )
        names = {r["split"] for r in out.select("split").distinct().collect()}
        assert len(names) >= 2  # the 7 content groups spread over splits
        joined = df.join(out.select("doc_id", "split"), "doc_id")
        for a in ("test", "validation", "train"):
            for b in ("test", "validation", "train"):
                if a < b:
                    pair = joined.filter(F.col("split").isin(a, b))
                    assert split_leakage_report(
                        pair, "text", "doc_id", F.col("split") == b
                    ).count() == 0, (a, b)

    def test_shares_partition_and_are_calibrated(self, spark, sf_dir):
        from spear_spark.operators.sampling import stratified_split

        docs = load_table(spark, sf_dir, "documents")
        out = stratified_split(
            docs, "text", "doc_id", {"a": 0.2, "b": 0.3, "c": 0.5}
        )
        counts = {r["split"]: r["count"]
                  for r in out.groupBy("split").count().collect()}
        n = sum(counts.values())
        assert n == docs.count()  # total partition, nothing unassigned
        assert 0.1 < counts.get("a", 0) / n < 0.35
        assert 0.35 < counts.get("c", 0) / n < 0.65

    def test_validation(self, spark):
        import pytest as _pytest

        from spear_spark.operators.sampling import stratified_split

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="sum to 1"):
            stratified_split(df, "text", "doc_id", {"a": 0.5, "b": 0.6})
        with _pytest.raises(ValueError, match="at least 2"):
            stratified_split(df, "text", "doc_id", {"a": 1.0})
        with _pytest.raises(ValueError, match="share must be"):
            stratified_split(df, "text", "doc_id", {"a": 0.0, "b": 1.0})


class TestScoreAuc:
    """Laws for the tie-corrected Mann-Whitney AUC (stats.score_auc)."""

    def test_separation_extremes_and_ties(self, spark):
        from spear_spark.operators.stats import score_auc

        perfect = spark.createDataFrame(
            [(float(i), i >= 5) for i in range(10)], "s double, y boolean"
        )
        [r] = score_auc(perfect, "s", "y").collect()
        assert (r.auc, r.n_pos, r.n_neg, r.n_scores) == (1.0, 5, 5, 10)
        reverse = spark.createDataFrame(
            [(float(-i), i >= 5) for i in range(10)], "s double, y boolean"
        )
        assert score_auc(reverse, "s", "y").collect()[0].auc == 0.0
        # all-tied score: every pos/neg pair gets the half credit
        const = spark.createDataFrame(
            [(1.0, i >= 4) for i in range(10)], "s double, y boolean"
        )
        [rc] = score_auc(const, "s", "y").collect()
        assert rc.auc == 0.5 and rc.n_scores == 1

    def test_one_sided_label_is_null_auc(self, spark):
        from spear_spark.operators.stats import score_auc

        pos_only = spark.createDataFrame(
            [(float(i), True) for i in range(5)], "s double, y boolean"
        )
        [r] = score_auc(pos_only, "s", "y").collect()
        assert r.auc is None and r.n_pos == 5 and r.n_neg == 0

    def test_grouped_equals_per_group_filters(self, spark):
        import random

        from spear_spark.operators.stats import score_auc

        rng = random.Random(11)
        rows = [
            (round(rng.random(), 2), rng.random() < 0.5, f"g{i % 3}")
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "s double, y boolean, g string")
        whole = {r.g: r for r in score_auc(df, "s", "y", "g").collect()}
        for g in ("g0", "g1", "g2"):
            [solo] = score_auc(df.filter(F.col("g") == g), "s", "y").collect()
            got = whole[g]
            assert (got.n_pos, got.n_neg, got.n_scores, got.auc) == (
                solo.n_pos, solo.n_neg, solo.n_scores, solo.auc
            )

    def test_score_decimals_equals_preround(self, spark):
        import random

        from spear_spark.operators.stats import score_auc

        rng = random.Random(5)
        rows = [(rng.random(), rng.random() < 0.4) for _ in range(300)]
        df = spark.createDataFrame(rows, "s double, y boolean")
        [knob] = score_auc(df, "s", "y", score_decimals=1).collect()
        pre = df.select(F.round("s", 1).alias("s"), "y")
        [manual] = score_auc(pre, "s", "y").collect()
        assert (knob.auc, knob.n_scores) == (manual.auc, manual.n_scores)
        assert knob.n_scores <= 11  # the bounded-grid point of the knob

    def test_null_label_or_nan_score_raises(self, spark):
        import pytest

        from spear_spark.operators.stats import score_auc

        bad_label = spark.createDataFrame(
            [(1.0, True), (2.0, None)], "s double, y boolean"
        )
        with pytest.raises(Exception, match="score_auc"):
            score_auc(bad_label, "s", "y").collect()
        nan_score = spark.createDataFrame(
            [(1.0, True), (float("nan"), False)], "s double, y boolean"
        )
        with pytest.raises(Exception, match="score_auc"):
            score_auc(nan_score, "s", "y").collect()


class TestTokenBudgetSelect:
    """Laws for greedy quality-first budget selection
    (sampling.token_budget_select)."""

    def test_prefix_rule_and_budget_respected(self, spark):
        from spear_spark.operators.sampling import token_budget_select

        rows = [
            # (id, tokens, quality, group)
            (1, 100, 0.9, "a"), (2, 100, 0.8, "a"),
            (3, 100, 0.7, "a"), (4, 100, 0.6, "a"),
            (5, 50, 0.9, "b"), (6, 260, 0.8, "b"), (7, 10, 0.7, "b"),
        ]
        df = spark.createDataFrame(rows, "id long, tokens long, quality double, g string")
        out = token_budget_select(df, "id", "tokens", "quality", 300, "g")
        got = {r.g: sorted((x.id, x.cum_tokens) for x in out.filter(F.col("g") == r.g).collect())
               for r in out.select("g").distinct().collect()}
        # group a: 3 docs of 100 fit, the 4th would hit 400 > 300
        assert got["a"] == [(1, 100), (2, 200), (3, 300)]
        # group b: 50 + 260 = 310 > 300, so doc 6 BLOCKS the tail
        # (prefix rule: doc 7 is NOT pulled around it)
        assert got["b"] == [(5, 50)]

    def test_selection_is_exact_python_replay(self, spark):
        import random

        from spear_spark.operators.sampling import token_budget_select

        rng = random.Random(3)
        rows = [
            (i, rng.randint(1, 60), round(rng.random(), 2), f"g{i % 4}")
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id long, tokens long, quality double, g string")
        out = token_budget_select(df, "id", "tokens", "quality", 500, "g")
        got = sorted((r.g, r.id) for r in out.collect())
        exp = []
        for g in {f"g{k}" for k in range(4)}:
            cum = 0
            for i, t, q, _ in sorted(
                (r for r in rows if r[3] == g), key=lambda r: (-r[2], r[0])
            ):
                cum += t
                if cum > 500:
                    break
                exp.append((g, i))
        assert got == sorted(exp)

    def test_composes_with_budget_waterfill(self, spark):
        """waterfill splits the global budget, select fills each share:
        total selected tokens <= global budget."""
        import random

        from spear_spark.operators.sampling import (
            budget_waterfill,
            token_budget_select,
        )

        rng = random.Random(9)
        rows = [
            (i, rng.randint(1, 40), round(rng.random(), 2), f"s{i % 3}")
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "id long, tokens long, quality double, s string")
        alloc = {r.source: r.alloc for r in
                 budget_waterfill(df, "s", "tokens", 600).collect()}
        total = 0
        for src, share in alloc.items():
            picked = token_budget_select(
                df.filter(F.col("s") == src), "id", "tokens", "quality",
                int(share),
            ).agg(F.coalesce(F.sum("tokens"), F.lit(0))).collect()[0][0]
            assert picked <= share
            total += picked
        assert total <= 600

    def test_null_or_negative_inputs_raise(self, spark):
        import pytest

        from spear_spark.operators.sampling import token_budget_select

        bad = spark.createDataFrame(
            [(1, -5, 0.5)], "id long, tokens long, quality double"
        )
        with pytest.raises(Exception, match="token_budget_select"):
            token_budget_select(bad, "id", "tokens", "quality", 100).collect()
        nanq = spark.createDataFrame(
            [(1, 5, float("nan"))], "id long, tokens long, quality double"
        )
        with pytest.raises(Exception, match="token_budget_select"):
            token_budget_select(nanq, "id", "tokens", "quality", 100).collect()
        with pytest.raises(ValueError, match="budget"):
            token_budget_select(nanq, "id", "tokens", "quality", -1)


class TestCentroidDrift:
    """Laws for the exact quantized centroid drift
    (similarity.centroid_drift)."""

    def test_matches_numpy_replay_and_partition_invariant(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import centroid_drift

        rng = np.random.default_rng(17)
        vecs = rng.normal(size=(120, 8)).astype(np.float32)
        labels = [int(i % 3) for i in range(120)]
        rows = [(labels[i], [float(x) for x in vecs[i]]) for i in range(120)]
        df = spark.createDataFrame(rows, "label int, v array<float>")
        out = {r.label: r for r in centroid_drift(df, "v", "label", 8).collect()}
        out2 = {r.label: r for r in
                centroid_drift(df.repartition(7), "v", "label", 8).collect()}
        q = np.floor(vecs.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
        gsum = q.sum(axis=0).astype(object)
        N = len(rows)
        for lbl in (0, 1, 2):
            mask = np.array(labels) == lbl
            s = q[mask].sum(axis=0).astype(object)
            n = int(mask.sum())
            diff = np.abs(s * N - gsum * n)  # object dtype: exact ints
            denom = float(n) * float(N) * 1_000_000.0
            r = out[lbl]
            assert r.n == n
            assert abs(r.l1_drift - round(float(sum(diff)) / denom, 6)) <= 1e-9
            assert abs(r.linf_drift - round(float(max(diff)) / denom, 6)) <= 1e-9
            assert r.top_dim == int(np.argmax(diff))
            # bitwise partition invariance (the integer-sum point)
            r2 = out2[lbl]
            assert (r.l1_drift, r.linf_drift, r.top_dim) == (
                r2.l1_drift, r2.linf_drift, r2.top_dim
            )

    def test_single_group_has_zero_drift(self, spark):
        from spear_spark.operators.similarity import centroid_drift

        df = spark.createDataFrame(
            [(0, [0.1, 0.2, 0.3]), (0, [0.4, 0.5, 0.6])], "label int, v array<float>"
        )
        [r] = centroid_drift(df, "v", "label", 3).collect()
        assert r.l1_drift == 0.0 and r.linf_drift == 0.0

    def test_planted_shift_names_the_dimension(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import centroid_drift

        rng = np.random.default_rng(4)
        base = rng.normal(size=(60, 6)).astype(np.float32)
        shifted = base.copy()
        shifted[:, 4] += 5.0  # label 1 drifts hard on dim 4
        rows = [(0, [float(x) for x in v]) for v in base] + [
            (1, [float(x) for x in v]) for v in shifted
        ]
        df = spark.createDataFrame(rows, "label int, v array<float>")
        out = {r.label: r for r in centroid_drift(df, "v", "label", 6).collect()}
        assert out[1].top_dim == 4
        assert out[1].linf_drift > 2.0  # half the planted 5.0 shift
        assert out[0].top_dim == 4  # the complement drifts the other way

    def test_null_or_wrong_length_raises(self, spark):
        import pytest

        from spear_spark.operators.similarity import centroid_drift

        bad = spark.createDataFrame(
            [(0, [0.1, 0.2]), (1, [0.3])], "label int, v array<float>"
        )
        with pytest.raises(Exception, match="centroid_drift"):
            centroid_drift(bad, "v", "label", 2).collect()
        null = spark.createDataFrame([(0, None)], "label int, v array<float>")
        with pytest.raises(Exception, match="centroid_drift"):
            centroid_drift(null, "v", "label", 2).collect()


class TestZipfFit:
    """Laws for the Zipf rank-frequency OLS (text.zipf_fit)."""

    def test_planted_power_law_recovers_exponent(self, spark):
        # freq(rank) = round(1000 * rank^-0.8): tokens w1..w40, doc text
        # repeats token k freq(k) times -> slope ~ -0.8, r2 ~ 1
        rows = []
        for k in range(1, 41):
            f = max(1, round(1000 * k ** -0.8))
            rows.append((" ".join([f"w{k:02d}"] * f), "g"))
        df = spark.createDataFrame(rows, "text string, g string")
        from spear_spark.operators.text import zipf_fit

        [r] = zipf_fit(df, "text", "g", top_ranks=40).collect()
        assert r.n_ranks == 40
        assert abs(r.slope - (-0.8)) < 0.02  # rounding of freqs only
        assert r.r2 > 0.999

    def test_matches_numpy_polyfit(self, spark):
        import math
        import random

        import numpy as np

        from spear_spark.operators.text import zipf_fit

        rng = random.Random(23)
        freqs = sorted((rng.randint(1, 500) for _ in range(30)), reverse=True)
        toks = [f"t{i:02d}" for i in range(30)]
        textv = " ".join(
            " ".join([t] * f) for t, f in zip(toks, freqs)
        )
        df = spark.createDataFrame([(textv, "g")], "text string, g string")
        [r] = zipf_fit(df, "text", "g", top_ranks=30).collect()
        # replay the DETERMINISTIC rank order: freq desc, token asc
        ranked = sorted(zip(toks, freqs), key=lambda p: (-p[1], p[0]))
        x = np.log(np.arange(1, 31, dtype=float))
        y = np.log(np.array([f for _, f in ranked], dtype=float))
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(r.slope - slope) < 1e-5
        assert abs(r.intercept - intercept) < 1e-5
        corr = np.corrcoef(x, y)[0, 1]
        assert abs(r.r2 - corr * corr) < 1e-5

    def test_degenerate_fits_are_null(self, spark):
        from spear_spark.operators.text import zipf_fit

        # single distinct token -> 1 rank -> undefined fit
        one = spark.createDataFrame([("a a a", "g")], "text string, g string")
        [r] = zipf_fit(one, "text", "g").collect()
        assert r.n_ranks == 1 and r.slope is None and r.r2 is None
        # all-equal frequencies -> slope exactly 0, zero y-variance -> r2 NULL
        flat = spark.createDataFrame([("a b c d", "g")], "text string, g string")
        [rf_] = zipf_fit(flat, "text", "g").collect()
        assert rf_.slope == 0.0 and rf_.r2 is None

    def test_top_ranks_validation(self, spark):
        import pytest

        from spear_spark.operators.text import zipf_fit

        df = spark.createDataFrame([("a b", "g")], "text string, g string")
        with pytest.raises(ValueError, match="top_ranks"):
            zipf_fit(df, "text", "g", top_ranks=1)


class TestCrossSplitNeardup:
    """Laws for pair-grade near-dup split leakage
    (dedup.cross_split_neardup)."""

    def _corpus(self, spark):
        base = ("the quick brown fox jumps over the lazy dog while rain "
                "falls softly on the quiet village roofs tonight")
        fuzz = base.replace("softly", "gently")  # near-dup, not exact-dup
        other = ("completely different words about spark shuffles and "
                 "parquet footers living in their own cluster of text "
                 "far away from foxes")
        rows = [(0, base), (1, fuzz), (2, other), (3, "tiny unrelated snippet here")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_catches_fuzzy_leak_the_exact_audit_misses(self, spark):
        from spear_spark.operators.dedup import (
            cross_split_neardup,
            split_leakage_report,
        )

        df = self._corpus(spark)
        split = F.col("doc_id") % 2 == 1  # base in train, fuzz in eval
        exact = split_leakage_report(df, "text", "doc_id", split).collect()
        assert exact == []  # exact-grade audit is blind to the paraphrase
        got = cross_split_neardup(df, "text", "doc_id", split).collect()
        assert [(r.doc_train, r.doc_eval) for r in got] == [(0, 1)]
        assert got[0].jaccard >= 0.5

    def test_same_side_pairs_are_not_reported(self, spark):
        from spear_spark.operators.dedup import cross_split_neardup

        df = self._corpus(spark)
        both_train = F.col("doc_id") >= 2  # base+fuzz both in train
        assert cross_split_neardup(df, "text", "doc_id", both_train).collect() == []

    def test_safe_split_audits_empty(self, spark):
        from spear_spark.operators.dedup import cross_split_neardup
        from spear_spark.operators.sampling import leakage_safe_split

        # duplicate-heavy corpus (5 mutually DISSIMILAR templates, each
        # exactly duplicated 8x), split built content-aware
        templates = [
            "alpha rivers carve deep canyons through ancient red stone walls",
            "bakers knead warm dough before sunrise in the quiet old shop",
            "computers exchange packets across oceans via buried glass fiber",
            "dancers rehearse difficult spins under bright unforgiving lights",
            "elephants remember distant waterholes after many dry seasons pass",
        ]
        rows = [(i, templates[i % 5]) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        split = leakage_safe_split(df, "text", "doc_id", val_frac=0.4)
        joined = df.join(
            split.select("doc_id", (F.col("split") == "validation").alias("is_val")),
            "doc_id",
        )
        out = cross_split_neardup(
            joined, "text", "doc_id", F.col("is_val")
        ).collect()
        assert out == []

    def test_null_split_flag_raises(self, spark):
        import pytest

        from spear_spark.operators.dedup import cross_split_neardup

        df = self._corpus(spark).withColumn(
            "flag", F.when(F.col("doc_id") < 3, F.col("doc_id") % 2 == 0)
        )
        with pytest.raises(Exception, match="cross_split_neardup"):
            cross_split_neardup(df, "text", "doc_id", F.col("flag")).collect()


class TestThresholdSweep:
    """Laws for the operating-point sweep (stats.threshold_sweep)."""

    def test_matches_python_replay_and_monotone(self, spark):
        import random

        from spear_spark.operators.stats import threshold_sweep

        rng = random.Random(31)
        rows = [(round(rng.random(), 1), rng.random() < 0.3) for _ in range(400)]
        df = spark.createDataFrame(rows, "s double, y boolean")
        out = sorted(threshold_sweep(df, "s", "y").collect(),
                     key=lambda r: -r.threshold)
        P = sum(1 for _, y in rows if y)
        N = len(rows) - P
        prev_recall = None
        for r in out:
            tp = sum(1 for s, y in rows if y and s >= r.threshold)
            fp = sum(1 for s, y in rows if not y and s >= r.threshold)
            assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, P - tp, N - fp)
            assert r.precision == round(tp / (tp + fp), 6)
            assert r.recall == round(tp / P, 6)
            assert r.f1 == round(2 * tp / (2 * tp + fp + (P - tp)), 6)
            # descending threshold -> recall non-decreasing
            if prev_recall is not None:
                assert r.recall >= prev_recall
            prev_recall = r.recall
        # the loosest threshold keeps everything: recall 1, precision =
        # base rate
        loosest = out[-1]
        assert loosest.recall == 1.0
        assert loosest.precision == round(P / len(rows), 6)

    def test_perfect_separation_has_f1_one_point(self, spark):
        from spear_spark.operators.stats import threshold_sweep

        df = spark.createDataFrame(
            [(float(i), i >= 5) for i in range(10)], "s double, y boolean"
        )
        out = {r.threshold: r for r in threshold_sweep(df, "s", "y").collect()}
        assert out[5.0].f1 == 1.0 and out[5.0].precision == 1.0 and out[5.0].recall == 1.0

    def test_no_positives_recall_f1_null(self, spark):
        from spear_spark.operators.stats import threshold_sweep

        df = spark.createDataFrame(
            [(1.0, False), (2.0, False)], "s double, y boolean"
        )
        for r in threshold_sweep(df, "s", "y").collect():
            assert r.recall is None and r.f1 is None and r.precision == 0.0

    def test_guards_raise(self, spark):
        import pytest

        from spear_spark.operators.stats import threshold_sweep

        df = spark.createDataFrame([(None, True)], "s double, y boolean")
        with pytest.raises(Exception, match="threshold_sweep"):
            threshold_sweep(df, "s", "y").collect()


class TestHeapsFit:
    """Laws for the cross-group Heaps'-law fit (text.heaps_fit)."""

    def test_matches_numpy_polyfit_replay(self, spark):
        import random

        import numpy as np

        from spear_spark.operators.text import heaps_fit

        rng = random.Random(41)
        rows = []
        for g in range(6):
            for d in range(10 + 5 * g):
                words = [f"w{rng.randint(0, 40 + 30 * g)}" for _ in range(20)]
                rows.append((" ".join(words), f"g{g}"))
        df = spark.createDataFrame(rows, "text string, g string")
        out = {r.group: r for r in heaps_fit(df, "text", "g").collect()}
        # python replay of the points
        pts = {}
        for t, g in rows:
            toks = t.lower().strip().split()
            n, v = pts.get(g, (0, set()))
            pts[g] = (n + len(toks), v | set(toks))
        xs = np.log([pts[g][0] for g in sorted(pts)])
        ys = np.log([len(pts[g][1]) for g in sorted(pts)])
        beta, alpha = np.polyfit(xs, ys, 1)
        for i, g in enumerate(sorted(pts)):
            r = out[g]
            assert (r.n_tokens, r.vocab) == (pts[g][0], len(pts[g][1]))
            assert abs(r.beta - beta) < 1e-5
            assert abs(r.residual - (ys[i] - (alpha + beta * xs[i]))) < 1e-5

    def test_template_mill_sits_below_the_line(self, spark):
        import random

        from spear_spark.operators.text import heaps_fit

        rng = random.Random(2)
        rows = []
        # three diverse sources of growing size
        for g, ndocs in (("a", 10), ("b", 20), ("c", 40)):
            for d in range(ndocs):
                rows.append((" ".join(
                    f"{g}tok{rng.randint(0, 2000)}" for _ in range(30)
                ), g))
        # the mill: as many tokens as c, almost no vocabulary
        rows += [("spam " * 30, "mill")] * 40
        df = spark.createDataFrame(rows, "text string, g string")
        out = {r.group: r for r in heaps_fit(df, "text", "g").collect()}
        assert out["mill"].residual < -1.0
        assert all(out[g].residual > out["mill"].residual for g in "abc")

    def test_single_group_fit_is_null(self, spark):
        from spear_spark.operators.text import heaps_fit

        df = spark.createDataFrame([("a b c", "g")], "text string, g string")
        [r] = heaps_fit(df, "text", "g").collect()
        assert r.beta is None and r.r2 is None and r.residual is None
        assert (r.n_tokens, r.vocab) == (3, 3)


class TestSourceQualityReport:
    """Laws for the per-source curation dashboard
    (stats.source_quality_report)."""

    def test_columns_match_their_solo_operators(self, spark):
        import random

        from spear_spark.operators.stats import score_auc, source_quality_report

        rng = random.Random(13)
        rows = [
            (round(rng.random(), 2), rng.random() < 0.5, f"s{i % 3}")
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "q double, keep boolean, src string")
        report = {r.group: r for r in
                  source_quality_report(df, "q", "keep", "src").collect()}
        aucs = {r.src: r for r in score_auc(df, "q", "keep", "src").collect()}
        for g in ("s0", "s1", "s2"):
            sub = [r for r in rows if r[2] == g]
            rep = report[g]
            assert rep.n_docs == len(sub)
            assert rep.keep_rate == round(
                sum(1 for r in sub if r[1]) / len(sub), 6
            )
            assert abs(rep.mean_score
                       - round(sum(r[0] for r in sub) / len(sub), 6)) <= 1e-9
            # AUC column bit-equals the grouped score_auc operator
            assert (rep.n_pos, rep.n_neg, rep.auc) == (
                aucs[g].n_pos, aucs[g].n_neg, aucs[g].auc
            )

    def test_one_sided_source_gets_null_auc_but_real_rates(self, spark):
        from spear_spark.operators.stats import source_quality_report

        df = spark.createDataFrame(
            [(0.9, True, "allkeep"), (0.8, True, "allkeep"),
             (0.3, True, "mixed"), (0.7, False, "mixed")],
            "q double, keep boolean, src string",
        )
        out = {r.group: r for r in
               source_quality_report(df, "q", "keep", "src").collect()}
        assert out["allkeep"].auc is None and out["allkeep"].keep_rate == 1.0
        assert out["mixed"].auc == 0.0  # the kept doc scores LOWER


class TestFrameCutProfile:
    """Laws for the scene-cut SAD profile (multimodal.frame_cut_profile)."""

    @staticmethod
    def _clip(frames):
        header = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"
        buf = bytearray(header)
        for f in frames:
            buf.extend(b"FRAME\n")
            buf.extend(bytes(f))
        return bytes(buf)

    def test_hand_computed_sads_and_cut_rule(self, spark):
        from spear_spark.operators.multimodal import frame_cut_profile

        still = [10, 20, 30, 40]
        jump = [210, 220, 230, 240]  # SAD vs still = 4*200 = 800
        clips = [
            (1, self._clip([still, still, jump])),  # sads: 0, 800
            (2, self._clip([still])),               # single frame
            (3, self._clip([still, jump, still, jump])),  # 800 x3
        ]
        df = spark.createDataFrame(clips, "doc_id long, payload binary")
        out = {r.doc_id: r for r in
               frame_cut_profile(df, cut_threshold=500).collect()}
        assert (out[1].n_frames, out[1].n_pairs, out[1].sad_sum,
                out[1].sad_max, out[1].n_cuts) == (3, 2, 800, 800, 1)
        assert (out[2].n_frames, out[2].n_pairs, out[2].sad_sum,
                out[2].sad_max, out[2].n_cuts) == (1, 0, 0, 0, 0)
        assert (out[3].n_pairs, out[3].sad_sum, out[3].n_cuts) == (3, 2400, 3)
        # threshold above every SAD -> zero cuts, same sums
        out_hi = {r.doc_id: r for r in
                  frame_cut_profile(df, cut_threshold=10_000).collect()}
        assert all(r.n_cuts == 0 for r in out_hi.values())
        assert out_hi[3].sad_sum == 2400

    def test_malformed_payload_raises_with_id(self, spark):
        import pytest

        from spear_spark.operators.multimodal import frame_cut_profile

        bad = spark.createDataFrame(
            [(7, b"RIFFnotavideo")], "doc_id long, payload binary"
        )
        with pytest.raises(Exception, match="YUV4MPEG2"):
            frame_cut_profile(bad).collect()


class TestLangConfusion:
    """Laws for the lang-id confusion matrix (text.lang_confusion)."""

    def test_hand_built_corpus_counts_and_row_shares(self, spark):
        from spear_spark.operators.text import lang_confusion

        rows = (
            # labeled en, detected en (stopword-rich)
            [("the cat and the dog have fun with that", "en")] * 3
            # labeled en, detected und (no stopwords anywhere)
            + [("zzz qqq xxx www", "en")] * 1
            # labeled de, detected de
            + [("der hund und die katze sind das nicht", "de")] * 2
            # NULL label folds to 'und' labeled row
            + [("the cat and the dog have fun with that", None)] * 1
        )
        df = spark.createDataFrame(rows, "text string, lang string")
        out = {(r.labeled_lang, r.detected_lang): r
               for r in lang_confusion(df, "text", "lang").collect()}
        assert out[("en", "en")].n_docs == 3
        assert out[("en", "und")].n_docs == 1
        assert out[("en", "en")].row_frac == 0.75
        assert out[("de", "de")].n_docs == 2 and out[("de", "de")].row_frac == 1.0
        assert out[("und", "en")].n_docs == 1
        # row shares sum to 1 per labeled language
        from collections import defaultdict

        sums = defaultdict(float)
        for (lab, _), r in out.items():
            sums[lab] += r.row_frac
        assert all(abs(s - 1.0) < 1e-6 for s in sums.values())


class TestCentroidDispersion:
    """Laws for exact within-group scatter (similarity.centroid_dispersion)."""

    def test_matches_numpy_replay_and_partition_invariant(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import centroid_dispersion

        rng = np.random.default_rng(29)
        vecs = rng.normal(size=(90, 5)).astype(np.float32)
        labels = [int(i % 3) for i in range(90)]
        rows = [(labels[i], [float(x) for x in vecs[i]]) for i in range(90)]
        df = spark.createDataFrame(rows, "label int, v array<float>")
        out = {r.label: r for r in
               centroid_dispersion(df, "v", "label", 5).collect()}
        out2 = {r.label: r for r in
                centroid_dispersion(df.repartition(11), "v", "label", 5).collect()}
        q = np.floor(vecs.astype(np.float64) * 1_000_000 + 0.5).astype(
            np.int64
        ).astype(object)
        for lbl in (0, 1, 2):
            sub = q[np.array(labels) == lbl]
            n = len(sub)
            vd = [n * sum(int(x) ** 2 for x in sub[:, d])
                  - sum(int(x) for x in sub[:, d]) ** 2 for d in range(5)]
            denom = float(n) * float(n) * 1e12
            r = out[lbl]
            assert r.n == n
            assert abs(r.trace_var - round(float(sum(vd)) / denom, 6)) <= 1e-9
            assert r.top_dim == int(np.argmax(vd))
            assert abs(r.top_var - round(float(max(vd)) / denom, 6)) <= 1e-9
            assert (r.trace_var, r.top_dim, r.top_var) == (
                out2[lbl].trace_var, out2[lbl].top_dim, out2[lbl].top_var
            )

    def test_collapsed_group_has_zero_variance(self, spark):
        from spear_spark.operators.similarity import centroid_dispersion

        df = spark.createDataFrame(
            [(0, [0.5, -0.25, 0.125])] * 7 + [(1, [0.1, 0.2, 0.3]), (1, [0.9, 0.2, 0.3])],
            "label int, v array<float>",
        )
        out = {r.label: r for r in
               centroid_dispersion(df, "v", "label", 3).collect()}
        assert out[0].trace_var == 0.0 and out[0].top_var == 0.0
        assert out[1].trace_var > 0.0 and out[1].top_dim == 0


class TestDedupMethodReport:
    """Laws for the three-grade dedup cost forecast
    (dedup.dedup_method_report)."""

    def test_rows_bit_equal_their_certified_operators(self, spark, sf_dir):
        from spear_spark.operators.dedup import (
            chunk_dedup_report,
            dedup_method_report,
            exact_dedup,
            near_dedup_lsh,
        )
        from spear_spark.operators.text import tokens
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        nt = docs.select(
            "doc_id", F.size(tokens("text")).cast("long").alias("nt")
        )
        out = {r.method: r for r in
               dedup_method_report(docs, "text", "doc_id").collect()}
        total_docs = docs.count()
        total_toks = nt.agg(F.sum("nt")).collect()[0][0]
        assert all(
            (r.n_docs, r.n_tokens) == (total_docs, total_toks)
            for r in out.values()
        )
        keeps = exact_dedup(docs, "text", "doc_id").select(
            F.col("keep_id").alias("doc_id")
        )
        ex_toks = keeps.join(nt, "doc_id").agg(F.sum("nt")).collect()[0][0]
        assert (out["exact"].n_docs_kept, out["exact"].n_tokens_kept) == (
            keeps.count(), ex_toks
        )
        drops = near_dedup_lsh(docs, "text", "doc_id", 0.5).select(
            F.col("drop_id").alias("doc_id")
        )
        kept = nt.join(drops, "doc_id", "left_anti")
        assert (out["near_lsh"].n_docs_kept, out["near_lsh"].n_tokens_kept) == (
            kept.count(), kept.agg(F.sum("nt")).collect()[0][0]
        )
        rep = chunk_dedup_report(docs, "text", "doc_id")
        ck = rep.agg(
            F.sum((F.col("dup_tokens") < F.col("n_tokens")).cast("long")),
            F.sum(F.col("n_tokens") - F.col("dup_tokens")),
        ).collect()[0]
        assert (out["chunk"].n_docs_kept, out["chunk"].n_tokens_kept) == (
            ck[0], ck[1]
        )

    def test_planted_grades_order_the_reductions(self, spark):
        from spear_spark.operators.dedup import dedup_method_report

        base = ("the quick brown fox jumps over the lazy dog while rain "
                "falls softly on the quiet village roofs tonight and the "
                "wind keeps moving through the old trees")
        rows = [
            (0, base),
            (1, base),                                  # exact copy
            (2, base.replace("softly", "gently")),      # near-dup
            (3, "breaking news header added today " + base),  # re-crawl
            (4, "a completely different document about parquet file "
                "footers and shuffle partitions in distributed engines"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.method: r for r in
               dedup_method_report(df, "text", "doc_id").collect()}
        # exact catches ONLY the verbatim copy
        assert out["exact"].n_docs_kept == 4
        # near-dup catches the copy AND the paraphrase (drops 2 docs)
        assert out["near_lsh"].n_docs_kept <= 3
        # chunk grade keeps every doc but strips the most tokens: it
        # also reclaims the re-crawled body doc 3 shares with doc 0
        assert out["chunk"].n_docs_kept == 4  # doc 1 owns nothing
        # both fuzzy grades strip more than exact; chunk is the
        # CONSERVATIVE grade — near-dup throws whole documents away
        # (docs 2 and 3 vanish with their unique spans), chunk keeps
        # doc 3's new header and doc 2's changed words, so it reclaims
        # fewer tokens than near while keeping strictly more content
        assert out["near_lsh"].token_reduction > out["exact"].token_reduction
        assert out["chunk"].token_reduction > out["exact"].token_reduction
        assert out["chunk"].n_tokens_kept > out["near_lsh"].n_tokens_kept


class TestScoreCalibrate:
    """Laws for per-group percentile calibration (stats.score_calibrate)."""

    def test_matches_python_cume_dist_with_ties(self, spark):
        import random

        from spear_spark.operators.stats import score_calibrate

        rng = random.Random(19)
        rows = [(i, round(rng.random(), 1), f"g{i % 3}") for i in range(150)]
        df = spark.createDataFrame(rows, "id long, s double, g string")
        out = score_calibrate(df, "s", "g").collect()
        by_group: dict = {}
        for _, s, g in rows:
            by_group.setdefault(g, []).append(s)
        for r in out:
            peers = by_group[r.g]
            expected = sum(1 for v in peers if v <= r.s) / len(peers)
            assert r.pct == round(expected, 6)
        # original columns survive
        assert {c for c in out[0].asDict()} == {"id", "s", "g", "pct"}

    def test_percentile_threshold_transfers_across_skewed_sources(self, spark):
        """The repair p149 motivates: a raw cut keeps wildly different
        shares of a high-scoring and a low-scoring source; the
        calibrated cut keeps the top half of BOTH."""
        from spear_spark.operators.stats import score_calibrate

        rows = [(i, 0.8 + (i % 10) / 100.0, "high") for i in range(100)] + [
            (i + 100, 0.1 + (i % 10) / 100.0, "low") for i in range(100)
        ]
        df = spark.createDataFrame(rows, "id long, s double, g string")
        raw_keep = df.filter(F.col("s") >= 0.5).groupBy("g").count().collect()
        raw = {r.g: r["count"] for r in raw_keep}
        assert raw.get("high", 0) == 100 and raw.get("low", 0) == 0
        cal = score_calibrate(df, "s", "g")
        cal_keep = {
            r.g: r["count"]
            for r in cal.filter(F.col("pct") > 0.5).groupBy("g").count().collect()
        }
        # 10 tied levels of 10 docs each -> cume_dist 0.1..1.0; pct>0.5
        # keeps the 5 upper levels of BOTH sources
        assert cal_keep["high"] == 50 and cal_keep["low"] == 50

    def test_nan_raises(self, spark):
        import pytest

        from spear_spark.operators.stats import score_calibrate

        df = spark.createDataFrame(
            [(1, float("nan"), "g")], "id long, s double, g string"
        )
        with pytest.raises(Exception, match="score_calibrate"):
            score_calibrate(df, "s", "g").collect()

    def test_out_col_collision_raises(self, spark):
        """withColumn would silently overwrite a pre-existing out_col
        — must raise like the '_cal_s' staging check (round-13 ADVICE
        fix)."""
        import pytest

        from spear_spark.operators.stats import score_calibrate

        df = spark.createDataFrame(
            [(1, 0.5, "g", 0.9)], "id long, s double, g string, pct double"
        )
        with pytest.raises(ValueError, match="score_calibrate"):
            score_calibrate(df, "s", "g")
        # a different out_col works
        out = score_calibrate(df, "s", "g", out_col="cal").collect()
        assert out[0].cal == 1.0 and out[0].pct == 0.9


class TestHardNegatives:
    """Laws for band-limited hard-negative mining
    (similarity.hard_negatives)."""

    def _emb(self, spark):
        import numpy as np

        rng = np.random.default_rng(37)
        base = rng.normal(size=(40, 6))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
        # plant near-dups of anchor 0: tiny perturbations, cos > 0.99
        for j, eps in ((100, 1e-3), (101, 2e-3)):
            v = base[0] + eps * rng.normal(size=6)
            v /= np.linalg.norm(v)
            rows.append((j, [float(x) for x in v]))
        return spark.createDataFrame(rows, "vec_id long, v array<float>"), base

    def test_band_excludes_near_dups_and_backfills_k(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import (
            cosine_topk_batch,
            hard_negatives,
        )

        df, base = self._emb(spark)
        anchors = df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("aid"), F.col("v").alias("av")
        )
        plain = cosine_topk_batch(df, "v", "vec_id", anchors, "aid", "av", k=5)
        plain_ids = {r.vec_id for r in plain.collect()}
        assert {100, 101} <= plain_ids  # near-dups crowd the unbanded top
        hard = hard_negatives(
            df, "v", "vec_id", anchors, "aid", "av", k=5, max_sim=0.95
        ).collect()
        hard_ids = [r.vec_id for r in hard]
        assert len(hard_ids) == 5  # the band BACKFILLS to k
        assert not ({100, 101} & set(hard_ids))
        assert all(r.cos_sim < 0.95 for r in hard)
        assert [r.rnk for r in sorted(hard, key=lambda r: r.rnk)] == [1, 2, 3, 4, 5]
        # and they are exactly the python top-5 below the ceiling
        sims = {}
        for r in df.collect():
            if r.vec_id == 0:
                continue
            v = np.array(r.v, dtype=np.float64)
            a = np.array(base[0], dtype=np.float64)
            c = round(float(v @ a / (np.linalg.norm(v) * np.linalg.norm(a))), 6)
            if c < 0.95:
                sims[r.vec_id] = c
        want = [i for i, _ in sorted(sims.items(), key=lambda p: (-p[1], p[0]))[:5]]
        assert sorted(hard, key=lambda r: r.rnk) and [
            r.vec_id for r in sorted(hard, key=lambda r: r.rnk)
        ] == want


class TestKnnLabelPurity:
    """Laws for the embedding-quality purity gate
    (similarity.knn_label_purity)."""

    def test_separable_clusters_pure_and_shuffled_labels_noise(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import knn_label_purity

        rng = np.random.default_rng(41)
        centers = np.eye(4)[:, :4]  # 4 well-separated unit corners
        rows, shuffled = [], []
        for i in range(120):
            lbl = i % 4
            v = centers[lbl] + 0.05 * rng.normal(size=4)
            rows.append((i, lbl, [float(x) for x in v]))
            shuffled.append((i, int(rng.integers(0, 4)), rows[-1][2]))
        df = spark.createDataFrame(rows, "vec_id long, label int, v array<float>")
        out = {r.label: r.purity for r in
               knn_label_purity(df, "v", "vec_id", "label", k=5).collect()}
        assert all(p > 0.95 for p in out.values())
        noisy = spark.createDataFrame(
            shuffled, "vec_id long, label int, v array<float>"
        )
        nout = {r.label: r.purity for r in
                knn_label_purity(noisy, "v", "vec_id", "label", k=5).collect()}
        # random labels -> purity collapses toward the 1/|labels| floor
        assert all(p < 0.6 for p in nout.values())

    def test_anchor_subset_matches_python_replay(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import knn_label_purity

        rng = np.random.default_rng(43)
        vecs = rng.normal(size=(50, 4))
        rows = [(i, i % 3, [float(x) for x in vecs[i]]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, label int, v array<float>")
        anchors = df.filter(F.col("vec_id") < 10)
        out = {r.label: r for r in knn_label_purity(
            df, "v", "vec_id", "label", anchors_df=anchors, k=3
        ).collect()}
        hits = {0: [0, 0], 1: [0, 0], 2: [0, 0]}
        for a in range(10):
            sims = []
            for j in range(50):
                if j == a:
                    continue
                c = round(float(
                    vecs[a] @ vecs[j]
                    / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[j]))
                ), 6)
                sims.append((-c, j))
            for _, j in sorted(sims)[:3]:
                hits[a % 3][0] += int(j % 3 == a % 3)
                hits[a % 3][1] += 1
        for lbl, (h, n) in hits.items():
            assert out[lbl].purity == round(h / n, 6)
            assert out[lbl].n_anchors == sum(1 for a in range(10) if a % 3 == lbl)


class TestCentroidDistanceMatrix:
    """Laws for the exact centroid pair map
    (similarity.centroid_distance_matrix)."""

    def test_matches_numpy_and_triangle_sanity(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import centroid_distance_matrix

        rng = np.random.default_rng(47)
        vecs = rng.normal(size=(90, 6)).astype(np.float32)
        labels = [i % 3 for i in range(90)]
        rows = [(labels[i], [float(x) for x in vecs[i]]) for i in range(90)]
        df = spark.createDataFrame(rows, "label int, v array<float>")
        out = {(r.label_a, r.label_b): r.l1_dist for r in
               centroid_distance_matrix(df, "v", "label", 6).collect()}
        q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64).astype(object)
        lab = np.array(labels)
        for a in range(3):
            for b in range(a + 1, 3):
                sa, na = q[lab == a].sum(axis=0), int((lab == a).sum())
                sb, nb = q[lab == b].sum(axis=0), int((lab == b).sum())
                want = float(sum(abs(sa * nb - sb * na))) / (na * nb * 1e6)
                assert abs(out[(a, b)] - round(want, 6)) <= 1e-9
        assert len(out) == 3  # unordered pairs only

    def test_identical_groups_have_zero_distance(self, spark):
        from spear_spark.operators.similarity import centroid_distance_matrix

        base = [(0, [0.1, 0.9]), (0, [0.3, 0.7]), (1, [0.1, 0.9]), (1, [0.3, 0.7]),
                (2, [5.0, 5.0])]
        df = spark.createDataFrame(base, "label int, v array<float>")
        out = {(r.label_a, r.label_b): r.l1_dist for r in
               centroid_distance_matrix(df, "v", "label", 2).collect()}
        assert out[(0, 1)] == 0.0
        assert out[(0, 2)] > 1.0 and out[(1, 2)] > 1.0


class TestFleissKappa:
    """Laws for multi-rater agreement (stats.fleiss_kappa)."""

    def test_matches_textbook_replay(self, spark):
        import random

        from spear_spark.operators.stats import fleiss_kappa

        rng = random.Random(53)
        k = 4
        rows = [tuple(rng.random() < 0.6 for _ in range(k)) for _ in range(300)]
        df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean, d boolean")
        [r] = fleiss_kappa(df, ["a", "b", "c", "d"]).collect()
        n = len(rows)
        ts = [sum(row) for row in rows]
        p_is = [(t * t + (k - t) * (k - t) - k) / (k * (k - 1)) for t in ts]
        p_bar = sum(p_is) / n
        p_true = sum(ts) / (n * k)
        p_e = p_true * p_true + (1 - p_true) * (1 - p_true)
        kappa = (p_bar - p_e) / (1 - p_e)
        assert r.n_items == n and r.k == k
        assert abs(r.p_bar - round(p_bar, 6)) <= 1e-6
        assert abs(r.p_e - round(p_e, 6)) <= 1e-6
        assert abs(r.kappa - round(kappa, 6)) <= 1e-6

    def test_unanimous_and_degenerate(self, spark):
        from spear_spark.operators.stats import fleiss_kappa

        same = spark.createDataFrame(
            [(i % 2 == 0,) * 3 for i in range(20)],
            "a boolean, b boolean, c boolean",
        )
        [r] = fleiss_kappa(same, ["a", "b", "c"]).collect()
        assert r.p_bar == 1.0 and r.kappa == 1.0
        const = spark.createDataFrame(
            [(True, True, True)] * 5, "a boolean, b boolean, c boolean"
        )
        [rc] = fleiss_kappa(const, ["a", "b", "c"]).collect()
        assert rc.p_e == 1.0 and rc.kappa == 1.0  # convention

    def test_guards(self, spark):
        import pytest

        from spear_spark.operators.stats import fleiss_kappa

        df = spark.createDataFrame(
            [(True, None, False)], "a boolean, b boolean, c boolean"
        )
        with pytest.raises(Exception, match="fleiss_kappa"):
            fleiss_kappa(df, ["a", "b", "c"]).collect()
        with pytest.raises(ValueError, match="k >= 3"):
            fleiss_kappa(df, ["a", "b"])
        with pytest.raises(ValueError, match="duplicate"):
            fleiss_kappa(df, ["a", "a", "b"])


class TestLshCalibration:
    """Laws for the MinHash estimator calibration (dedup.lsh_calibration)."""

    def test_identical_docs_calibrate_to_one(self, spark):
        from spear_spark.operators.dedup import lsh_calibration

        base = ("the quick brown fox jumps over the lazy dog while rain "
                "falls softly on the quiet village roofs tonight")
        df = spark.createDataFrame(
            [(0, base), (1, base), (2, "totally different words about "
             "spark shuffles and parquet footers far from foxes")],
            "doc_id long, text string",
        )
        out = lsh_calibration(df, "text", "doc_id").collect()
        # the identical pair: all 12 components match, exact jaccard 1
        full = [r for r in out if r.n_match == 12]
        assert full and full[0].mean_exact_jaccard == 1.0
        assert full[0].est_jaccard == 1.0 and full[0].mean_abs_err == 0.0

    def test_matches_python_replay_on_fixture(self, spark, sf_dir):
        from spear_spark.operators.dedup import (
            lsh_calibration,
            lsh_verified_pairs,
            minhash_lsh_pairs,
            minhash_signatures,
        )
        from spear_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        out = {r.n_match: r for r in
               lsh_calibration(docs, "text", "doc_id").collect()}
        assert out  # the synthetic corpus has candidate pairs
        # replay: per candidate pair, component matches + exact jaccard
        sigs = {r.doc_id: [r[f"mh{i}"] for i in range(12)]
                for r in minhash_signatures(docs, "text", "doc_id", k=12).collect()}
        cands = [(r.doc_a, r.doc_b) for r in
                 minhash_lsh_pairs(docs, "text", "doc_id").collect()]
        exact = {(r.doc_a, r.doc_b): r.jaccard for r in
                 lsh_verified_pairs(docs, "text", "doc_id", threshold=0.0).collect()}
        buckets: dict = {}
        for a, b in cands:
            m = sum(1 for i in range(12) if sigs[a][i] == sigs[b][i])
            ex = exact[(a, b)]
            agg = buckets.setdefault(m, [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += ex
            agg[2] += abs(m / 12.0 - ex)
        assert set(buckets) == set(out)
        for m, (n, se, sae) in buckets.items():
            assert out[m].n_pairs == n
            assert abs(out[m].mean_exact_jaccard - round(se / n, 6)) <= 2e-6
            assert abs(out[m].mean_abs_err - round(sae / n, 6)) <= 2e-6


class TestJourneyNgrams:
    """Laws for session journey n-gram mining (profile.journey_ngrams)."""

    def test_hand_built_journeys_and_session_split(self, spark):
        from datetime import datetime, timedelta

        from spear_spark.operators.profile import journey_ngrams

        t0 = datetime(2024, 1, 1, 12, 0, 0)
        m = timedelta(minutes=1)

        rows = []
        # user 1, one session: a b c a b c  -> a>b>c twice, ONE session
        for i, t in enumerate("abcabc"):
            rows.append((1, t0 + i * m, 10 + i, t))
        # user 2: a b c, then a 2h gap, then a b c -> TWO sessions
        for i, t in enumerate("abc"):
            rows.append((2, t0 + i * m, 20 + i, t))
        for i, t in enumerate("abc"):
            rows.append((2, t0 + timedelta(hours=2) + i * m, 30 + i, t))
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        out = {r.gram: r for r in journey_ngrams(
            df, "user_id", "ts", "event_type", "event_id", n=3
        ).collect()}
        assert out["a>b>c"].n_occurrences == 4
        # user 1's two occurrences share one session; user 2 has two
        assert out["a>b>c"].n_sessions == 3
        # the cross-gap gram b>c>a exists only inside user 1's session
        assert out["b>c>a"].n_occurrences == 1
        # no gram spans user 2's 2h gap: c>a>b appears once (user 1)
        assert out["c>a>b"].n_occurrences == 1

    def test_no_cross_user_grams_and_n_validation(self, spark):
        from datetime import datetime, timedelta

        import pytest

        from spear_spark.operators.profile import journey_ngrams

        t0 = datetime(2024, 1, 1)
        rows = [
            (1, t0, 1, "x"), (1, t0 + timedelta(minutes=1), 2, "y"),
            (2, t0 + timedelta(minutes=2), 3, "z"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        out = journey_ngrams(
            df, "user_id", "ts", "event_type", "event_id", n=2
        ).collect()
        assert [r.gram for r in out] == ["x>y"]  # never x>y>z across users
        with pytest.raises(ValueError, match="n must be"):
            journey_ngrams(df, "user_id", "ts", "event_type", "event_id", n=1)

    def test_null_or_separator_event_type_raises(self, spark):
        """concat_ws would silently SKIP a NULL type (collapsing
        a>NULL>b into a>b) and an embedded '>' would collide distinct
        sequences — both raise in-plan (round-13 ADVICE fix)."""
        from datetime import datetime, timedelta

        import pytest

        from spear_spark.operators.profile import journey_ngrams

        t0 = datetime(2024, 1, 1)
        m = timedelta(minutes=1)
        nul = spark.createDataFrame(
            [(1, t0, 1, "a"), (1, t0 + m, 2, None), (1, t0 + 2 * m, 3, "b")],
            "user_id long, ts timestamp, event_id long, event_type string",
        )
        with pytest.raises(Exception, match="journey_ngrams"):
            journey_ngrams(
                nul, "user_id", "ts", "event_type", "event_id", n=3
            ).collect()
        sep = spark.createDataFrame(
            [(1, t0, 1, "a"), (1, t0 + m, 2, "b>c"), (1, t0 + 2 * m, 3, "d")],
            "user_id long, ts timestamp, event_id long, event_type string",
        )
        with pytest.raises(Exception, match="journey_ngrams"):
            journey_ngrams(
                sep, "user_id", "ts", "event_type", "event_id", n=3
            ).collect()


class TestVolumeAutocorr:
    """Laws for daily-volume autocorrelation (stats.volume_autocorr)."""

    def test_weekly_rhythm_peaks_at_lag_seven(self, spark):
        from datetime import datetime, timedelta

        from spear_spark.operators.stats import volume_autocorr

        t0 = datetime(2024, 1, 1)
        rows = []
        # 8 weeks of a strong weekly pattern: weekday volume d%7+1
        eid = 0
        for day in range(56):
            for _ in range((day % 7) * 5 + 3):
                rows.append((eid, t0 + timedelta(days=day, minutes=eid % 60)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        out = {r.lag: r for r in volume_autocorr(df, "ts", max_lag=7).collect()}
        assert out[7].r == 1.0  # exact weekly period
        assert out[7].n_pairs == 49
        assert all(out[l].r < 0.9 for l in range(1, 7))

    def test_matches_numpy_and_gap_days_pair_nothing(self, spark):
        from datetime import datetime, timedelta

        import numpy as np

        from spear_spark.operators.stats import volume_autocorr

        rng = np.random.default_rng(59)
        t0 = datetime(2024, 3, 1)
        counts = {d: int(rng.integers(1, 30)) for d in range(20) if d != 9}
        rows = []
        eid = 0
        for d, n in counts.items():
            for _ in range(n):
                rows.append((eid, t0 + timedelta(days=d, seconds=eid % 3600)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        out = {r.lag: r for r in volume_autocorr(df, "ts", max_lag=3).collect()}
        for lag in (1, 2, 3):
            pairs = [(counts[d], counts[d + lag]) for d in counts
                     if d + lag in counts]
            xs = np.array([p[0] for p in pairs], dtype=float)
            ys = np.array([p[1] for p in pairs], dtype=float)
            want = float(np.corrcoef(xs, ys)[0, 1])
            assert out[lag].n_pairs == len(pairs)  # day 9's gap pairs nothing
            assert abs(out[lag].r - round(want, 6)) <= 1e-6

    def test_degenerate_variance_is_null(self, spark):
        from datetime import datetime, timedelta

        import pytest

        from spear_spark.operators.stats import volume_autocorr

        t0 = datetime(2024, 1, 1)
        rows = [(i, t0 + timedelta(days=i % 5, hours=1)) for i in range(25)]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        # constant 5 events/day -> zero variance -> NULL r
        out = {r.lag: r for r in volume_autocorr(df, "ts", max_lag=2).collect()}
        assert out[1].r is None and out[1].n_pairs == 4
        with pytest.raises(ValueError, match="max_lag"):
            volume_autocorr(df, "ts", max_lag=0)

    def test_pre_epoch_days_floor_not_truncate(self, spark):
        """Day bucketing must FLOOR like the DuckDB oracle's `//` —
        truncation toward zero would merge the day before the epoch
        with the epoch day itself (round-13 ADVICE fix)."""
        from datetime import datetime, timedelta

        from spear_spark.operators.stats import volume_autocorr

        t0 = datetime(1969, 12, 31, 12, 0, 0)  # day -1
        rows = []
        eid = 0
        # days -1..3 with volumes 1..5: a perfectly linear ramp has
        # r == 1.0 at lag 1 ONLY if all five days stay distinct;
        # truncation would fuse days -1 and 0 into volume 3.
        for d, n in enumerate((1, 2, 3, 4, 5)):
            for _ in range(n):
                rows.append((eid, t0 + timedelta(days=d, minutes=eid % 30)))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        out = {r.lag: r for r in volume_autocorr(df, "ts", max_lag=1).collect()}
        assert out[1].n_pairs == 4  # five distinct days, not four
        assert out[1].r == 1.0


class TestIvfRecallCurve:
    """Laws for the IVF n_probe tuning curve
    (similarity.ivf_recall_curve)."""

    def test_monotone_and_full_probe_is_exact(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import ivf_recall_curve

        rng = np.random.default_rng(61)
        vecs = rng.normal(size=(80, 6))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
        df = spark.createDataFrame(rows, "vec_id long, v array<float>")
        centroids = [[float(x) for x in vecs[i]] for i in range(4)]
        anchors = [(i, [float(x) for x in vecs[i]]) for i in range(70, 76)]
        out = sorted(
            ivf_recall_curve(df, "v", "vec_id", anchors, centroids,
                             k=4, max_probe=4).collect(),
            key=lambda r: r.n_probe,
        )
        assert [r.n_probe for r in out] == [1, 2, 3, 4]
        recalls = [r.recall_at_k for r in out]
        assert recalls == sorted(recalls)  # monotone in probe depth
        # probing EVERY cell = brute force: recall exactly 1
        assert recalls[-1] == 1.0
        assert out[-1].n_hits == len(anchors) * 4

    def test_matches_python_replay(self, spark):
        import numpy as np

        from spear_spark.operators.similarity import ivf_recall_curve

        rng = np.random.default_rng(67)
        vecs = rng.normal(size=(50, 4))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, v array<float>")
        centroids = [[float(x) for x in vecs[i]] for i in range(3)]
        anchors = [(i, [float(x) for x in vecs[i]]) for i in (45, 46, 47)]
        k = 3
        out = {r.n_probe: r.n_hits for r in ivf_recall_curve(
            df, "v", "vec_id", anchors, centroids, k=k, max_probe=2
        ).collect()}

        def cos(a, b):
            return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

        def d2(a, b):
            return round(float(((a - b) ** 2).sum()), 6)

        cells = {i: min(range(3), key=lambda c: (d2(vecs[i], np.array(centroids[c])), c))
                 for i in range(50)}
        want = {1: 0, 2: 0}
        for aid, _ in anchors:
            a = vecs[aid]
            order = sorted(range(3), key=lambda c: (d2(a, np.array(centroids[c])), c))
            sims = sorted(
                ((-cos(a, vecs[j]), j) for j in range(50) if j != aid)
            )
            truth = {j for _, j in sims[:k]}
            for p in (1, 2):
                probed = set(order[:p])
                cand = sorted(
                    ((-cos(a, vecs[j]), j) for j in range(50)
                     if j != aid and cells[j] in probed)
                )
                want[p] += len({j for _, j in cand[:k]} & truth)
        assert out == want

    def test_validation(self, spark):
        import pytest

        from spear_spark.operators.similarity import ivf_recall_curve

        df = spark.createDataFrame([(0, [0.1, 0.2])], "vec_id long, v array<float>")
        with pytest.raises(ValueError, match="anchor"):
            ivf_recall_curve(df, "v", "vec_id", [], [[0.0, 0.0]])
        with pytest.raises(ValueError, match="max_probe"):
            ivf_recall_curve(df, "v", "vec_id", [(0, [0.1, 0.2])],
                             [[0.0, 0.0]], max_probe=2)


class TestReadability:
    """Laws for the Flesch-Kincaid estimate (text.readability)."""

    def test_hand_computed_tallies_and_grade(self, spark):
        from spear_spark.operators.text import readability

        # "the cat sat. it ran!" -> 5 words, 2 sentences,
        # syllable runs: e, a, a, i, a = 5
        df = spark.createDataFrame(
            [("the cat sat. it ran!", "g")], "text string, g string"
        )
        [r] = readability(df, "text", "g").collect()
        assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
        wps, spw = 5 / 2, 5 / 5
        assert r.words_per_sentence == round(wps, 6)
        assert r.syllables_per_word == round(spw, 6)
        assert r.fk_grade == round(0.39 * wps + 11.8 * spw - 15.59, 6)
        # no terminator -> floors at one sentence per doc
        [r2] = readability(
            spark.createDataFrame([("no punctuation here", "g")],
                                  "text string, g string"),
            "text", "g",
        ).collect()
        assert r2.n_sentences == 1

    def test_legalese_grades_above_simple_prose(self, spark):
        from spear_spark.operators.text import readability

        simple = " ".join(["the cat sat on the mat. it was fun."] * 10)
        legal = " ".join(
            ["notwithstanding heretofore enumerated considerations "
             "the aforementioned indemnification obligations survive "
             "termination of this agreement indefinitely."] * 10
        )
        df = spark.createDataFrame(
            [(simple, "simple"), (legal, "legal")], "text string, g string"
        )
        out = {r.group: r for r in readability(df, "text", "g").collect()}
        assert out["legal"].fk_grade > out["simple"].fk_grade + 5
        assert out["legal"].syllables_per_word > out["simple"].syllables_per_word

    def test_matches_python_replay(self, spark):
        import random
        import re

        from spear_spark.operators.text import readability

        rng = random.Random(71)
        vocab = ["cat", "extraordinary", "run", "beautiful", "it", "syzygy"]
        rows = []
        for i in range(60):
            words = [rng.choice(vocab) for _ in range(rng.randint(3, 15))]
            t = " ".join(words) + rng.choice([".", "!", "?", ""])
            rows.append((t, f"g{i % 3}"))
        df = spark.createDataFrame(rows, "text string, g string")
        out = {r.group: r for r in readability(df, "text", "g").collect()}
        tallies: dict = {}
        for t, g in rows:
            w = len(t.lower().strip().split())
            s = max(len(re.findall(r"[.!?]+", t)), 1)
            y = len(re.findall(r"[aeiouy]+", t.lower()))
            a = tallies.setdefault(g, [0, 0, 0, 0])
            a[0] += 1; a[1] += w; a[2] += s; a[3] += y
        for g, (nd, w, s, y) in tallies.items():
            r = out[g]
            assert (r.n_docs, r.n_words, r.n_sentences, r.n_syllables) == (
                nd, w, s, y
            )
            assert r.fk_grade == round(0.39 * (w / s) + 11.8 * (y / w) - 15.59, 6)


class TestVolumeGini:
    """Laws for volume concentration (stats.volume_gini)."""

    def test_even_zero_concentrated_high_and_replay(self, spark):
        import random

        from spear_spark.operators.stats import volume_gini

        even = spark.createDataFrame(
            [(i, f"s{i % 4}") for i in range(40)], "id long, g string"
        )
        [r] = volume_gini(even, "g").collect()
        assert r.gini == 0.0 and r.n_groups == 4 and r.total == 40
        # one source holds ~everything: gini near (n-1)/n
        skew = spark.createDataFrame(
            [(i, "big") for i in range(97)] + [(100, "a"), (101, "b"), (102, "c")],
            "id long, g string",
        )
        [rs] = volume_gini(skew, "g").collect()
        assert rs.gini > 0.7
        # python replay on random volumes
        rng = random.Random(73)
        rows = [(i, f"g{rng.randint(0, 5)}") for i in range(200)]
        df = spark.createDataFrame(rows, "id long, g string")
        [rr] = volume_gini(df, "g").collect()
        from collections import Counter

        xs = sorted(Counter(g for _, g in rows).items(),
                    key=lambda p: (p[1], p[0]))
        n = len(xs)
        num = sum((2 * (i + 1) - n - 1) * x for i, (_, x) in enumerate(xs))
        assert rr.gini == round(num / (n * sum(x for _, x in xs)), 6)

    def test_weighted_mode_and_guards(self, spark):
        import pytest

        from spear_spark.operators.stats import volume_gini

        df = spark.createDataFrame(
            [("a", 10), ("a", 10), ("b", 80)], "g string, w long"
        )
        [r] = volume_gini(df, "g", weight_col="w").collect()
        # volumes (20, 80): gini = (2*1-3)*20+(2*2-3)*80 over 2*100
        assert r.gini == round(((-1) * 20 + 1 * 80) / (2 * 100), 6)
        single = spark.createDataFrame([("a", 5)], "g string, w long")
        [rs] = volume_gini(single, "g", weight_col="w").collect()
        assert rs.gini is None
        neg = spark.createDataFrame([("a", -1), ("b", 2)], "g string, w long")
        with pytest.raises(Exception, match="volume_gini"):
            volume_gini(neg, "g", weight_col="w").collect()

    def test_null_and_fractional_weights_raise(self, spark):
        """SUM silently skips NULL and cast('long') silently truncates
        fractionals — both must raise per the documented contract
        (round-13 ADVICE fix)."""
        import pytest

        from spear_spark.operators.stats import volume_gini

        nul = spark.createDataFrame(
            [("a", 1), ("b", None)], "g string, w long"
        )
        with pytest.raises(Exception, match="volume_gini"):
            volume_gini(nul, "g", weight_col="w").collect()
        frac = spark.createDataFrame(
            [("a", 1.0), ("b", 2.5)], "g string, w double"
        )
        with pytest.raises(Exception, match="volume_gini"):
            volume_gini(frac, "g", weight_col="w").collect()
        # integral doubles are fine (the cast is lossless)
        ok = spark.createDataFrame(
            [("a", 20.0), ("b", 80.0)], "g string, w double"
        )
        [r] = volume_gini(ok, "g", weight_col="w").collect()
        assert r.total == 100
