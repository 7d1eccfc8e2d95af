"""Staging: every materialization in ``spear_spark`` goes through
``config.stage``, which reads ``spear_spark.staging-mode`` from the
DataFrame's session conf (→ environment → default).

* a guard that no module calls ``localCheckpoint``/``checkpoint``
  outside ``config.stage``;
* one evaluation per staged row in both modes (a lazy reliable
  checkpoint would evaluate its input twice);
* row-identical results in ``local`` and ``reliable`` mode for one
  input per operator family, with ``reliable`` set through
  ``Context(settings=...)`` and through the environment;
* the ``dedup_report`` NULL-id contract."""

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from spear_spark.config import SESSION_FACTORY, STAGING_MODE, Settings, stage

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spear_spark")
STAGING_METHODS = ("localCheckpoint", "checkpoint")


def _active_session():
    return SparkSession.builder.getOrCreate()


@pytest.fixture
def staging_calls(monkeypatch):
    """Counts localCheckpoint/checkpoint calls by method name."""
    calls = dict.fromkeys(STAGING_METHODS, 0)
    for name in STAGING_METHODS:
        orig = getattr(ClassicDataFrame, name)

        def counted(self, *args, _orig=orig, _name=name, **kwargs):
            calls[_name] += 1
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(ClassicDataFrame, name, counted)
    return calls


def test_no_raw_staging_calls_outside_config_stage():
    """AST, not grep: docstrings and comments that mention
    ``localCheckpoint()`` are not calls."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(Path(path).read_text(), path)
            allowed = set()
            if os.path.relpath(path, PKG) == "config.py":
                fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "stage")
                allowed = {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in STAGING_METHODS
                    and id(node) not in allowed
                ):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_stage_evaluates_input_once(spark, mode, unset_mode, checkpoint_dir):
    n = 200
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        acc.add(1)
        return x * 2

    spark.conf.set(STAGING_MODE.name, mode)
    staged = stage(spark.range(n).select(counted("id").alias("v")))
    # two consumers read the staged rows; neither re-runs the UDF
    assert staged.count() == n
    assert staged.agg(F.sum("v")).first()[0] == n * (n - 1)
    assert acc.value == n


# -- mode parity -------------------------------------------------------------

_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "the quick brown fox leaps over the lazy dog",
    "lorem ipsum dolor sit amet consectetur",
    "lorem ipsum dolor sit amet adipiscing",
    "an entirely different document here",
    "the quick brown fox jumps over the lazy dog",
]


def _families(spark):
    from spear_spark.operators.dedup import (
        connected_components,
        dedup_report,
        ngram_jaccard_pairs,
    )
    from spear_spark.operators.graph import pagerank
    from spear_spark.operators.relevance import sparse_cosine_pairs
    from spear_spark.operators.similarity import kmeans_lloyd

    docs = spark.createDataFrame(
        [(i, "ab"[i % 2], t) for i, t in enumerate(_TEXTS)],
        "doc_id long, source string, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, 8), (3, 9)], "doc_a long, doc_b long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (5, 4)], "src long, dst long"
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3) * 10 + i * 0.01, float(i % 3)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    return {
        # max_df also runs the shingle-array staging in ngram_jaccard_pairs
        "dedup_report": lambda: dedup_report(docs, "text", "doc_id", "source", max_df=4),
        "connected_components": lambda: connected_components(pairs),
        # iters > 8 also stages the rank vector each round
        "pagerank": lambda: pagerank(edges, "src", "dst", iters=10),
        "kmeans_lloyd": lambda: kmeans_lloyd(
            vecs, "embedding", "vec_id", k=3, init_centroids=[[0.0, 0.0], [10.0, 1.0], [20.0, 2.0]]
        ),
        "sparse_cosine_pairs": lambda: sparse_cosine_pairs(
            docs, "text", "doc_id", threshold=0.0, max_df=4
        ),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, "text", "doc_id", max_df=4),
    }


def _run_families(spark, names=None):
    families = _families(spark)
    return {name: sorted(map(tuple, families[name]().collect())) for name in names or families}


@pytest.fixture(scope="module")
def local_results(spark):
    spark.conf.unset(STAGING_MODE.name)
    return _run_families(spark)


# The environment run covers only dedup_report (its exact-kept, max_df
# shingle and connected-components stagings): the mode is resolved in
# one place, and a second full sweep would double the test's run time.
@pytest.mark.parametrize("via, names", [("settings", None), ("env", ("dedup_report",))])
def test_mode_parity_local_vs_reliable(
    spark, via, names, local_results, unset_mode, checkpoint_dir, staging_calls, monkeypatch
):
    from spear_spark.context import Context

    if via == "settings":
        settings = (
            Settings()
            .with_value(STAGING_MODE, "reliable")
            .with_value(SESSION_FACTORY, f"{__name__}._active_session")
        )
        assert Context(settings=settings).spark is spark
        assert spark.conf.get(STAGING_MODE.name) == "reliable"
    else:
        monkeypatch.setenv(STAGING_MODE.env_name, "reliable")
    assert all(local_results.values())
    reliable = _run_families(spark, names)
    assert reliable == {name: local_results[name] for name in reliable}
    # every staging site took the reliable path
    assert staging_calls["localCheckpoint"] == 0
    assert staging_calls["checkpoint"] > 0


# -- dedup_report NULL-id contract --------------------------------------------


def test_dedup_report_rejects_null_ids(spark):
    from spear_spark.operators.dedup import dedup_report

    docs = spark.createDataFrame(
        [(1, "a", "same text"), (None, "a", "same text"), (3, "b", "other text")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(Exception, match="doc_id must not be NULL"):
        dedup_report(docs, "text", "doc_id", "source").collect()
