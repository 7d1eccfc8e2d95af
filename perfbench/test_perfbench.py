"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pyarrow.parquet as pq
import pytest

import datagen
import run
import spans
from spans import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("n", [21, 22, 30, 37, 40, 99, 100, 101, 250, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    samples = [float(i) for i in range(n)]
    pct, value = run.tail_percentile({"q": samples})
    assert sum(s > value for s in samples) >= run.TAIL_BEYOND
    higher_rank = math.ceil((pct + 1) * n / 100)
    assert n - higher_rank < run.TAIL_BEYOND
    assert value >= run.statistics.median(samples)


def test_tail_of_few_samples_is_the_slowest_query_median():
    lat = {"a": [0.3, 0.1, 0.2, 0.2], "b": [2.0, 0.5, 0.6, 0.7], "c": [0.9, 1.0, 1.1, 1.0]}
    assert run.tail_percentile(lat) == (100, 1.0)


def test_p50_is_the_median_query_median():
    lat = {"a": [0.3, 0.1, 0.2], "b": [2.0, 0.5, 0.6], "c": [0.9, 1.0, 1.1]}
    assert run.query_p50(lat) == 0.6


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(name, parent, start, end) for name, parent, start, end in spans]
    return t


def test_self_times_partition_the_root_spans():
    t = _tracer([
        ("construct", None, 0.0, 0.4),
        ("sources.load_table", 0, 0.1, 0.2),
        ("staging", 0, 0.2, 0.35),
        ("catalyst", None, 0.4, 0.5),
        ("action", None, 0.5, 1.0),
    ])
    st = t.self_times()
    assert st["construct.s"] == pytest.approx(0.4)
    assert st["construct.self_s"] == pytest.approx(0.15)
    assert st["staging.calls"] == 1
    self_total = sum(v for k, v in st.items() if k.endswith(".self_s"))
    assert self_total == pytest.approx(1.0)
    assert run.query_time(st) == pytest.approx(1.0)


def test_explained_share_pairs_traced_with_untraced_passes():
    # the construct + action spans of each traced pass against the
    # untraced pass before it; a span that misses work reads below 1
    assert run.explained_frac([0.9, 2.0, 1.05], [1.0, 2.0, 1.0]) == pytest.approx(1.0)
    assert run.explained_frac([0.5, 0.6, 0.7], [1.0, 1.0, 1.0]) == pytest.approx(0.6)


def test_python_metrics_come_from_task_updates(tmp_path):
    def task_end(accs):
        return json.dumps({"Event": "SparkListenerTaskEnd", "Task Info": {"Accumulables": accs}},
                          separators=(",", ":"))

    sql = {"Metadata": "sql"}
    log = tmp_path / "local-1"
    log.write_text("\n".join([
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0}, separators=(",", ":")),
        task_end([{"ID": 7, "Update": "1500", **sql}, {"ID": 9, "Update": "-1", **sql}]),
        task_end([{"ID": 7, "Update": "500", **sql}, {"ID": 8, "Update": "4096", **sql},
                  {"ID": 3, "Update": 12, "Name": "internal.metrics.executorRunTime"}]),
    ]) + "\n")
    updates = spans.task_updates(str(log))
    assert updates == {7: 2000.0, 8: 4096.0, 9: 0.0}
    layers = {"action.s": 1.0}
    ids = {7: ("python.run_s", 1e-3), 8: ("python.bytes_sent", 1.0), 10: ("python.boot_s", 1e-3)}
    run.add_python_metrics([(1.0, {"q": (layers, ids)})], updates)
    assert layers == {"action.s": 1.0, "python.run_s": 2.0, "python.bytes_sent": 4096.0,
                      "python.boot_s": 0.0}


def test_tracer_restores_what_it_wraps():
    import spear_spark.operators.catalog as catalog
    import spear_spark.sources as sources
    from pyspark.sql.classic.dataframe import DataFrame

    class Client:
        def send_command(self, command):
            return command

    before = (sources.load_table, catalog.load_table, DataFrame.collect, DataFrame.checkpoint)
    client = Client()
    t = Tracer()
    t.install(client)
    assert catalog.load_table is not before[1]
    t.building(True)
    assert client.send_command("x") == "x"
    t.uninstall()
    assert (sources.load_table, catalog.load_table, DataFrame.collect, DataFrame.checkpoint) == before
    assert "send_command" not in vars(client)
    assert t.counters == {"construct.py4j_calls": 1}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def _tables(d):
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in datagen.TABLES}


def test_generation_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.generate(a, 0.001, 5)
    datagen.generate(b, 0.001, 5)
    assert _tables(a) == _tables(b)
    datagen.replicate_corpus(a, c, 3, seed=1)
    datagen.replicate_corpus(b, b + "x", 3, seed=1)
    datagen.replicate_corpus(b, b + "y", 3, seed=2)
    assert _tables(c) == _tables(b + "x")
    assert _tables(c)["documents"] != _tables(b + "y")["documents"]


def test_replicas_keep_the_duplicate_structure(tmp_path):
    src = str(tmp_path / "s")
    datagen.generate(src, 0.002, 5)
    base = pq.read_table(os.path.join(src, "documents.parquet")).column("text").to_pylist()
    n_dups = len(base) - len(set(base))
    assert n_dups > 0
    outputs = []
    for seed in (3, 4):
        out = str(tmp_path / f"x{seed}")
        datagen.replicate_corpus(src, out, 4, seed=seed)
        docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
        assert len(docs["text"]) == 4 * len(base)
        for rep in range(4):
            texts = [t for i, t in zip(docs["doc_id"], docs["text"]) if i // datagen.ID_SHIFT == rep]
            assert len(texts) - len(set(texts)) == n_dups
        assert len(set(docs["text"])) == 4 * len(set(base))
        outputs.append(docs)
    # seeds differ in ids and order, not in the rows' contents
    assert outputs[0]["doc_id"] != outputs[1]["doc_id"]
    assert sorted(outputs[0]["text"]) == sorted(outputs[1]["text"])
