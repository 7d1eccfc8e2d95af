"""Seeded generator for the benchmark's input tables.

Writes the ten tables the catalog queries read (TPC-H-ish star schema,
an ``events`` stream, a ``documents`` corpus and an ``embeddings``
table), one parquet file each, with the schemas and value
distributions of the project's sf-scaled test tables: independent
uniform columns, a 30-word document vocabulary with planted exact and
near duplicates, and unit-norm 64-d vectors in ten weak clusters.

``replicate_corpus`` builds the scaled corpus of the pipeline workload:
it copies ``documents`` and ``embeddings`` into ``reps`` replicas, each
through an isomorphism (a letter rotation of the text, a signed cyclic
rotation of the vector), so each replica keeps the duplicate structure
of the base corpus exactly while replicas do not match one another.
The dimension tables are copied unchanged.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ALPHA = "abcdefghijklmnopqrstuvwxyz"
EMB_DIM = 64
ID_SHIFT = 10_000_000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    lo_d, hi_d = _epoch_us(lo) // DAY_US, _epoch_us(hi) // DAY_US
    return pa.array(rng.integers(lo_d, hi_d + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    # 5% near duplicates (a copy with a few leading characters cut and a
    # marker token appended) and a handful of exact duplicate pairs
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, max(2, n // 600)
    for dst, src in zip(ids[:n_near], ids[n_near: 2 * n_near]):
        texts[dst] = texts[src][int(rng.integers(1, 4)):].lstrip() + " dup"
    for dst, src in zip(ids[2 * n_near: 2 * n_near + n_exact], ids[-n_exact:]):
        texts[dst] = texts[src]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    centers *= 0.5 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n, EMB_DIM)) + centers[label]
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": _vector_column(vecs),
        "label": label,
    })


def _vector_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, EMB_DIM).cast(pa.list_(pa.float32()))


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vecs = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i64 = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }),
        "customer": pa.table({
            "c_custkey": i64(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": i64(n_part),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": i64(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }),
        "events": pa.table({
            "event_id": i64(n_ev),
            "ts": pa.array(
                _epoch_us("2024-01-01") + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    _write_all(out_dir, tables)


def _write_all(out_dir: str, tables: dict[str, pa.Table]) -> None:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def replicate_corpus(src_dir: str, out_dir: str, reps: int, seed: int) -> None:
    """Write ``src_dir`` with ``documents``/``embeddings`` replicated
    ``reps`` times.  Transform ``t`` rotates the text alphabet by ``t``
    letters and the vector by ``t`` places with a fixed sign pattern
    (``t = 0`` is the identity).  The seed assigns the transforms to
    replica ids and shuffles the rows, so every seed yields the same
    rows up to ids and order, and hence the same amount of work."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    doc_parts, emb_parts = [], []
    for rep, t in enumerate(rng.permutation(reps).tolist()):
        table = str.maketrans(ALPHA, ALPHA[t:] + ALPHA[:t])
        doc_parts.append(
            docs.set_column(0, "doc_id", pc.add(docs.column("doc_id"), rep * ID_SHIFT))
            .set_column(1, "text", pa.array([x.translate(table) for x in texts]))
        )
        signs = np.array(
            [-1.0 if t and (i * 7 + t) % 3 == 0 else 1.0 for i in range(EMB_DIM)], np.float32
        )
        emb_parts.append(pa.table({
            "vec_id": pc.add(emb.column("vec_id"), rep * ID_SHIFT),
            "embedding": _vector_column(np.roll(vecs, -t, axis=1) * signs),
            "label": emb.column("label"),
        }))

    def shuffled(parts: list[pa.Table]) -> pa.Table:
        table = pa.concat_tables(parts)
        return table.take(pa.array(rng.permutation(table.num_rows)))

    tables = {
        name: pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        for name in TABLES if name not in ("documents", "embeddings")
    }
    tables["documents"] = shuffled(doc_parts)
    tables["embeddings"] = shuffled(emb_parts)
    _write_all(out_dir, tables)
