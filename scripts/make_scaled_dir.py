"""Materialize a REPS-x scaled copy of an SF dir for the round-15
parallelism-evidence run (VERDICT r14 item 4: the driver's 8-vs-32-core
probe is uninformative at sf0.1 because fixed per-query overhead
dominates; no larger driver SF exists, so we scale the two corpus
tables ourselves).

documents/embeddings are replicated with the tests/scaleup_harness.py
isomorphisms (per-replica alphabet rotation for text — preserves each
replica's internal dup/near-dup structure exactly while decorrelating
replicas; signed cyclic rotation for vectors — orthogonal, same
property), with the rest of each table's schema re-attached from the
base row (lang/source/n_chars per document — a char bijection on [a-z]
preserves length; label per vector).  All other tables are copied
byte-for-byte.  Deterministic: no randomness anywhere.

Usage: python scripts/make_scaled_dir.py <out_dir> [reps=10] [src=/root/testdata/sf0.1]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import start_session  # noqa: E402
from tests.scaleup_harness import (  # noqa: E402
    attach_base_column,
    replicate_docs,
    replicate_embeddings,
)


def main() -> None:
    out_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    os.makedirs(out_dir, exist_ok=True)
    spark = start_session("make_scaled_dir")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    (
        attach_base_column(replicate_docs(docs, reps), docs, "lang", "source", "n_chars")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    (
        attach_base_column(replicate_embeddings(emb, reps), emb, "label", id_col="vec_id")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    for name in (
        "customer", "events", "lineitem", "nation", "orders", "part",
        "region", "supplier",
    ):
        dst = f"{out_dir}/{name}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{src}/{name}.parquet", dst)
    print(f"scaled dir ready: {out_dir} (reps={reps})")
    spark.stop()


if __name__ == "__main__":
    main()
