"""Round-15 parallelism-evidence run (VERDICT r14 item 4): time the
heavy dedup/similarity/text queries on the scaled corpus
(scripts/make_scaled_dir.py) at a given core count, with bench.py's
session and timed loop (3 runs, median, noop sink, persisted-RDD drop
between runs).  Run once per core count and combine:

    python scripts/make_scaled_dir.py /tmp/spear_scaled_10x 10
    SPARK_GRAFT_SF_DIR=/tmp/spear_scaled_10x SPARK_GRAFT_CPUS=32 \
        python scripts/scaling_run.py > /tmp/scale32.json
    SPARK_GRAFT_SF_DIR=/tmp/spear_scaled_10x SPARK_GRAFT_CPUS=8 \
        python scripts/scaling_run.py > /tmp/scale8.json

Excluded by construction: p77/p109/p121/p122 assert the Lloyd
convergence round against the sf-oracle constant, which a different
corpus legitimately changes — not a scaling property.  p128/p133
(multimodal synthesis) and the sub-second relational tail are out of
scope: the question is whether the heavy operators parallelize.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, median_times, start_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/spear_scaled_10x")

QUERIES = [
    # document family
    "p05_ngram_jaccard",
    "p19_simhash_near_pairs",
    "p29_lsh_verified_dedup",
    "p83_health_report",
    "p85_repeated_ngrams",
    "p88_cluster_representatives",
    "p90_prefix_jaccard",
    "p102_dedup_report",
    "p117_cdc_chunks",
    "p118_chunk_dedup",
    "p131_split_leakage",
    "p134_edit_distance_char",
    "p137_dedup_report_chunks",
    "p153_dedup_method_report",
    # embedding family
    "p26_ann_ivf",
    "p64_srp_signatures",
    "p114_kcenter_coreset",
    "p162_ivf_recall_curve",
]


def main() -> None:
    spark = start_session("spear_spark_scaling")
    timings: dict[str, float] = {}
    for name in QUERIES:
        timings.update(median_times(spark, [name], SF_DIR))
        print(f"# {name}: {timings[name]}", file=sys.stderr, flush=True)

    print(
        json.dumps(
            {
                "metric": "scaling_probe",
                "cpus": int(CPUS),
                "sf_dir": SF_DIR,
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
