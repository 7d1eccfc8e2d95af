"""Driver-gate pre-flight: run EVERY catalog query against its DuckDB
oracle at sf0.01 with a vanilla SparkSession — exactly the comparison
the round driver performs on its 50-query window, extended to the full
catalog so below-fold regressions can't hide behind stale evidence
rows.

Usage: python scripts/preflight.py [--window-only] [sf_dir]
Exit code 0 iff everything matches.  The contract is the whole catalog
green: 247/247, every query oracle-paired.

The session is deliberately vanilla (no DEFAULT_CONF, unlike bench.py's
tuned one): it mirrors the gate's own session, so a setting a query needs
for correctness has to be set at call time.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from tests.oracle_harness import compare, duck_connection  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    window_only = "--window-only" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )  # vanilla, like the driver — no DEFAULT_CONF
    spark.sparkContext.setLogLevel("ERROR")

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    con = duck_connection(sf_dir)
    names = list(qs)[:50] if window_only else list(qs)
    bad = []
    for i, name in enumerate(names, 1):
        # flushed before the query runs, so the Spark log lines that
        # follow (stderr) can be attributed to it
        print(f"[{i}/{len(names)}] {name}", flush=True)
        try:
            if name in osql:
                problems = compare(qs[name](spark, sf_dir), con, osql[name])
            else:
                # rows-only contract for oracle-less entries, like the
                # driver's weaker check: a smoke execution, no compare
                qs[name](spark, sf_dir).count()
                problems = []
        except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
            problems = [f"ERROR {type(ex).__name__}: {str(ex)[:200]}"]
        if problems:
            bad.append(name)
            print(f"MISMATCH {name}: {problems[:2]}", flush=True)
    print(f"{len(names) - len(bad)}/{len(names)} green "
          f"({'window' if window_only else 'full catalog'}, vanilla session, {sf_dir})")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
