"""Capture `.explain("formatted")` for named queries into plans/<tag>/,
as <query>_<suffix>.txt — the before/after plan evidence for an
optimization round.  Usage:

    python scripts/capture_plans.py r14 before p102_dedup_report p59_pagerank
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from bench import SF_DIR, start_session  # noqa: E402


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: capture_plans.py <tag> <suffix> <query> [...]")
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = start_session("spear_spark_plans")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
