"""Per-query layer breakdown on the benchmark's generated inputs, the
measurement the workloads' queries are chosen from:

    python3 perfbench/breakdown.py --sf 0.01 --reps 1 --queries q
    python3 perfbench/breakdown.py --sf 0.01 --reps 4 --queries p114,p133,p112

``--queries`` takes name prefixes, comma-separated (``q`` selects every
relational ``q<NN>_`` query).  In one session: a cold pass that checks
every result against its oracle, one warm untraced pass, and one traced
pass over the queries that matched.  Prints one JSON line per query: the
warm latency, whether the oracle matched, and the traced shares of the
query's time (``run.breakdown``).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    broken = run.prepare_environment()
    if broken:
        print(f"breakdown: {broken}", file=sys.stderr)
        return 2

    import __spark_entry__

    prefixes = args.queries.split(",")
    names = tuple(
        q for q in __spark_entry__.queries()
        if any(re.fullmatch(r"q\d+_.*", q) if p == "q" else q.startswith(p + "_") for p in prefixes)
    )
    bench = run.Bench(run.Workload(args.sf, args.reps, names, 1.0), args.seed, 1, trace=True)
    bench.setup()
    lat: dict[str, list[float]] = {q: [] for q in names}
    bench.plain_pass(lat)
    ok = tuple(q for q in names if q not in bench.problems)
    bench.w = dataclasses.replace(bench.w, queries=ok)
    traced = [bench.traced_pass(0)]
    bench.stop(traced)
    rows = run.breakdown(traced)
    for q in names:
        print(json.dumps({
            "query": q, "warm_s": round(lat[q][0], 4), "oracle_ok": q in ok,
            "problems": bench.problems.get(q, [])[:1], **rows.get(q, {}),
        }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
