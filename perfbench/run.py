"""spear_spark benchmark: catalog queries on seeded generated tables,
checked against their DuckDB oracles.

    python3 perfbench/run.py --workload sql_sf0.01 --seed 1 --seconds 10 --trace 0

The repository root is found from this file's location, so the command
runs from any working directory.  One run starts a single driver process
on ``local[<cpus>]``, generates (or reuses) the workload's input tables
under ``.perfbench/``, sets the session up (JVM launch and one cold
pass, whose results are checked), and then times whole passes over the
workload's queries, each query materialized through the ``noop`` sink.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is a JSON summary with the
per-query medians, the tail percentile used, the CPU calibration probe
and the failure share.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics of the
traced ones (see ``spans.py``) plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
GEN_SEED = 20240601  # base tables; the run seed varies order and replicas
TAIL_BEYOND = 10
RECONCILE_TOL = 0.2
MD5_ROWS, MD5_PARTS = 4_000_000, 8


@dataclass(frozen=True)
class Workload:
    sf: float
    reps: int
    queries: tuple[str, ...]
    pass_s: float  # nominal warm pass time on a 4-core box: sets passes per run


WORKLOADS = {
    # relational catalog: per-query fixed cost (Py4J construction,
    # Catalyst, many small jobs); no staging, no Python workers.  Per
    # quartile of warm latency over the catalog's relational queries,
    # the one whose layer shares lie nearest that quartile's median
    # shares (breakdown.py; the measured table is in README.md)
    "sql_sf0.01": Workload(0.01, 1, (
        "q28_word_counts", "q43_multigrain_rollup", "q77_group_by_all",
        "q65_parts_supplier_relationship",
    ), 2.5),
    # pipeline operators on a seeded 4x replica of the corpus.  From
    # each of the staged, curation and Python-UDF query groups, the
    # query with the highest share of the group's layer among those
    # under 3.5 s warm (breakdown.py; table in README.md): staging and
    # driver collects (p21), core-busy execution (p05), Python worker
    # run time (p128)
    "pipeline_4x": Workload(0.01, 4, (
        "p21_dup_clusters", "p05_ngram_jaccard", "p128_audio_decode",
    ), 7.8),
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s", "rss_peak_mb": "MB",
}
PER_LAYER = (
    "context.session_s",
    "sources.load_table.calls", "sources.load_table.s",
    "construct.s", "construct.self_s", "construct.jobs", "construct.py4j_calls",
    "staging.calls", "staging.s", "staging.bytes",
    "driver_action.calls", "driver_action.s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "action.s", "action.jobs",
    "exec.stages", "exec.tasks", "exec.core_busy_frac",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "python.boot_s", "python.init_s", "python.run_s", "python.bytes_sent",
    "python.bytes_received",
    "trace.wall_s", "trace.overhead_s", "calib.md5_s",
)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_frac"):
        return "frac"
    if "bytes" in name:
        return "B"
    return "count"


def query_p50(lat: dict[str, list[float]]) -> float:
    """Median over queries of each query's median latency over the
    timed passes, so one slow pass moves no query's figure."""
    return statistics.median(statistics.median(xs) for xs in lat.values())


def tail_percentile(lat: dict[str, list[float]]) -> tuple[int, float]:
    """The highest integer percentile of all latency samples with at
    least ``TAIL_BEYOND`` samples above it, and its value (nearest
    rank).  With too few samples for such a percentile above the
    median, the slowest query's median latency, as percentile 100: the
    maximum sample would be whichever pass ran slowest."""
    samples = [x for xs in lat.values() for x in xs]
    n = len(samples)
    if n <= 2 * TAIL_BEYOND:
        return 100, max(statistics.median(xs) for xs in lat.values())
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = math.ceil(pct * n / 100)  # samples at or below the percentile
    return pct, sorted(samples)[rank - 1]


def explained_frac(spans_s: list[float], walls: list[float]) -> float:
    """How much of the untraced pass wall time the traced passes' layer
    spans account for: the median over paired passes of (span time of
    the traced pass) / (wall time of the untraced pass).  The layer
    spans must cover the same work the untraced pass does, so this
    should be close to 1."""
    return statistics.median(s / w for s, w in zip(spans_s, walls))


class RssSampler:
    """Peak resident memory of the JVM and its child processes (the
    Python workers), sampled from /proc in a background thread."""

    def __init__(self, pid: int, period_s: float = 0.1) -> None:
        self.pid, self.period_s, self.peak = pid, period_s, 0
        self._lock = threading.Lock()  # the sampler thread and take_peak both update peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue  # exited while listing
                parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        with self._lock:
            self.peak = max(self.peak, total)
        return total

    def take_peak(self) -> int:
        """The peak since the previous call."""
        self.sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(2048, total_kb // 1024 // 4))}m"


def start_session(event_dir: str | None = None):
    from spear_spark.context import get_spark

    memory = driver_memory()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": memory,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        # the heap is committed and touched whole at launch: a growable
        # heap's resident share follows G1's time-based sizing decisions,
        # which put a 13-20% spread on rss_peak_mb between runs of the
        # same code; fixed, the peak moves only with JVM native memory
        # (metaspace, code, threads, direct buffers) and Python workers
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -Xms{memory} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_dir is not None:
        # traced runs read the Python nodes' task metric updates back
        # from the event log (see spans.task_updates), and stage data and
        # SQL executions from the status stores, which must not evict
        # them mid-query: skipped stages, having no completion time, go
        # first, and eviction shifts the executions list read by offset
        conf.update({
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="spear_spark_perfbench", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited
    (it exits when its stdin closes; its children, the Python workers,
    are stopped with the SparkContext)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def drop_persisted(spark) -> None:
    # staged blocks of one query would otherwise add eviction and GC
    # pressure to the next; blocking so removal does not overlap it
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    while it.hasNext():
        it.next().unpersist(True)


def prepare_data(w: Workload, seed: int) -> str:
    base = os.path.join(WORK, "data", f"sf{w.sf}-g{GEN_SEED}")
    if not os.path.isdir(base):
        datagen.generate(base, w.sf, GEN_SEED)
    if w.reps == 1:
        return base
    scaled = os.path.join(WORK, "data", f"sf{w.sf}x{w.reps}-s{seed}")
    if not os.path.isdir(scaled):
        datagen.replicate_corpus(base, scaled, w.reps, seed)
    return scaled


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        # a directory written by Spark holds part files: read them by glob
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class Collected:
    """A collected result, shaped like the DataFrame ``compare`` reads."""

    def __init__(self, df) -> None:
        self.rows = df.collect()
        self.columns = list(df.columns)
        self.dtypes = list(df.dtypes)

    def collect(self):
        return self.rows


def md5_probe(spark) -> float:
    """CPU calibration: md5 over a range, no shuffle.  A run over a
    small range compiles the plan; the full range is timed."""
    for rows in (MD5_ROWS // 16, MD5_ROWS):
        t0 = time.perf_counter()
        (spark.range(0, rows, 1, MD5_PARTS).selectExpr("md5(cast(id as string)) h")
         .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


class Bench:
    def __init__(self, w: Workload, seed: int, seconds: int, trace: bool) -> None:
        import __spark_entry__

        self.w, self.trace = w, trace
        self.rng = random.Random(seed)
        # the first timed pass after the cold one still runs ~20% slow:
        # three passes at least, so the median pass is a warm one
        self.passes = max(3, round(seconds / w.pass_s))
        catalog, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        self.fns = {q: catalog[q] for q in w.queries}
        self.oracles = {q: oracles[q] for q in w.queries}
        self.data = prepare_data(w, seed)
        self.con = oracle_connection(self.data)
        self.attempted = self.failed = 0
        self.problems: dict[str, list[str]] = {}
        self.spark = None
        self.event_dir = None
        if trace:
            self.event_dir = os.path.join(WORK, "events", f"{os.getpid()}-{time.time_ns()}")
            os.makedirs(self.event_dir)

    def order(self) -> list[str]:
        qs = list(self.w.queries)
        self.rng.shuffle(qs)
        return qs

    # -- set-up ----------------------------------------------------------

    def setup(self) -> tuple[float, float]:
        """Start a session (a new JVM) and warm it with one pass that
        collects each result; the results are compared with the oracles
        after the timed set-up.  Returns (set-up seconds, session start
        seconds)."""
        from oracle_harness import compare

        t0 = time.perf_counter()
        self.spark = start_session(self.event_dir)
        t_session = time.perf_counter() - t0
        results = {}
        for q in self.order():
            self.attempted += 1
            try:
                results[q] = Collected(self.fns[q](self.spark, self.data))
            except Exception as ex:  # noqa: BLE001 — a failing query is a result
                self.fail(q, f"{type(ex).__name__}: {str(ex)[:300]}")
            drop_persisted(self.spark)
        t_setup = time.perf_counter() - t0
        for q, res in results.items():
            problems = compare(res, self.con, self.oracles[q])
            if problems:
                self.fail(q, "; ".join(problems[:3]))
        return t_setup, t_session

    def fail(self, q: str, why: str) -> None:
        self.failed += 1
        self.problems.setdefault(q, []).append(why)

    # -- timed passes ------------------------------------------------------

    def run_query(self, q: str) -> float:
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            self.fns[q](self.spark, self.data).write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001
            self.fail(q, f"{type(ex).__name__}: {str(ex)[:300]}")
        return time.perf_counter() - t0

    def plain_pass(self, lat: dict[str, list[float]]) -> float:
        t0 = time.perf_counter()
        for q in self.order():
            lat[q].append(self.run_query(q))
            drop_persisted(self.spark)
        return time.perf_counter() - t0

    def traced_query(self, q: str, tag: str, status) -> tuple[dict[str, float], dict]:
        """Run one query with its layers traced; returns its per-layer
        numbers and the accumulator ids of its Python-node metrics."""
        from spans import Tracer

        sc = self.spark.sparkContext
        tracer = Tracer()
        groups = (f"{tag}:{q}:construct", f"{tag}:{q}:action")
        tracer.install(sc._gateway._gateway_client)
        try:
            sc.setJobGroup(groups[0], q)
            span = tracer.begin("construct")
            tracer.building(True)
            try:
                df = self.fns[q](self.spark, self.data)
            finally:
                tracer.building(False)
                tracer.end(span)
            span = tracer.begin("catalyst")
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            tracer.end(span)
            sc.setJobGroup(groups[1], q)
            span = tracer.begin("action")
            df.write.format("noop").mode("overwrite").save()
            tracer.end(span)
        finally:
            tracer.uninstall()
            sc.setLocalProperty("spark.jobGroup.id", None)

        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                tracer.add(f"catalyst.{phase}_s", summary.get().durationMs() / 1e3)
        status.drain()
        jobs = [status.jobs(g) for g in groups]
        tracer.add("construct.jobs", len(jobs[0]))
        tracer.add("action.jobs", len(jobs[1]))
        status.stage_metrics(jobs[0] + jobs[1], tracer)
        tracer.add("staging.bytes", status.staged_bytes())
        python_ids = status.python_metric_ids()
        drop_persisted(self.spark)
        return {**tracer.counters, **tracer.self_times()}, python_ids

    def traced_pass(self, p: int) -> tuple[float, dict[str, tuple[dict[str, float], dict]]]:
        from spans import StatusReader

        status = StatusReader(self.spark)
        t0 = time.perf_counter()
        per_query = {q: self.traced_query(q, f"t{p}", status) for q in self.order()}
        return time.perf_counter() - t0, per_query

    def stop(self, traced) -> None:
        """Stop the session.  In a traced run, then fill in the traced
        queries' ``python.*`` numbers from the session's event log."""
        from spans import task_updates

        app_id = self.spark.sparkContext.applicationId
        stop_session(self.spark)
        if self.event_dir is not None:
            (log,) = glob.glob(os.path.join(self.event_dir, f"{app_id}*"))
            add_python_metrics(traced, task_updates(log))
            shutil.rmtree(self.event_dir)


def add_python_metrics(traced, updates: dict[int, float]) -> None:
    """Fill in each traced query's ``python.*`` numbers from the task
    updates of its Python-node metric accumulators."""
    for _, per_query in traced:
        for layers, python_ids in per_query.values():
            for acc_id, (layer, scale) in python_ids.items():
                layers[layer] = layers.get(layer, 0.0) + scale * updates.get(acc_id, 0.0)


def query_time(layers: dict[str, float]) -> float:
    return sum(layers.get(f"{s}.s", 0.0) for s in ("construct", "catalyst", "action"))


def pass_layers(per_query) -> dict[str, float]:
    out: dict[str, float] = {}
    for layers, _ in per_query.values():
        for k, v in layers.items():
            out[k] = out.get(k, 0.0) + v
    out["exec.core_busy_frac"] = out.get("exec.task_run_s", 0.0) / (query_time(out) * cpus())
    return out


def breakdown(traced) -> dict[str, dict[str, float]]:
    """Per query, medians over traced passes: query time and the shares
    of it spent in each layer span, Python worker run time and how busy
    the query kept the cores."""
    rows: dict[str, dict[str, list[float]]] = {}
    for _, per_query in traced:
        for q, (layers, _) in per_query.items():
            t = query_time(layers)
            row = {
                "query_s": t,
                "construct_self": layers.get("construct.self_s", 0.0) / t,
                "load_table": layers.get("sources.load_table.s", 0.0) / t,
                "staging": layers.get("staging.s", 0.0) / t,
                "driver_action": layers.get("driver_action.s", 0.0) / t,
                "catalyst": layers.get("catalyst.s", 0.0) / t,
                "action": layers.get("action.s", 0.0) / t,
                "python_run": layers.get("python.run_s", 0.0) / t,
                "core_busy": layers.get("exec.task_run_s", 0.0) / (t * cpus()),
            }
            for k, v in row.items():
                rows.setdefault(q, {}).setdefault(k, []).append(v)
    return {q: {k: round(statistics.median(v), 4) for k, v in row.items()} for q, row in rows.items()}


def median_of(dicts: list[dict[str, float]], name: str) -> float:
    return statistics.median(d.get(name, 0.0) for d in dicts)


def prepare_environment() -> str | None:
    """Put the repository on the path of this process and of the Python
    workers, and keep Spark's scratch files under ``.perfbench/``.
    Returns why the checkout cannot run, or None."""
    for needed in ("spear_spark/__init__.py", "__spark_entry__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            return f"{needed} not found under {ROOT}"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    broken = prepare_environment()
    if broken:
        print(f"perfbench: {broken}", file=sys.stderr)
        return 2

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    setup_s, session_s = bench.setup()
    lat: dict[str, list[float]] = {q: [] for q in bench.w.queries}
    walls, rss, traced = [], [], []
    with RssSampler(bench.spark.sparkContext._gateway.proc.pid) as sampler:
        md5_s = md5_probe(bench.spark)
        for p in range(bench.passes):
            sampler.take_peak()
            walls.append(bench.plain_pass(lat))
            rss.append(sampler.take_peak())
            if bench.trace:
                traced.append(bench.traced_pass(p))
    bench.stop(traced)

    samples = [x for xs in lat.values() for x in xs]
    pct, tail = tail_percentile(lat)
    wall = statistics.median(walls)
    summary = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus(),
        "passes": bench.passes, "samples": len(samples), "tail_percentile": pct,
        "setup_s": setup_s, "session_s": session_s,
        "pass_walls_s": walls, "pass_rss_mb": [r / 2**20 for r in rss], "calib_md5_s": md5_s,
        "query_median_s": {q: statistics.median(v) for q, v in lat.items() if v},
    }
    if bench.trace:
        per_pass = [pass_layers(per_query) for _, per_query in traced]
        for layers, (traced_wall, _) in zip(per_pass, traced):
            layers["trace.wall_s"] = traced_wall
        values = {name: median_of(per_pass, name) for name in PER_LAYER}
        values["context.session_s"] = session_s
        values["trace.overhead_s"] = statistics.median(t[0] for t in traced) - wall
        values["calib.md5_s"] = md5_s
        metrics = {n: {"value": v, "unit": unit_of(n)} for n, v in values.items()}
        # the construct and action spans of a traced pass cover the work
        # of an untraced pass (catalyst is the traced pass's extra planning)
        explained = explained_frac(
            [d["construct.s"] + d["action.s"] for d in per_pass], walls)
        if abs(explained - 1) > RECONCILE_TOL:
            bench.fail("(trace)", f"layer spans explain {explained:.1%} of the untraced pass")
        summary["trace_explained_frac"] = explained
        summary["breakdown"] = breakdown(traced)
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "query_p50_s": query_p50(lat),
            "query_tail_s": tail,
            "rss_peak_mb": statistics.median(rss) / 2**20,
        }
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in values.items()}

    summary["failed_frac"] = bench.failed / bench.attempted
    summary["problems"] = bench.problems
    print(json.dumps(summary))
    print(json.dumps({
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
