"""Closed-loop benchmark of the engine's declared queries.

Run from the repository root:

    python3 perfbench/run.py --workload table_ops --seed 1 --seconds 5 --trace 0

One client in a closed loop: one driver process on ``local[nproc]``
runs the workload's queries one after another.  A pass runs every query
of the workload once, in an order drawn from ``--seed``: the builder
call ``fn(spark, data_dir)`` (eager work: commits, microbatches,
checkpoints), then a ``noop`` write of the returned plan.  Each phase
gets its own Spark job group, so jobs are counted per phase.

The inputs are the engine's sf0.01 test tables, kept in
``perfbench/data/`` (sf0.001 too, for the smoke tests); ``--seed`` sets
the order of the queries in each pass.  Before timing, every query runs
once and its result is compared with the query's DuckDB oracle
(``compare`` from ``scripts/oracle_check.py``; DuckDB evaluates the
oracles in a thread while the Spark session starts).  That first, cold
execution is the warm-up, and the engine's time in it counts in
``setup_s``.  Each query runs inside its own temporary directory, which
is measured and deleted after the query.

With ``--trace 0`` the last stdout line carries the end-to-end metrics a
regression check can bound and the line before carries all of them;
with ``--trace 1`` passes alternate untraced and traced, the last line
carries the per-layer metrics and the line before the per-layer self
times.  Every run also writes a JSON
artifact (per-pass and per-query times, load average around each pass,
disk and job counts, and in traced runs the spans) to
``.perfbench_out/``.  Exit status: 0 when every query ran and matched
its oracle, 1 otherwise, 2 when the program is not in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, rewrite_ratio, self_times, tail_percentile  # noqa: E402
from tracing import (  # noqa: E402
    DELTA_LOG_OPS, MACK_MODULES, OPERATOR_MODULES, Tracer, install_engine_wrappers,
)
from workloads import WORKLOADS  # noqa: E402

DATA_DIR = os.path.join(HERE, "data")
SCALES = ("0.01", "0.001")

PROGRAM_FILES = ("__spark_entry__.py", "mack_spark/__init__.py", "scripts/oracle_check.py")
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"

# End-to-end metrics on the last line of an untraced run.  The others
# (per-query latency, fail rate, memory, bytes stored) are printed on the
# line before: on a shared 4-vCPU host one query's time moves 10-20% from
# run to run, more than a bound a regression check can use.
END_TO_END = ("pass_s", "setup_s")
STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
}
DISK_COUNTS = ("delta_log.commits", "delta_log.data_files",
               "delta_log.data_bytes", "delta_log.log_bytes",
               "delta_log.rewritten_files")
SPARK_COUNTS = ("spark.jobs_builder", "spark.jobs_exec", "spark.stages",
                "spark.tasks", "spark.tasks_failed")


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics printed on the last line of a traced run.

    Times are listed only for layers every workload reaches; the time of
    a layer only some workloads reach would read zero on the others, so
    it is printed on the line before (``layer_detail_units``)."""
    units = {"peak_rss_mb": "MB", "stored_mb": "MB",
             "entry.builder_s": "s", "entry.exec_s": "s",
             "sources.load_table.s": "s", "sources.load_table.calls": "count"}
    units.update({m: "count" for m in SPARK_COUNTS})
    units.update({f"delta_log.{op}.calls": "count" for op in DELTA_LOG_OPS})
    units.update({m: ("bytes" if m.endswith("_bytes") else "count") for m in DISK_COUNTS})
    units["log_store.put_if_absent.calls"] = "count"
    units.update({f"{m}.calls": "count" for m in MACK_MODULES})
    units["sql_ddl.sql.calls"] = "count"
    units["sql_dml.execute.calls"] = "count"
    units["streaming.batches"] = "count"
    units["streaming.rows_in"] = "count"
    units.update({f"operators.{m}.calls": "count" for m in OPERATOR_MODULES})
    units["trace.overhead_frac"] = "ratio"
    return units


def layer_detail_units() -> dict[str, str]:
    """Per-layer self times and the DML rewrite ratio, printed on the line
    before the per-layer metrics."""
    units = {f"delta_log.{op}.s": "s" for op in DELTA_LOG_OPS}
    units["log_store.put_if_absent.s"] = "s"
    units.update({f"{m}.s": "s" for m in MACK_MODULES})
    units["sql_ddl.sql.s"] = "s"
    units["sql_dml.execute.s"] = "s"
    units.update({m: "ms" for m in STREAM_DURATIONS})
    units.update({f"operators.{m}.s": "s" for m in OPERATOR_MODULES})
    units["delta_log.rewrite_ratio"] = "ratio"
    return units


# ---------------------------------------------------------------------------
# environment


def _program_present(root: str) -> bool:
    return all(os.path.isfile(os.path.join(root, f)) for f in PROGRAM_FILES)


def _prepare_env(work: str) -> dict[str, str]:
    dirs = {k: os.path.join(work, k) for k in
            ("queries", "tmp", "jvm-tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = dirs["tmp"]
    return dirs


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _peak_rss_mb() -> float:
    """VmHWM of this driver process plus the JVM it launched."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) * 1024 / 1e6


def _shutdown_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# per-query bookkeeping (always outside the timed window)

_COMMIT_FILE = re.compile(r"^\d{20}\.json$")


def _disk(qdir: str) -> dict:
    """Bytes a query left behind, and the Delta tables among them."""
    out = {"bytes": 0, "tables": [], "delta_log.commits": 0,
           "delta_log.data_files": 0, "delta_log.data_bytes": 0,
           "delta_log.log_bytes": 0}
    delta_roots = []
    for root, dirs, files in os.walk(qdir):
        if "_delta_log" in dirs:
            delta_roots.append(root)
        in_table = any(root == t or root.startswith(t + os.sep) for t in delta_roots)
        in_log = "_delta_log" in root.split(os.sep)
        for f in files:
            try:
                size = os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
            out["bytes"] += size
            if not in_table:
                continue
            if in_log:
                out["delta_log.log_bytes"] += size
                if _COMMIT_FILE.match(f):
                    out["delta_log.commits"] += 1
            elif f.endswith(".parquet"):
                out["delta_log.data_files"] += 1
                out["delta_log.data_bytes"] += size
    out["tables"] = delta_roots
    return out


def _operation_metrics(spark, tables: list[str]) -> list[dict]:
    from mack_spark.sources.delta_log import DeltaProtocolError, DeltaProtocolTable

    metrics = []
    for path in tables:
        try:
            history = DeltaProtocolTable(spark, path).history()
        except (OSError, DeltaProtocolError):  # a table the query dropped again
            continue
        metrics += [h.get("operationMetrics") or {} for h in history]
    return metrics


def _rewritten_files(op_metrics: list[dict]) -> int:
    return sum(int(m.get("numTargetFilesRemoved", 0)) + int(m.get("numRemovedFiles", 0))
               for m in op_metrics)


class _JobCounter:
    """Counts Spark jobs, stages and tasks per phase through job groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._bus = self.sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def group(self, name: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(name))

    def stages_tasks(self, jobs: set[int]) -> tuple[int, int, int]:
        stages: set[int] = set()
        tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                if s in stages:
                    continue
                si = self.tracker.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages.add(s)
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return len(stages), tasks, failed


class _StreamStats:
    """StreamingQueryListener totals, registered for traced passes only."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self
        self.reset()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                stats.totals["streaming.batches"] += 1
                stats.totals["streaming.rows_in"] += int(p.numInputRows or 0)
                for metric, key in STREAM_DURATIONS.items():
                    stats.totals[metric] += int(d.get(key, 0) or 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def reset(self) -> None:
        self.totals = dict.fromkeys(
            ["streaming.batches", "streaming.rows_in", *STREAM_DURATIONS], 0)


# ---------------------------------------------------------------------------
# phases


class _TimedQuery:
    """Wraps a query so the output check times only the engine's work:
    the builder call and the collection of its result."""

    def __init__(self, fn) -> None:
        self.fn = fn
        self.seconds = 0.0

    def __call__(self, spark, data_dir):
        t = time.perf_counter()
        self.df = self.fn(spark, data_dir)
        self.seconds += time.perf_counter() - t
        return self

    def toPandas(self):
        t = time.perf_counter()
        out = self.df.toPandas()
        self.seconds += time.perf_counter() - t
        return out


def _fresh_query_dir(dirs: dict, tag: str) -> str:
    qdir = tempfile.mkdtemp(prefix=f"{tag}-", dir=dirs["queries"])
    tempfile.tempdir = qdir
    return qdir


def _release_query_dir(dirs: dict, qdir: str) -> None:
    tempfile.tempdir = dirs["tmp"]
    shutil.rmtree(qdir, ignore_errors=True)


def oracle_results(entry, tables, names, data_dir) -> dict:
    """The DuckDB result of each named query's oracle (or the exception
    it raised).  Runs in a thread while the Spark session starts."""
    import duckdb

    # The ANN and BPE oracles inline state fitted on the test corpora,
    # which the entry module names by absolute path; point it at the
    # copy in this checkout so the check reads nothing outside it.
    entry._GATE_SF_DIRS = (data_dir,)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out: dict = {}
    for name in names:
        if name not in oracles:
            continue
        try:
            out[name] = (oracles[name], con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            out[name] = (oracles[name], e)
    con.close()
    return out


class _Oracle:
    """Stands in for the DuckDB connection ``compare`` queries: hands back
    the result computed ahead for this query's oracle."""

    def __init__(self, result) -> None:
        self.result = result

    def execute(self, sql):
        if isinstance(self.result, Exception):
            raise self.result
        return self

    def df(self):
        return self.result.copy()


def output_check(spark, entry, compare, oracles, names, data_dir, dirs) -> dict:
    """Compare each query with its DuckDB oracle result.  Per query: the
    verdict, the engine's seconds (the warm-up share of ``setup_s``) and
    the total."""
    queries = entry.queries()
    verdicts: dict[str, dict] = {}
    for name in names:
        qdir = _fresh_query_dir(dirs, "check")
        query = _TimedQuery(queries[name])
        t = time.perf_counter()
        try:
            if name not in oracles:
                verdict = "NO ORACLE"
            else:
                sql, result = oracles[name]
                verdict = compare(name, spark, _Oracle(result), data_dir, sql, query)
        except Exception as e:  # noqa: BLE001
            verdict = f"ERROR {type(e).__name__}: {str(e)[:300]}"
        verdicts[name] = {"verdict": verdict, "engine_s": query.seconds,
                          "total_s": time.perf_counter() - t}
        _release_query_dir(dirs, qdir)
    return verdicts


def timed_window(spark, entry, workload, data_dir, dirs, seed, seconds, trace):
    """Run timed passes until ``seconds`` have passed.  With ``trace`` the
    passes alternate untraced and traced, starting untraced, and at
    least three run, so an untraced pass follows a traced one.  Returns
    the passes, the failures and the tracer."""
    queries = entry.queries()
    rng = random.Random(seed)
    jobs = _JobCounter(spark)
    sc = spark.sparkContext
    tracer = stream = None
    if trace:
        tracer = Tracer()
        install_engine_wrappers(tracer)
        stream = _StreamStats()
    passes: list[dict] = []
    failures: list[dict] = []
    start = time.perf_counter()
    while True:
        k = len(passes)
        traced = bool(trace) and k % 2 == 1
        order = rng.sample(list(workload.queries), len(workload.queries))
        record = {"pass": k, "traced": traced, "order": order,
                  "loadavg_before": _loadavg(), "queries": {}}
        if traced:
            stream.reset()
            spark.streams.addListener(stream.listener)
        first_span = len(tracer.spans) if tracer else 0
        for name in order:
            qdir = _fresh_query_dir(dirs, f"p{k}")
            group = f"perfbench-p{k}-{name}"
            jobs.drain()
            ungrouped = jobs.ungrouped()
            q = {}
            if traced:
                tracer.query = f"p{k}:{name}"
            try:
                sc.setJobGroup(group + "-builder", f"{name} builder")
                with tracer.phase("entry.builder") if traced else nullcontext():
                    t0 = time.perf_counter()
                    df = queries[name](spark, data_dir)
                    t1 = time.perf_counter()
                sc.setJobGroup(group + "-exec", f"{name} exec")
                with tracer.phase("entry.exec") if traced else nullcontext():
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                q.update(builder_s=t1 - t0, exec_s=t3 - t2)
            except Exception as e:  # noqa: BLE001
                q["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                failures.append({"pass": k, "query": name, "error": q["error"]})
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jobs.drain()
            builder_jobs = jobs.group(group + "-builder") | (jobs.ungrouped() - ungrouped)
            exec_jobs = jobs.group(group + "-exec")
            stages, tasks, tasks_failed = jobs.stages_tasks(builder_jobs | exec_jobs)
            q.update({"spark.jobs_builder": len(builder_jobs),
                      "spark.jobs_exec": len(exec_jobs), "spark.stages": stages,
                      "spark.tasks": tasks, "spark.tasks_failed": tasks_failed})
            disk = _disk(qdir)
            if traced:
                disk["op_metrics"] = _operation_metrics(spark, disk["tables"])
                disk["delta_log.rewritten_files"] = _rewritten_files(disk["op_metrics"])
            q["disk"] = disk
            _release_query_dir(dirs, qdir)
            record["queries"][name] = q
        if traced:
            jobs.drain()
            spark.streams.removeListener(stream.listener)
            record["streaming"] = dict(stream.totals)
            record["spans"] = (first_span, len(tracer.spans))
        record["loadavg_after"] = _loadavg()
        ok = [q for q in record["queries"].values() if "error" not in q]
        record["seconds"] = sum(q["builder_s"] + q["exec_s"] for q in ok)
        record["stored_bytes"] = sum(q["disk"]["bytes"] for q in record["queries"].values())
        passes.append(record)
        if len(passes) >= (3 if trace else 1) and time.perf_counter() - start >= seconds:
            break
    if tracer:
        tracer.uninstall()
    return passes, failures, tracer


# ---------------------------------------------------------------------------
# metrics


def end_to_end(passes: list[dict], setup_s: float, peak_rss_mb: float,
               fail_rate: float) -> dict[str, dict]:
    """Every end-to-end metric, from the untraced timed passes."""
    plain = [p for p in passes if not p["traced"]]
    per_query: dict[str, list[float]] = {}
    for p in plain:
        for name, q in p["queries"].items():
            if "error" not in q:
                per_query.setdefault(name, []).append(q["builder_s"] + q["exec_s"])
    samples = [t for ts in per_query.values() for t in ts]
    if not samples:
        return {}
    tail = tail_percentile(samples)
    values = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([p["seconds"] for p in plain]), "s"),
        "query_p50_s": (median(samples), "s"),
        "query_tail_s": (tail[1] if tail else None, "s"),
        "slowest_query_s": (max(median(v) for v in per_query.values()), "s"),
        "fail_rate": (fail_rate, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "stored_mb": (median([p["stored_bytes"] for p in plain]) / 1e6, "MB"),
    }
    out = {n: {"value": v, "unit": u} for n, (v, u) in values.items()}
    out["query_tail_s"].update(percentile=tail[0] if tail else None, samples=len(samples))
    out["per_query_median_s"] = {k: median(v) for k, v in sorted(per_query.items())}
    return out


def _layer_key(name: str) -> str:
    parts = name.split(".")
    if parts[0] == "operators":
        return ".".join(parts[:2])
    if parts[0] in MACK_MODULES:
        return parts[0]
    return name


def per_layer(passes: list[dict], tracer: Tracer) -> dict:
    """Per-layer values of each traced pass, then the median over passes."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    spans = tracer.spans
    for s in spans:
        if s["end"] is None:
            s["end"] = s["start"]
    selfs = self_times(spans)
    keys = [_layer_key(s["name"]) for s in spans]
    rows = []
    for p in traced:
        lo, hi = p["spans"]
        row: dict[str, float] = {}
        for i in range(lo, hi):
            key, parent = keys[i], spans[i]["parent"]
            if key.startswith("entry."):
                row[key + "_s"] = row.get(key + "_s", 0.0) + spans[i]["end"] - spans[i]["start"]
                continue
            row[key + ".s"] = row.get(key + ".s", 0.0) + selfs[i]
            if parent is None or keys[parent] != key:
                row[key + ".calls"] = row.get(key + ".calls", 0) + 1
        for q in p["queries"].values():
            for m in SPARK_COUNTS:
                row[m] = row.get(m, 0) + q[m]
            for m in DISK_COUNTS:
                row[m] = row.get(m, 0) + q["disk"].get(m, 0)
        row.update(p["streaming"])
        rows.append(row)
    names = set(per_layer_units()) | set(layer_detail_units())
    out = {n: median([r.get(n, 0) for r in rows]) for n in sorted(names)}
    # This engine's operationMetrics carry file counts but no row counts
    # yet, so the ratio stays None until its commits record them.
    ratios = [rewrite_ratio([m for q in p["queries"].values()
                             for m in q["disk"].get("op_metrics", [])]) for p in traced]
    ratios = [r for r in ratios if r is not None]
    out["delta_log.rewrite_ratio"] = median(ratios) if ratios else None
    # The first pass runs while the JIT is still warming (10-25% slower
    # than the next), so the traced passes are set against the untraced
    # passes that follow them.
    later = [p for p in plain if p["pass"] > traced[0]["pass"]]
    out["trace.overhead_frac"] = (
        median([p["seconds"] for p in traced]) / median([p["seconds"] for p in later]) - 1.0)
    return out


def missing_spans(workload, tracer: Tracer) -> list[str]:
    seen = {s["name"] for s in tracer.spans}
    return [e for e in workload.expected_spans
            if not any(n == e or (e.endswith(".") and n.startswith(e)) for n in seen)]


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0],
                    help="scale factor of the input tables")
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    root = os.getcwd()
    if not _program_present(root):
        print(f"perfbench: no engine sources in {root} "
              f"(expected {', '.join(PROGRAM_FILES)})", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, WORK_DIR, f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, OUT_DIR)
    os.makedirs(out_dir, exist_ok=True)
    dirs = _prepare_env(work)
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "scripts"))
    spark = None
    try:
        import __spark_entry__ as entry
        from mack_spark.session import get_session
        from oracle_check import TABLES, compare

        t_imported = time.perf_counter()
        data_dir = os.path.join(DATA_DIR, f"sf{args.sf}")
        # The oracles need no Spark: evaluate them while the JVM starts.
        pool = ThreadPoolExecutor(max_workers=1)
        oracles = pool.submit(oracle_results, entry, TABLES, workload.queries, data_dir)

        t_session = time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session

        t_oracles = time.perf_counter()
        oracles = oracles.result()
        pool.shutdown()
        oracle_wait_s = time.perf_counter() - t_oracles
        check_order = random.Random(args.seed).sample(
            list(workload.queries), len(workload.queries))
        verdicts = output_check(
            spark, entry, compare, oracles, check_order, data_dir, dirs)
        warm_s = sum(v["engine_s"] for v in verdicts.values())
        setup_s = (t_imported - t_begin) + session_s + warm_s
        mismatches = {n: v["verdict"] for n, v in verdicts.items()
                      if not v["verdict"].startswith("OK")}

        passes, failures, tracer = timed_window(
            spark, entry, workload, data_dir, dirs, args.seed, args.seconds,
            args.trace)
        peak_rss_mb = _peak_rss_mb()
        t_window_end = time.perf_counter()
    finally:
        if spark is not None:
            _shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass
    teardown_s = time.perf_counter() - t_window_end

    attempted = len(verdicts) + sum(len(p["queries"]) for p in passes)
    failed = len(mismatches) + len(failures)
    e2e = end_to_end(passes, setup_s, peak_rss_mb, failed / attempted)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "nproc": os.environ["SPARK_GRAFT_CPUS"],
        "setup": {"import_s": t_imported - t_begin, "session_s": session_s,
                  "oracle_wait_s": oracle_wait_s, "warm_check_s": warm_s,
                  "teardown_s": teardown_s,
                  "run_s": time.perf_counter() - t_begin},
        "check": verdicts, "failures": failures, "end_to_end": e2e,
        "passes": [{k: v for k, v in p.items() if k != "spans"}
                   for p in passes],
    }
    if not e2e:
        metrics = {}
    elif args.trace:
        layers = per_layer(passes, tracer)
        layers.update(peak_rss_mb=e2e["peak_rss_mb"]["value"],
                      stored_mb=e2e["stored_mb"]["value"])
        missing = missing_spans(workload, tracer)
        artifact["per_layer"] = layers
        artifact["missing_spans"] = missing
        with open(os.path.join(out_dir, f"{tag}-spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        print(json.dumps({"layer_detail": {n: {"value": layers[n], "unit": u}
                                           for n, u in layer_detail_units().items()}}))
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer_units().items()}
        if missing:
            print(f"perfbench: traced run recorded no span for {missing}; "
                  "a wrapper was bypassed", file=sys.stderr)
            failed += 1
    else:
        print(json.dumps({"end_to_end": e2e}))
        metrics = {n: e2e[n] for n in END_TO_END}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for name, verdict in mismatches.items():
        print(f"perfbench: {name}: {verdict}", file=sys.stderr)
    for f in failures:
        print(f"perfbench: pass {f['pass']} {f['query']}: {f['error']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
