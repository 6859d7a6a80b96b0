"""Repository benchmark: runs one workload of ``__spark_entry__.queries()``
entries over seeded inputs in one Spark driver process, closed loop (one query
at a time) on ``local[<cores>]``, checks every output against its DuckDB
oracle, and prints one JSON result as the last line of stdout.

Usage (from the repository root):
    python3 perfbench/run.py --workload integration_small --seed 1 --seconds 8 --trace 0

A pass runs every query of the workload once: build the DataFrame, then
write it to the workload's sink. The first pass in the fresh session is
the cold pass; hot passes follow, at least three and until ``--seconds``
have elapsed, and the hot metrics are their medians. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` records
spans and reads Spark's status stores, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "4g"
MB = float(1 << 20)


@dataclass(frozen=True)
class Workload:
    # query name -> tables it reads (for rows_per_s)
    reads: dict[str, tuple[str, ...]]
    # "parquet": each result written as parquet and read back to verify;
    # "collect": each result collected into the Python process as pandas
    sink: str


WORKLOADS = {
    # the paper's integration operators (position counts, standings,
    # surrogate keys, fuzzy best match, as-of join) at sf0.01: fixed
    # per-query cost dominates (build, eager jobs, Catalyst, file commit)
    "integration_small": Workload(
        reads={
            "q09_position_counts_multiway": ("lineitem", "supplier"),
            "q11_standings": ("orders", "customer"),
            "q13_surrogate_key": ("customer",),
            "q17_fuzzy_best_match": ("nation",),
            "q36_asof_join": ("events", "orders"),
        },
        sink="parquet",
    ),
    # embedding dedup on 1,000 x 64 floats (blocked pair scan + SemDeDup
    # k-means): Python-worker time and driver-side Lloyd training dominate
    "ann_vectors": Workload(
        reads={"q27_embedding_neardup": ("embeddings",)},
        sink="collect",
    ),
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / MB


class RssSampler:
    """Peak RSS of every process below this one (the Spark JVM and its
    Python workers), sampled from /proc every 0.2 s."""

    def __init__(self, layers) -> None:
        self._layers = layers
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.2):
            mb = self._layers.rss_mb(self._layers.descendants(me))
            self.peak_mb = max(self.peak_mb, mb)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class PassResult:
    traced: bool
    latencies: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return sum(self.latencies.values())

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value


class Bench:
    def __init__(self, args, layers, compare) -> None:
        self.layers = layers
        self.compare = compare
        self.workload = WORKLOADS[args.workload]
        self.tracer = layers.Tracer(enabled=bool(args.trace))
        self.data_dir = os.path.join(
            WORK, "data", f"perfbench-{args.workload}-s{args.seed}"
        )
        self.out_dir = os.path.join(WORK, "out")
        self.attempted = 0
        self.failed = 0
        self.cache_peak = (0.0, 0.0)
        self.rdds_after_clear = 0

    def oracles(self, entry_mod) -> dict:
        """DuckDB twin of every workload query over the generated
        inputs, computed once per run before the session starts."""
        import duckdb

        sqls = entry_mod.oracle_sql()

        def one(name: str):
            con = duckdb.connect()
            try:
                for table in os.listdir(self.data_dir):
                    view = table.removesuffix(".parquet")
                    path = os.path.join(self.data_dir, table)
                    con.execute(
                        f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')"
                    )
                return con.execute(sqls[name]).fetchdf()
            finally:
                con.close()

        names = list(self.workload.reads)
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            return dict(zip(names, pool.map(one, names)))

    def sink(self, name: str, df):
        """Write ``df`` to the workload's sink; return the result as
        pandas for verification (read back outside the timed region)."""
        if self.workload.sink == "collect":
            return df.toPandas()
        path = os.path.join(self.out_dir, name)
        df.write.mode("overwrite").parquet(path)
        return path

    def read_back(self, result, pr: PassResult):
        if self.workload.sink == "collect":
            return result
        import pyarrow.parquet as pq

        files = [f for f in os.listdir(result) if f.endswith(".parquet")]
        pr.add("sink.files", len(files))
        pr.add("sink.mb", dir_mb(result))
        return pq.read_table(result).to_pandas()

    def run_pass(self, spark, queries, oracles, label: str, traced: bool) -> PassResult:
        layers = self.layers
        tracer = self.tracer if traced else layers.Tracer(enabled=False)
        sc = spark.sparkContext
        pr = PassResult(traced=traced)
        pspan = tracer.start("pass", trace_id=label)
        for name in self.workload.reads:
            qid = f"{label}:{name}"
            qspan = tracer.start("query", trace_id=qid)
            self.attempted += 1
            first_execution = layers.sql_execution_count(spark) if traced else 0
            try:
                if traced:
                    sc.setJobGroup(f"{qid}/build", qid)
                t0 = time.perf_counter()
                span = tracer.start("build")
                df = queries[name](spark, self.data_dir)
                tracer.end(span)
                t_build = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"{qid}/exec", qid)
                    span = tracer.start("plan")
                    plan = layers.plan_counts(df)
                    tracer.end(span)
                t_exec = time.perf_counter()
                span = tracer.start("execute")
                result = self.sink(name, df)
                tracer.end(span)
                t1 = time.perf_counter()
                pr.latencies[name] = t1 - t0
                span = tracer.start("verify")
                verdict = self.compare(name, self.read_back(result, pr), oracles[name])
                tracer.end(span)
                if not (verdict == "OK" or verdict.startswith("FLOAT-INEXACT")):
                    raise AssertionError(f"{name}: {verdict}")
            except Exception:
                self.failed += 1
                print(f"FAILED {qid}\n{traceback.format_exc()}", file=sys.stderr)
                tracer.unwind(qspan)
                continue
            finally:
                if traced:
                    sc.setJobGroup("perfbench", "between queries")
            tracer.end(qspan)
            if traced:
                build_jobs = layers.group_jobs(sc, f"{qid}/build")
                exec_jobs = layers.group_jobs(sc, f"{qid}/exec")
                for key, value in plan.items():
                    pr.add(key, value)
                for key, value in layers.stage_metrics(sc, build_jobs + exec_jobs).items():
                    pr.add(key, value)
                udf = layers.udf_metrics(spark, first_execution, build_jobs + exec_jobs)
                for key, value in udf.items():
                    pr.add(key, value)
                pr.add("entry.build_s", t_build - t0)
                pr.add("entry.build_jobs", len(build_jobs))
                pr.add("exec.s", t1 - t_exec)
                pr.add("exec.jobs", len(exec_jobs))
                mem, disk, _ = layers.cached_mb(sc)
                self.cache_peak = (
                    max(self.cache_peak[0], mem), max(self.cache_peak[1], disk)
                )
        # a consumer releases cached relations between passes
        spark.catalog.clearCache()
        if traced:
            self.rdds_after_clear = max(
                self.rdds_after_clear, self.layers.cached_mb(sc)[2]
            )
        tracer.end(pspan)
        return pr


def setup_session(tracer):
    """Start the session the way a caller does; return it with the
    duration of each step."""
    from lsdm_motogp_data_integration_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    steps = {}
    span = tracer.start("get_spark")
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    steps["session.get_spark_s"] = time.perf_counter() - t0
    tracer.end(span)
    span = tracer.start("first_job")
    t0 = time.perf_counter()
    spark.range(1000).count()
    steps["session.first_job_s"] = time.perf_counter() - t0
    tracer.end(span)
    # spawn the Arrow Python worker pool that pandas UDFs reuse
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.functions.similarity import (
        jaro_winkler_udf,
    )

    span = tracer.start("worker_pool")
    t0 = time.perf_counter()
    spark.range(512).repartition(64).select(
        jaro_winkler_udf(F.lit("a"), F.lit("b"))
    ).count()
    steps["session.worker_pool_s"] = time.perf_counter() - t0
    tracer.end(span)
    return spark, steps


def stop_session(spark, layers) -> None:
    """Stop the session and its JVM, then wait until every process this
    run started has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = layers.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tmp_entries() -> dict[str, float]:
    out = {}
    for name in os.listdir("/tmp"):
        path = os.path.join("/tmp", name)
        if not os.path.islink(path):
            out[name] = os.path.getmtime(path)
    return out


def main() -> int:
    interp_s = process_age_s()
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description="Repository benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    load1_before = os.getloadavg()[0]
    cores = os.cpu_count() or 1
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
    )

    # program import counts toward set-up; the benchmark's own modules not
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry_mod

    import_s = time.perf_counter() - t0
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen
    import layers
    from bench import _cpu_ref_sec
    from check_correctness import compare

    ticks_before = layers.cpu_ticks()
    bench = Bench(args, layers, compare)
    tracer = bench.tracer
    run_span = tracer.start("run", trace_id=f"{args.workload}:s{args.seed}")
    cpu_ref = min(_cpu_ref_sec(iters=2000) for _ in range(2))
    rows = gen.generate(args.workload, args.seed, bench.data_dir)
    rows_per_pass = sum(
        rows[t] for tables in bench.workload.reads.values() for t in tables
    )
    tmp_before = tmp_entries()
    oracles = bench.oracles(entry_mod)
    queries = entry_mod.queries()

    with RssSampler(layers) as rss:
        setup_span = tracer.start("setup")
        spark, session = setup_session(tracer)
        tracer.end(setup_span)
        setup_s = interp_s + import_s + sum(session.values())
        conf = spark.sparkContext.getConf()
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        driver_mem = conf.get("spark.driver.memory")
        traced = bool(args.trace)
        cold = bench.run_pass(spark, queries, oracles, "cold", traced)
        if traced:
            # the JIT still compiles through the first hot pass (its CPU
            # time runs ~40% above later passes'); a traced run drops it
            # so the overhead below compares warm passes only
            bench.run_pass(spark, queries, oracles, "warm", False)
        hot: list[PassResult] = []
        t_hot = time.perf_counter()
        # at least three hot passes: their median discounts the first
        # hot pass's JIT warm-up and any one pass hit by a burst of CPU
        # time stolen by other guests of the VM host
        while len(hot) < (4 if traced else 3) or (
            time.perf_counter() - t_hot < args.seconds
        ):
            # a traced run interleaves untraced passes, in the order
            # U T T U ..., so the overhead is measured within one session
            mode = traced and len(hot) % 4 in (1, 2)
            hot.append(bench.run_pass(
                spark, queries, oracles, f"hot{len(hot)}", mode))
        stop_session(spark, layers)
    tracer.end(run_span)

    disk_left_mb = _disk_left_mb(tmp_before, tmp_entries())
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    load1_after = os.getloadavg()[0]
    ticks_after = layers.cpu_ticks()
    steal_frac = (ticks_after[0] - ticks_before[0]) / max(
        1, ticks_after[1] - ticks_before[1]
    )

    timed = [p for p in hot if p.traced == traced]
    hot_pass_s = layers.median([p.seconds for p in timed])
    query_p50_s = layers.median([s for p in timed for s in p.latencies.values()])
    failed_frac = bench.failed / bench.attempted
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold.seconds, "s"),
        "hot_pass_s": (hot_pass_s, "s"),
        "query_p50_s": (query_p50_s, "s"),
        "rows_per_s": (layers.rows_per_s(rows_per_pass, hot_pass_s), "1/s"),
    }
    # peak RSS, failed share and /tmp growth are printed with the
    # end-to-end metrics; the JSON carries them as layer metrics
    # (RSS does not repeat within a tenth; the other two read 0)
    print(
        "end_to_end "
        + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items())
        + f" peak_rss_mb={rss.peak_mb:.1f}MB failed_frac={failed_frac:.4f}"
        + f" disk_left_mb={disk_left_mb:.4f}MB"
    )
    print(f"setup interp_s={interp_s:.4f} import_s={import_s:.4f} "
          + " ".join(f"{k}={v:.4f}" for k, v in session.items()))
    noise = {
        "noise.cpu_ref_s": cpu_ref,
        "noise.load1_before": load1_before,
        "noise.load1_after": load1_after,
        "noise.steal_frac": steal_frac,
        "config.cores": float(cores),
        "config.shuffle_partitions": float(shuffle_partitions),
        "config.driver_mem_gb": _gb(driver_mem),
        "disk.left_mb": disk_left_mb,
        "rss.peak_mb": rss.peak_mb,
        "run.failed_frac": failed_frac,
    }
    print("noise " + " ".join(f"{k}={v:.4f}" for k, v in noise.items())
          + f" passes={len(hot)} wall_s={time.perf_counter() - t_start:.1f}")
    for name in bench.workload.reads:
        lat = [p.latencies[name] for p in timed if name in p.latencies]
        if lat:
            print(f"query {name} hot_s={layers.median(lat):.4f} "
                  f"cold_s={cold.latencies.get(name, float('nan')):.4f}")

    if traced:
        untraced = [p for p in hot if not p.traced]
        metrics = per_layer_metrics(bench, layers, session, timed, untraced, noise)
        print(f"tracing overhead_s={metrics['trace.overhead_s']['value']:.4f} "
              f"(traced {metrics['trace.hot_pass_s']['value']:.4f} s - untraced "
              f"{metrics['trace.untraced_hot_pass_s']['value']:.4f} s per hot pass)")
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-s{args.seed}.json"
        )
        tracer.write(trace_path)
        print(f"trace {trace_path} spans={len(tracer.spans)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


PASS_LAYERS = (
    "entry.build_s", "entry.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.plan_nodes", "catalyst.plan_exchanges",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb",
    "udf.nodes", "udf.run_s", "udf.start_s", "udf.init_s", "udf.sent_mb",
    "udf.rows", "sink.files", "sink.mb",
)
SPANS = ("run", "setup", "get_spark", "first_job", "worker_pool", "pass",
         "query", "build", "plan", "execute", "verify")


def per_layer_metrics(bench, layers, session, timed, untraced, noise) -> dict:
    """Per-layer metrics of a traced run: per-pass layer values are
    means over the traced hot passes."""
    n = len(timed)
    pass_s = sum(p.seconds for p in timed) / n
    out = {k: sum(p.layers.get(k, 0.0) for p in timed) / n for k in PASS_LAYERS}
    out["entry.build_share"] = out["entry.build_s"] / pass_s
    out["exec.busy_frac"] = out["exec.task_run_s"] / (
        out["exec.s"] * noise["config.cores"]
    )
    out |= session
    out["cache.mem_mb_peak"], out["cache.disk_mb_peak"] = bench.cache_peak
    out["cache.rdds_after_clear"] = float(bench.rdds_after_clear)
    traced_hot = layers.median([p.seconds for p in timed])
    untraced_hot = layers.median([p.seconds for p in untraced])
    out["trace.hot_pass_s"] = traced_hot
    out["trace.untraced_hot_pass_s"] = untraced_hot
    out["trace.overhead_s"] = traced_hot - untraced_hot
    self_s = layers.self_times(bench.tracer.spans)
    for name in SPANS:
        out[f"span.{name}.self_s"] = self_s.get(name, 0.0)
    out |= noise
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in out.items()}


def layer_unit(key: str) -> str:
    """Unit of a per-layer metric, from the last unit word in its name."""
    units = {"s": "s", "ms": "ms", "mb": "MB", "gb": "GB", "frac": "frac",
             "share": "frac"}
    if key.startswith("noise.load"):
        return "load"
    for word in reversed(re.split(r"[._]", key)):
        if word in units:
            return units[word]
    return "count"


def _gb(size: str) -> float:
    """A JVM memory size such as ``4g`` or ``512m`` in GiB."""
    scale = {"k": 1 / (1 << 20), "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    return float(size[:-1]) * scale[size[-1].lower()]


def _disk_left_mb(before: dict, after: dict) -> float:
    """MB in the top-level /tmp entries this run created or changed."""
    total = 0.0
    for name, mtime in after.items():
        path = os.path.join("/tmp", name)
        if before.get(name) == mtime:
            continue
        total += dir_mb(path) if os.path.isdir(path) else (
            os.path.getsize(path) / MB
        )
    return total


if __name__ == "__main__":
    sys.exit(main())
