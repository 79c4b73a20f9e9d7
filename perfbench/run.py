"""End-to-end benchmark of the registered query surface.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

One process, one closed-loop client: every pass submits the workload's
queries in a fixed order, and every query is rebuilt from its registry
``fn()`` on every pass, so plan construction and the Spark jobs it
launches (eager checkpoints, sketch probes, bounded collects) count
toward the pass. Spark runs ``local[<cpus>]`` with cpus from
``os.cpu_count()``.

A run:

1. generates the input tables from ``--seed`` (``datagen.py``), or,
   with ``--data DIR``, reads the tables already in ``DIR``;
2. sets up a session three times (session start, input load or cache,
   warm-up) and reports the median as ``setup_s``;
3. runs a cold pass, then warm passes until ``--seconds`` have passed
   (at least four), keeping every query's rows;
4. runs the calibration op three times, for the context block; stops
   Spark and checks every result against the DuckDB oracle;
5. prints one line per metric, a ``context`` line, and, last, the result
   object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every pass runs under per-query job groups and the metrics
are the per-layer counters of ``tracer.py``, medians over warm passes.
The full result, with per-pass series and a per-query breakdown, is
written under ``perfbench/_work/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "data_wrangling_openstreetmap_spark"
WORK = os.path.join(BENCH_DIR, "_work")

SETUP_REPEATS = 3
MIN_WARM_PASSES = 4
CALIBRATION_RUNS = 3

# bench.py's cached-input partition counts (rows per task, not cores).
BENCH_PARTITIONS = {"lineitem": 16, "orders": 8, "events": 8, "documents": 8, "embeddings": 16}


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # the inputs the queries read
    sf: float
    # "bench": bench.py's posture (8 shuffle partitions, AQE off, inputs
    # persisted in memory). "production": get_spark's defaults (AQE on,
    # 32 shuffle partitions, parquet scans, no input cache).
    posture: str


WORKLOADS = {
    "headline": Workload(
        (
            "q1_pricing_summary",
            "q2_join_chain",
            "q3_topk_window",
            "q4_semi_join",
            "q5_distinct_agg",
            "q6_json_extract",
            "q7_tumbling_window",
            "q8_rollup",
            "q9_text_stats",
        ),
        tables=("region", "nation", "customer", "orders", "lineitem", "events", "documents"),
        sf=0.01,
        posture="bench",
    ),
    "similarity": Workload(
        (
            "x2_similarity_sql",
            "l2_jaccard_pairs",
            "l2_containment_join",
            "l2_embedding_neardup",
        ),
        tables=("documents", "embeddings"),
        sf=0.006,
        posture="production",
    ),
}


def _spec_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, by name, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _prepare_environment() -> None:
    """Point Python workers at the package, and every scratch file the
    JVM and Python write at the work directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # A 1 GiB heap, not get_spark's 8 GiB: the inputs are small, and the
    # host's memory is shared.
    os.environ["DWOS_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            # A fixed young generation: G1 then does not resize it by
            # pause-time goals, so the JVM's share of peak_rss_mb follows
            # what the old generation retains (cached blocks, broadcasts,
            # aggregation buffers) rather than GC sizing decisions. No
            # perf-data file in the system's /tmp.
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -Xmn256m -XX:-UsePerfData"),
            "--conf",
            shlex.quote(f"spark.local.dir={tmp}"),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"),
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    sys.path.insert(0, ROOT)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:  # the process ended while we looked
        pass
    return 0.0


def _peak_rss_mb() -> float:
    """VmHWM summed over this process and all its descendants: the JVM,
    the Python worker daemon and its workers."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree = {os.getpid()}
    grew = True
    while grew:
        new = {pid for pid, ppid in parent.items() if ppid in tree and pid not in tree}
        tree |= new
        grew = bool(new)
    return sum(_vm_hwm_mb(pid) for pid in tree)


def _source_digest() -> str:
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(
        self, name: str, wl: Workload, seed: int, seconds: float, trace: bool,
        data: str | None = None,
    ):
        self.name = name
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = os.cpu_count() or 1
        # Generated inputs, or the tables of an existing directory.
        self.generated = data is None
        self.data_dir = os.path.join(WORK, f"data-{name}-{seed}") if data is None else data
        self.spark = None
        self.tracer = None
        # Every query run as (query, record), and per query each distinct
        # result once, as (row multiset, column names).
        self.records: list[tuple[str, dict]] = []
        self.results: dict[str, list[tuple[Counter, list[str]]]] = {}
        self.failures: list[str] = []
        self.layer = {}  # layer metrics measured once per run
        self.per_query: dict[str, list[dict]] = {}

    # -- inputs and the correctness check ---------------------------------

    def make_inputs(self) -> None:
        import datagen
        import pyarrow.parquet as pq

        if self.generated:
            shutil.rmtree(self.data_dir, ignore_errors=True)
            self.row_counts = datagen.write(self.data_dir, self.seed, self.wl.sf)
        else:
            self.row_counts = {
                t: pq.ParquetFile(os.path.join(self.data_dir, f"{t}.parquet")).metadata.num_rows
                for t in self.wl.tables
            }

    def remove_inputs(self) -> None:
        if self.generated:
            shutil.rmtree(self.data_dir, ignore_errors=True)

    def verify(self) -> None:
        """Take every query's expected rows from the DuckDB oracle and
        check each distinct result against them. Runs after the session
        has stopped, so the oracle's memory and time stay out of the
        measurement."""
        from data_wrangling_openstreetmap_spark import oracle, registry

        t0 = time.perf_counter()
        oracles = registry.all_oracles()
        matches = {}
        for q, results in self.results.items():
            expected = oracle.canonical_rows(*oracle.run_oracle(oracles[q], self.data_dir))
            for i, (multiset, cols) in enumerate(results):
                got = oracle.canonical_rows(cols, list(multiset.elements()))
                matches[q, i] = got == expected
        self.layer["check.s"] = time.perf_counter() - t0
        self.failures = []
        for q, rec in self.records:
            rec["ok"] = "error" not in rec and matches[q, rec["result"]]
            if not rec["ok"]:
                self.failures.append(f"{q}: {rec.get('error', 'rows differ from the oracle')}")

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return len(self.failures)

    # -- session set-up ----------------------------------------------------

    def _start_session(self):
        from data_wrangling_openstreetmap_spark import io as dwos_io
        from data_wrangling_openstreetmap_spark.session import get_spark

        t0 = time.perf_counter()
        if self.wl.posture == "bench":
            spark = get_spark(app_name="perfbench", cpus=str(self.cpus), shuffle_partitions=8)
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        else:
            spark = get_spark(app_name="perfbench", cpus=str(self.cpus))
        start_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        sc = spark.sparkContext
        for t in self.wl.tables:
            df = dwos_io.load_table(spark, self.data_dir, t)
            if self.wl.posture == "bench":
                cached = df.repartition(BENCH_PARTITIONS.get(t, 4)).persist()
                cached.count()
                dwos_io._scan_cache[(spark, self.data_dir, t)] = cached
        cache_s = time.perf_counter() - t0
        cached_bytes = sum(
            info.memSize() + info.diskSize() for info in sc._jsc.sc().getRDDStorageInfo()
        )
        return spark, start_s, cache_s, cached_bytes

    def setup(self) -> None:
        from data_wrangling_openstreetmap_spark import io as dwos_io

        setups, starts, caches, sizes = [], [], [], []
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
                for key in [k for k in dwos_io._scan_cache if k[0] is self.spark]:
                    del dwos_io._scan_cache[key]
            t0 = time.perf_counter()
            self.spark, start_s, cache_s, cached_bytes = self._start_session()
            # Warm-up that runs no query of the workload: the session's
            # first job, which also compiles the calibration op.
            self.calibrate(1)
            setups.append(time.perf_counter() - t0)
            starts.append(start_s)
            caches.append(cache_s)
            sizes.append(cached_bytes)
        self.setups = setups
        self.session_starts = starts
        self.layer["session.start_s"] = _median(starts)
        self.layer["io.cache_s"] = _median(caches) if self.wl.posture == "bench" else 0.0
        self.layer["io.cached_bytes"] = _median(sizes)
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)

    def calibrate(self, runs: int) -> list[float]:
        """A fixed JVM-only aggregate under settings fixed here. Its median
        goes into the context block, so that a reading can be set against
        the machine's speed at the time."""
        conf = self.spark.conf
        saved = {k: conf.get(k) for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "8")
        times = []
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                self.spark.range(0, 100_000_000, 1, self.cpus).selectExpr(
                    "sum(id * 3 + 1)", "max(id % 977)"
                ).collect()
                times.append(time.perf_counter() - t0)
        finally:
            for k, v in saved.items():
                conf.set(k, v)
        return times

    def _old_gen_peak_mb(self) -> float:
        """Peak occupancy of the JVM's old generation since launch: what
        the heap retained (cached blocks, broadcasts, aggregation
        buffers), as opposed to short-lived garbage."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        for pool in beans.getMemoryPoolMXBeans():
            if "Old Gen" in pool.getName():
                return pool.getPeakUsage().getUsed() / 2**20
        return 0.0

    # -- passes --------------------------------------------------------------

    def run_query(self, q: str, fn) -> dict:
        """Build and collect one query, keep its result for ``verify()``,
        and (traced) read its layers. Returns the query's record."""
        import tracer as tr

        rec = {"build_s": 0.0, "exec_s": 0.0, "rows": 0}
        self.records.append((q, rec))
        # Job groups are unique per query run, so each reads only its own jobs.
        n = len(self.records)
        build_group, exec_group = f"build:{q}:{n}", f"exec:{q}:{n}"
        try:
            if self.tracer:
                self.tracer.set_group(build_group)
            t0 = time.perf_counter()
            df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            if self.tracer:
                self.tracer.set_group(exec_group)
                t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            rec["build_s"], rec["exec_s"] = t1 - t0, t2 - t1
            rec["rows"] = len(rows)
            rec["result"] = self._keep_result(q, df.columns, rows)
            if self.tracer:
                t4 = time.perf_counter()
                rec["build"] = self.tracer.job_layers(build_group)
                rec["exec"] = self.tracer.job_layers(exec_group)
                rec["plan"], rows_by_node = tr.plan_layers(df._jdf.queryExecution())
                rec["rows_by_node"] = dict(rows_by_node)
                rec["read_s"] = time.perf_counter() - t4
        except Exception as exc:  # a failing query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        return rec

    def _keep_result(self, q: str, cols: list[str], rows) -> int:
        """Index of this result among the query's distinct results."""
        multiset = Counter(tuple(r) for r in rows)
        results = self.results.setdefault(q, [])
        for i, (seen, _) in enumerate(results):
            if seen == multiset:
                return i
        results.append((multiset, cols))
        return len(results) - 1

    def run_pass(self, fns: dict) -> dict:
        t0 = time.perf_counter()
        recs = {q: self.run_query(q, fns[q]) for q in self.wl.queries}
        wall = time.perf_counter() - t0
        for q, rec in recs.items():
            self.per_query.setdefault(q, []).append(rec)
        read_s = sum(r.get("read_s", 0.0) for r in recs.values())
        # The pass is the client's wall time for its queries: the trace
        # reading happens outside the timed part.
        return {"wall_s": wall - read_s, "read_s": read_s, "recs": recs}

    def measure(self) -> None:
        from data_wrangling_openstreetmap_spark import registry

        fns = registry.all_queries()
        self.loadavg_before = _loadavg()
        # A full collection before every pass, outside the timed pass:
        # each pass starts from the live heap, not from the garbage that
        # earlier work promoted, so the old generation's growth, and with
        # it peak_rss_mb, does not depend on when G1 last collected.
        jvm_gc = self.spark.sparkContext._jvm.System.gc
        jvm_gc()
        self.cold = self.run_pass(fns)
        self.warm = []
        t_start = time.perf_counter()
        while (
            time.perf_counter() - t_start < self.seconds or len(self.warm) < MIN_WARM_PASSES
        ):
            jvm_gc()
            self.warm.append(self.run_pass(fns))
        self.calibration = self.calibrate(CALIBRATION_RUNS)
        self.layer["jvm.old_gen_peak_mb"] = self._old_gen_peak_mb()
        self.loadavg_after = _loadavg()
        self.peak_rss_mb = _peak_rss_mb()

    # -- results ---------------------------------------------------------------

    def e2e_metrics(self) -> dict[str, float]:
        return {
            "setup_s": _median(self.setups),
            "cold_s": self.cold["wall_s"],
            "warm_s": _median([p["wall_s"] for p in self.warm]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def layer_metrics(self) -> dict[str, float]:
        from tracer import JOB_KEYS, PLAN_KEYS

        passes = self.warm
        out = dict(self.layer)
        series: dict[str, list[float]] = {}
        for p in passes:
            recs = p["recs"].values()
            pass_vals = {
                "build.s": sum(r["build_s"] for r in recs),
                "exec.s": sum(r["exec_s"] for r in recs),
                "check.failed": sum(not r["ok"] for r in recs),
                "result.rows": sum(r["rows"] for r in recs),
                "trace.read_s": p["read_s"],
                "trace.pass_s": p["wall_s"] + p["read_s"],
            }
            for k in ("jobs", "tasks", "task_ms"):
                pass_vals[f"build.{k}"] = sum(r.get("build", {}).get(k, 0.0) for r in recs)
            for k in JOB_KEYS:
                pass_vals[f"exec.{k}"] = sum(r.get("exec", {}).get(k, 0.0) for r in recs)
            for k in PLAN_KEYS:
                pass_vals[k] = sum(r.get("plan", {}).get(k, 0.0) for r in recs)
            total = pass_vals["build.s"] + pass_vals["exec.s"]
            pass_vals["build.frac"] = pass_vals["build.s"] / total if total else 0.0
            pass_vals["exec.busy_frac"] = (
                pass_vals["exec.task_ms"] / (pass_vals["exec.s"] * 1000.0 * self.cpus)
                if pass_vals["exec.s"]
                else 0.0
            )
            rows = pass_vals["result.rows"]
            pass_vals["plan.join_rows_per_result"] = (
                pass_vals["plan.join_rows"] / rows if rows else 0.0
            )
            for k, v in pass_vals.items():
                series.setdefault(k, []).append(v)
        for k, values in series.items():
            out[k] = _median(values)
        return out

    def context(self) -> dict:
        import numpy
        import pyarrow

        conf = self.spark.conf
        return {
            "workload": self.name,
            "seed": self.seed,
            "sf": self.wl.sf,
            "rows": self.row_counts,
            "cpus": self.cpus,
            "defaultParallelism": self.spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "posture": self.wl.posture,
            "loadavg_before": self.loadavg_before,
            "loadavg_after": self.loadavg_after,
            "calibration_s": _median(self.calibration),
            "calibration_series_s": self.calibration,
            "setup_series_s": self.setups,
            "session_start_series_s": self.session_starts,
            "spark": self.spark.version,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "commit": _commit(),
            "source_digest": _source_digest(),
            "warm_samples": len(self.warm),
        }

    def stop(self) -> None:
        """Stop the session, the JVM it runs in and the Python workers,
        and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _high_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(values)
    if n < 20:
        return None
    p = int(100 * (n - 10) / n)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark the registered query surface.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--data", metavar="DIR",
        help="run on the parquet tables in DIR instead of generating them from --seed",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2

    e2e_units, layer_units = _spec_units()
    bench = Bench(
        args.workload, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
        data=args.data and os.path.abspath(args.data),
    )
    _prepare_environment()
    phases = {}
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t0 - sum(phases.values())

    try:
        try:
            bench.make_inputs()
            phase("inputs_s")
            bench.setup()
            phase("setup_s")
            bench.measure()
            phase("measure_s")
            context = bench.context()
        finally:
            bench.stop()
            shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
            phase("stop_s")
        bench.verify()
        phase("verify_s")
    finally:
        bench.remove_inputs()
    context["phases"] = phases

    units = layer_units if bench.trace else e2e_units
    # A traced run prints its end-to-end values too, ungated: its warm_s
    # against an untraced run's is the tracing overhead.
    values = bench.e2e_metrics() | (bench.layer_metrics() if bench.trace else {})
    metrics = {name: values[name] for name in units}
    failed_frac = bench.failed / bench.attempted
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    for name in sorted(values.keys() - metrics.keys()):
        print(f"{name} = {values[name]:.6g} {e2e_units.get(name, 's')} (not gated)")
    print(f"failed_frac = {failed_frac:.6g} ({bench.failed} of {bench.attempted} query runs)")
    warm = [p["wall_s"] for p in bench.warm]
    hi = _high_percentile(warm)
    print(
        f"warm_s samples = {len(warm)}"
        + (f", p{hi[0]} = {hi[1]:.6g} s" if hi else ", too few for a tail percentile")
    )
    if bench.trace:
        pass_s = metrics["trace.pass_s"]
        print(f"tracing: reading counters took {metrics['trace.read_s']:.4g} s of a {pass_s:.4g} s pass")
    for failure in bench.failures[:20]:
        print(f"FAILED {failure}")
    print("context " + json.dumps(context, sort_keys=True))

    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            name: {"value": value, "unit": units[name]} for name, value in metrics.items()
        },
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(
            {
                "result": result,
                "context": context,
                "failed_frac": failed_frac,
                "failures": bench.failures,
                "cold_pass_s": bench.cold["wall_s"],
                "warm_pass_s": warm,
                "per_query": bench.per_query,
            },
            fh,
            indent=1,
        )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
