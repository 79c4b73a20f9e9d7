"""Per-layer counters read from outside the engine.

Two sources, both read after a query has finished:

- Spark's status store, per job group: every job the benchmark starts
  runs under ``build:<query>`` (inside ``fn()``) or ``exec:<query>``
  (inside ``collect()``), and the stages of those jobs give task counts,
  task run, CPU and GC time, failures and spill.
- The SQL metrics of the executed physical plan of the QueryExecution
  that ran the collect. The walk descends through
  ``AdaptiveSparkPlanExec`` into its final ``executedPlan()``, through
  every ``*QueryStageExec`` into ``.plan()`` and into subqueries, and
  visits each node once, so no reused exchange is counted twice.

All times come out in milliseconds: ``nsTiming`` metrics (for example
``shuffleWriteTime``) and executor CPU time are converted from
nanoseconds.
"""

from __future__ import annotations

from collections import Counter

# Layer metrics that the plan walk and the job-group reader fill in.
PLAN_KEYS = (
    "io.scan_rows",
    "io.scan_ms",
    "plan.codegen_ms",
    "plan.agg_ms",
    "plan.sort_ms",
    "plan.join_rows",
    "plan.exchange_bytes",
    "plan.exchange_ms",
    "plan.broadcast_bytes",
    "plan.broadcast_ms",
    "python.ms",
    "python.setup_ms",
    "python.bytes_sent",
    "python.bytes_received",
    "python.rows_received",
)
JOB_KEYS = ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "failed_tasks", "spill_bytes")

_SCANS = ("FileSourceScanExec", "InMemoryTableScanExec", "BatchScanExec")
_AGGS = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")
# Plan nodes where rows cross into a Python worker and back.
_PYTHON_MARKERS = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _metrics(node) -> dict[str, float]:
    """A plan node's SQL metrics by name, timings in milliseconds."""
    out = {}
    for kv in _seq(node.metrics()):
        metric = kv._2()
        value = float(metric.value())
        if metric.metricType() == "nsTiming":
            value /= 1e6
        out[kv._1()] = value
    return out


def walk_plan(plan):
    """Yield ``(class simple name, metrics)`` for every physical node
    that ran, each once.

    Reused exchanges and subqueries are leaves that point at a node
    walked where it first ran; a cached relation's plan ran when the
    input was cached and is not a child of its scan either. Nodes are
    told apart by JVM identity: a query stage's ``id()`` is its stage
    number, not a plan id."""
    from pyspark import SparkContext

    identity = SparkContext._jvm.System.identityHashCode
    seen = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        key = identity(node)
        if key in seen:
            continue
        seen.add(key)
        cls = node.getClass().getSimpleName()
        yield cls, _metrics(node)
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


def plan_layers(qe) -> tuple[dict[str, float], Counter]:
    """Layer sums and per-node-type output rows of one executed plan."""
    out = dict.fromkeys(PLAN_KEYS, 0.0)
    rows_by_node: Counter = Counter()
    for cls, m in walk_plan(qe.executedPlan()):
        rows = m.get("numOutputRows", 0.0)
        if rows:
            rows_by_node[cls.removesuffix("Exec")] += rows
        if cls in _SCANS:
            out["io.scan_rows"] += rows
            out["io.scan_ms"] += m.get("scanTime", 0.0)
        elif cls == "WholeStageCodegenExec":
            out["plan.codegen_ms"] += m.get("pipelineTime", 0.0)
        elif cls in _AGGS:
            out["plan.agg_ms"] += m.get("aggTime", 0.0)
        elif cls == "SortExec":
            out["plan.sort_ms"] += m.get("sortTime", 0.0)
        elif "Join" in cls:
            out["plan.join_rows"] += rows
        elif cls == "ShuffleExchangeExec":
            out["plan.exchange_bytes"] += m.get("dataSize", 0.0)
            out["plan.exchange_ms"] += m.get("shuffleWriteTime", 0.0)
        elif cls == "BroadcastExchangeExec":
            out["plan.broadcast_bytes"] += m.get("dataSize", 0.0)
            out["plan.broadcast_ms"] += sum(
                m.get(k, 0.0) for k in ("collectTime", "buildTime", "broadcastTime")
            )
        if any(marker in cls for marker in _PYTHON_MARKERS):
            out["python.ms"] += m.get("pythonTotalTime", 0.0)
            out["python.setup_ms"] += m.get("pythonBootTime", 0.0) + m.get(
                "pythonInitTime", 0.0
            )
            out["python.bytes_sent"] += m.get("pythonDataSent", 0.0)
            out["python.bytes_received"] += m.get("pythonDataReceived", 0.0)
            out["python.rows_received"] += m.get("pythonNumRowsReceived", 0.0)
    return out, rows_by_node


class Tracer:
    """Job groups around the calls into a query, and the readers for
    what Spark recorded under them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self._sc._jvm
        self._empty_list = self._jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def job_layers(self, group: str) -> dict[str, float]:
        """Stage counters summed over the jobs of one job group."""
        # The status store is fed by an asynchronous listener: drain it
        # so the stages of the jobs that just ended are all recorded.
        self._bus.waitUntilEmpty(10_000)
        out = dict.fromkeys(JOB_KEYS, 0.0)
        stage_ids = set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids.update(_seq(self._store.job(job_id).stageIds()))
        for stage_id in stage_ids:
            for attempt in _seq(
                self._store.stageData(
                    stage_id, False, self._empty_list, False, self._no_quantiles
                )
            ):
                if attempt.numCompleteTasks() + attempt.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += attempt.numCompleteTasks() + attempt.numFailedTasks()
                out["task_ms"] += attempt.executorRunTime()
                out["cpu_ms"] += attempt.executorCpuTime() / 1e6
                out["gc_ms"] += attempt.jvmGcTime()
                out["failed_tasks"] += attempt.numFailedTasks()
                out["spill_bytes"] += attempt.diskBytesSpilled()
        return out
