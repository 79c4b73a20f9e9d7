"""Self-test of the benchmark's own machinery.

    python3 perfbench/selftest.py

Checks, on generated sf0.01 inputs in one production-posture session:

- the input generator is deterministic in its seed;
- the workloads in ``BENCHMARK.json`` are the ones ``run.py`` defines,
  and a traced pass yields every per-layer metric ``BENCHMARK.json``
  names;
- the correctness gate fires: a result with one row dropped or one row
  duplicated is counted as a failed query run;
- the tracer reads real counters: q1 reports scanned rows,
  HashAggregate output rows and shuffle bytes, with shuffle write time
  in milliseconds (not nanoseconds); u12 reports bytes sent to Python
  workers; x2 reports Spark jobs started inside ``fn()``;
- the plan walk reaches nodes below ``AdaptiveSparkPlanExec``, inside
  ``*QueryStageExec`` and inside a scalar subquery.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("PASS " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def check_workloads() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check(
        sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS),
        "workloads in BENCHMARK.json match run.WORKLOADS",
    )


def check_datagen() -> None:
    import datagen

    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    check(all(a[t].equals(b[t]) for t in a), "same seed gives the same tables")
    check(not a["lineitem"].equals(c["lineitem"]), "another seed gives other tables")


def check_gate(bench: run.Bench) -> None:
    from data_wrangling_openstreetmap_spark import registry

    fn = registry.all_queries()["q1_pricing_summary"]
    plain = bench.run_query("q1_pricing_summary", fn)
    dropped = bench.run_query("q1_pricing_summary", lambda s, d: fn(s, d).offset(1))
    doubled = bench.run_query(
        "q1_pricing_summary", lambda s, d: fn(s, d).unionAll(fn(s, d).limit(1))
    )
    bench.verify()
    check(plain["ok"], "unperturbed q1 passes the oracle gate")
    check(not dropped["ok"], "q1 with one row dropped is counted as failed")
    check(not doubled["ok"], "q1 with one row duplicated is counted as failed")
    check(bench.failed == 2, "failed counts exactly the two perturbed runs")
    check(bench.failed / bench.attempted > 0, "failed_frac is above 0 after a perturbed result")


def check_tracer(bench: run.Bench) -> None:
    import tracer
    from data_wrangling_openstreetmap_spark import registry

    fns = registry.all_queries()
    bench.warm = [bench.run_pass(fns)]
    bench.layer["jvm.old_gen_peak_mb"] = bench._old_gen_peak_mb()
    bench.verify()
    _, layer_units = run._spec_units()
    missing = set(layer_units) - set(bench.layer_metrics())
    check(not missing, f"a traced pass yields every per-layer metric (missing: {sorted(missing)})")
    check(bench.layer["jvm.old_gen_peak_mb"] > 0, "the old generation's peak is read")
    recs = bench.warm[0]["recs"]
    q1 = recs["q1_pricing_summary"]
    check(q1["plan"]["io.scan_rows"] > 0, "q1 reports io.scan_rows > 0")
    check(q1["rows_by_node"].get("HashAggregate", 0) > 0, "q1 reports HashAggregate output rows")
    check(q1["plan"]["plan.exchange_bytes"] > 0, "q1 reports plan.exchange_bytes > 0")
    check(
        0 < q1["plan"]["plan.exchange_ms"] < 1000 * q1["exec_s"],
        "q1 shuffle write time is in ms: above 0 and below the collect's wall time",
    )
    check(q1["exec"]["jobs"] > 0 and q1["exec"]["tasks"] > 0, "q1 exec jobs and tasks are counted")
    u12 = recs["u12_cogrouped_asof"]
    check(u12["plan"]["python.bytes_sent"] > 0, "u12 reports python.bytes_sent > 0")
    check(u12["plan"]["python.ms"] > 0, "u12 reports python.ms > 0")
    x2 = recs["x2_similarity_sql"]
    check(x2["build"]["jobs"] > 0, "x2 reports build.jobs > 0")

    spark = bench.spark
    lineitem = os.path.join(bench.data_dir, "lineitem.parquet")
    df = spark.sql(
        f"SELECT l_returnflag, count(*) AS n FROM parquet.`{lineitem}` "
        f"WHERE l_quantity > (SELECT avg(l_quantity) FROM parquet.`{lineitem}`) "
        "GROUP BY l_returnflag"
    )
    df.collect()
    classes = [cls for cls, _ in tracer.walk_plan(df._jdf.queryExecution().executedPlan())]
    check("AdaptiveSparkPlanExec" in classes, "plan walk starts at AdaptiveSparkPlanExec")
    check(
        any(c.endswith("QueryStageExec") for c in classes) and "ShuffleExchangeExec" in classes,
        "plan walk descends through *QueryStageExec into its plan",
    )
    check(
        classes.count("FileSourceScanExec") == 2 and "SubqueryExec" in classes,
        "plan walk descends into the scalar subquery",
    )


def main() -> int:
    check_workloads()
    check_datagen()
    wl = run.Workload(
        ("q1_pricing_summary", "u12_cogrouped_asof", "x2_similarity_sql"),
        tables=("lineitem", "events", "documents"),
        sf=0.01,
        posture="production",
    )
    bench = run.Bench("selftest", wl, seed=7, seconds=0, trace=True)
    run._prepare_environment()
    try:
        bench.make_inputs()
        bench.setup()
        check_tracer(bench)
        check_gate(bench)
    finally:
        bench.stop()
        shutil.rmtree(bench.data_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(run.WORK, "tmp"), ignore_errors=True)
    print(f"{len(FAILURES)} check(s) failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
