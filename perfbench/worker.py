"""One measured process: set up Spark, run one workload's executions
back to back (a closed loop with one client), check every output, and
write the samples as JSON.  ``run.py`` starts it in a fresh process for
every run so that the first execution meets a cold JVM.

    python3 perfbench/worker.py --workload curate --data D --work W \
        --warmup 2 --measured 3 --trace 0 --result R --spawned <epoch seconds>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

def cores() -> int:
    return max(1, min(2, os.cpu_count() or 1))


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--measured", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    a = ap.parse_args(argv)
    trace = bool(a.trace)
    for d in ("spark-local", "warehouse", "tmp", "eventlog"):
        os.makedirs(os.path.join(a.work, d), exist_ok=True)

    import workloads

    t = time.time()
    from beehive_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{a.workload}", master=f"local[{cores()}]",
                      shuffle_partitions=cores(), extra_conf=spark_conf(a.work, trace))
    get_spark_s = time.time() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.make(a.workload)
        wl.prepare(spark, a.data, os.path.join(a.work, "out"))
        setup_s = time.time() - a.spawned
        out = {"setup_s": setup_s, "get_spark_s": get_spark_s}
        out.update(measure(spark, wl, a.warmup, a.measured, trace))
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
    if trace:
        out["trace"] = digest(out.pop("_spans"), os.path.join(a.work, "eventlog", app_id),
                              out["executions"])
    with open(a.result, "w") as fh:
        json.dump(out, fh)
    return 0


def measure(spark, wl, warmup, measured, trace=False):
    """Execute ``wl`` back to back, ``1 + warmup + measured`` times:
    execution 0 meets a cold JVM, the next ``warmup`` executions are
    discarded while the JIT catches up, and the last ``measured``
    executions are the warm samples."""
    from probes import Jvm, tree_cpu_s

    jvm = Jvm(spark)
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install()
    execs = []
    for i in range(1 + warmup + measured):
        if tracer:
            tracer.execution = i
        c0, j0, k0 = tree_cpu_s(), jvm.jobs_submitted(), jvm.counters()
        t0 = time.time()
        err = None
        try:
            res = tracer.call("execution", wl.execute, i) if tracer else wl.execute(i)
        except Exception:
            err = traceback.format_exc(limit=8)
        t1 = time.time()
        c1, j1, k1 = tree_cpu_s(), jvm.jobs_submitted(), jvm.counters()
        rec = {"i": i, "warm": i > warmup, "start": t0, "end": t1, "wall_s": t1 - t0,
               "cpu_s": c1 - c0, "jobs": j1 - j0, **{f"jvm.{k}": k1[k] - k0[k] for k in k0}}
        if err is None:
            rec["cached_rdds"] = jvm.persisted_rdds()
            if i == 0:  # the forced full GCs cost ~1 s, so only where reported
                rec["retained_mb"] = jvm.retained_mb()
            try:
                rec["failures"] = wl.check(res, i)
            except Exception:
                rec["failures"] = [traceback.format_exc(limit=8)]
        else:
            rec["failures"] = [err]
        res = None  # drop the result's py4j references before the next execution
        spark.catalog.clearCache()
        print(f"perfbench: execution {i}: {rec['wall_s']:.2f} s wall, {rec['cpu_s']:.1f} s cpu, "
              f"{rec['jobs']} jobs, {len(rec['failures'])} failed checks", file=sys.stderr, flush=True)
        execs.append(rec)
    out = {"executions": execs}
    if tracer:
        out["_spans"] = tracer.spans
    return out


def digest(spans, log_path, execs):
    """Per-layer metrics from the spans and the event log."""
    from tracing import engine_counters, read_event_log, span_metrics

    jobs, stage_job, tasks = read_event_log(log_path)
    per_exec, by_group = span_metrics(spans, jobs, stage_job, tasks)
    engine = {}
    for rec in execs:
        ids = [j for g, js in by_group.items() if g and g.startswith(f"e{rec['i']}.") for j in js]
        e = engine_counters(ids, jobs, stage_job, tasks)
        e["driver.gap_s"] = rec["wall_s"] - e["spark.job_busy_s"]
        engine[rec["i"]] = e
    return {"spans": spans, "per_exec": {str(k): v for k, v in per_exec.items()},
            "engine": {str(k): v for k, v in engine.items()}}


if __name__ == "__main__":
    sys.exit(main())
