"""perfbench: end-to-end and per-layer benchmark of beehive_spark.

    python3 perfbench/run.py --workload curate --seed 3 --seconds 20 --trace 0

Run from the repository root.  One run:

1. generates the workload's inputs for ``--seed`` in a separate
   process (cached under ``.perfbench/data`` by workload, seed and size);
2. starts one fresh measured process (``worker.py``): Spark set-up,
   a first execution on a cold JVM, a fixed number of discarded
   warm-up executions, then a fixed number of measured warm executions
   (``SCHEDULE``), each output checked;
3. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics (spans, event-log digest, JVM counters) with
   ``--trace 1``.

Everything it writes stays under ``.perfbench/`` in the working
directory.  See README.md beside this file for the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("merge_publish", "curate")
RUN_LIMIT_S = 170
# (discarded warm-up executions, measured executions) after execution 0.
# Fixed, so every run takes the same samples whatever the host's speed;
# ``--seconds`` does not change them (see README.md, "Scope and budget").
SCHEDULE = {"merge_publish": (1, 2), "curate": (1, 2)}

END_TO_END = {
    "run_s": "s", "first_s": "s", "cpu_s": "s", "setup_s": "s",
    "retained_mb": "MB", "spark_jobs": "count", "ok_frac": "frac",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _per_layer_names():
    from tracing import TARGETS

    spans = {name for _m, _a, name in TARGETS}
    names = {"session.get_spark.s": "s", "merge.cached_after_run": "count",
             "trace.run_s": "s"}
    for s in sorted(spans):
        if s.startswith("operators."):
            names[f"{s}.s"], names[f"{s}.calls"] = "s", "count"
        elif s in ("merge.run", "curate.curate_corpus"):
            names[f"{s}.self_s"], names[f"{s}.self_jobs"] = "s", "count"
        elif s != "merge.check_provenance":
            names[f"{s}.s"], names[f"{s}.jobs"] = "s", "count"
    names["merge.check_provenance.s"] = "s"
    names["operators.next_id_base.jobs"] = "count"
    names["merge.publish.mb"] = "MB"
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        names[f"spark.{k}"] = "count"
    for k in ("executor_cpu_s", "executor_run_s", "gc_s", "job_busy_s"):
        names[f"spark.{k}"] = "s"
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb"):
        names[f"spark.{k}"] = "MB"
    names["spark.task_max_over_median"] = "ratio"
    names["driver.gap_s"] = "s"
    names.update({"jvm.jit_s": "s", "jvm.codegen_compile_s": "s",
                  "jvm.codegen_classes": "count", "jvm.gc_s": "s"})
    return names


def end_to_end(execs, setup_s):
    warm = [e for e in execs if e["warm"]]
    ok = [e for e in execs if not e["failures"]]
    return {
        "run_s": median([e["wall_s"] for e in warm]),
        "first_s": execs[0]["wall_s"],
        "cpu_s": median([e["cpu_s"] for e in warm]),
        "setup_s": setup_s,
        # execution 0's: after a warm execution the context cleaner may
        # or may not have released the previous execution's blocks yet
        "retained_mb": execs[0].get("retained_mb", 0.0),
        "spark_jobs": median([e["jobs"] for e in warm]),
        "ok_frac": len(ok) / len(execs),
    }


def per_layer(out, names):
    """Median over the measured executions of every per-layer metric;
    the JVM compile counters are the first execution's, where warm-up
    is paid."""
    execs = out["executions"]
    tr = out["trace"]
    measured = [e for e in execs if e["warm"]]
    warm = [str(e["i"]) for e in measured]
    vals = {n: [] for n in names}
    for i in warm:
        spans = tr["per_exec"].get(i, {})
        row = dict(tr["engine"][i])
        for n in names:
            base, _, field = n.rpartition(".")
            if field in spans.get(base, {}):
                row[n] = spans[base][field]
        for n in names:
            vals[n].append(row.get(n, 0.0))
    m = {n: median(v) for n, v in vals.items()}
    first = execs[0]
    m["jvm.jit_s"] = first["jvm.jit_s"]
    m["jvm.codegen_compile_s"] = first["jvm.codegen_compile_s"]
    m["jvm.codegen_classes"] = first["jvm.codegen_classes"]
    m["jvm.gc_s"] = median([e["jvm.gc_s"] for e in measured])
    m["merge.cached_after_run"] = median([e.get("cached_rdds", 0) for e in measured])
    m["session.get_spark.s"] = out["get_spark_s"]
    m["trace.run_s"] = median([e["wall_s"] for e in measured])
    return m


class Runner:
    def __init__(self, root):
        self.root = root
        self.base = os.path.join(root, ".perfbench")
        tmp = os.path.join(self.base, "tmp")
        # every JVM (the spark-submit launcher too): no hsperfdata files
        # and no temp files outside the working directory
        self.env = dict(os.environ, PYTHONPATH=root, TMPDIR=tmp,
                        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                        SPARK_LOCAL_DIRS=os.path.join(self.base, "spark-local"),
                        PYSPARK_PYTHON=sys.executable)
        os.makedirs(tmp, exist_ok=True)
        self.deadline = time.time() + RUN_LIMIT_S

    def _run(self, cmd):
        """Run a child in its own process group; kill the group if it
        outlives the run's deadline."""
        p = subprocess.Popen(cmd, cwd=self.root, env=self.env, start_new_session=True,
                             stdout=sys.stderr)
        try:
            rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"timed out: {' '.join(cmd[:3])}")
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # strays such as a lingering JVM
            except ProcessLookupError:
                pass
        if rc != 0:
            raise RuntimeError(f"exit {rc}: {' '.join(cmd[:3])}")

    def inputs(self, workload, seed):
        from gen import SIZES

        key = hashlib.sha1(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:8]
        d = os.path.join(self.base, "data", f"{workload}-s{seed}-{key}")
        if not os.path.exists(os.path.join(d, "expected.json")):
            os.makedirs(os.path.dirname(d), exist_ok=True)
            self._run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                       "--seed", str(seed), "--out", d])
        return d

    def worker(self, workload, data, trace):
        work = os.path.join(self.base, "work", workload)
        res = os.path.join(work, "result.json")
        os.makedirs(work, exist_ok=True)
        if os.path.exists(res):
            os.remove(res)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
               "--data", data, "--work", work, "--warmup", str(SCHEDULE[workload][0]),
               "--measured", str(SCHEDULE[workload][1]), "--trace", str(int(trace)),
               "--result", res]
        self._run(cmd + ["--spawned", repr(time.time())])
        with open(res) as fh:
            return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="beehive_spark end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "beehive_spark", "session.py")):
        print("perfbench: run from the beehive_spark repository root "
              "(beehive_spark/ not found)", file=sys.stderr)
        return 2

    from probes import host_ref_s

    r = Runner(root)
    data = r.inputs(a.workload, a.seed)
    ref_before = host_ref_s()
    out = r.worker(a.workload, data, a.trace)
    # a fixed pure-Python workload timed around the measured process:
    # a drift in the host's speed between runs shows here
    out["host_ref_s"] = [ref_before, host_ref_s()]

    execs = out["executions"]
    failed = sum(1 for e in execs if e["failures"])
    e2e = end_to_end(execs, out["setup_s"])
    if a.trace:
        names = _per_layer_names()
        metrics = {n: {"value": v, "unit": names[n]}
                   for n, v in per_layer(out, names).items()}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}

    side = os.path.join(r.base, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)
    plain = os.path.join(r.base, "results", f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.exists(plain):
        with open(plain) as fh:
            base_run = json.load(fh)["end_to_end"]["run_s"]
        out["trace_overhead_s"] = metrics["trace.run_s"]["value"] - base_run
        print(f"perfbench: tracing overhead {out['trace_overhead_s']:+.3f} s per warm execution",
              file=sys.stderr)
    out["end_to_end"] = e2e
    with open(side, "w") as fh:
        json.dump(out, fh)
    for e in execs:
        for f in e["failures"]:
            print(f"perfbench: execution {e['i']} failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(execs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
