"""Run the benchmark once per seed and report each end-to-end metric's
median, quartiles and spread (IQR / median) against its bound.

    python3 perfbench/steadiness.py --seeds 1-10 --label set1 [--workloads curate]
    python3 perfbench/steadiness.py --compare set1 set2

Run from the repository root.  Results go to
``.perfbench/steadiness/<label>.json``; the table goes to stdout.
``--compare`` prints, for two saved sets, each metric's medians, spreads
and how far the second median moved from the first, against its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0}


def _load(label):
    with open(os.path.join(".perfbench", "steadiness", f"{label}.json")) as fh:
        return json.load(fh)


def compare(first, second) -> int:
    with open("BENCHMARK.json") as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    x, y = _load(first), _load(second)
    print(f"| workload | metric | bound | {first}: median [q1, q3], spread "
          f"| {second}: median [q1, q3], spread | {second} vs {first} |")
    print("|---|---|---|---|---|---|")
    for w in x:
        for m in [*bounds, "host_ref_s"]:
            a = x[w]["host_ref_s"] if m == "host_ref_s" else x[w]["stats"][m]
            b = y[w]["host_ref_s"] if m == "host_ref_s" else y[w]["stats"][m]
            move = (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
            cell = [f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}], **{s['spread']:.3f}**"
                    for s in (a, b)]
            print(f"| `{w}` | `{m}` | {bounds.get(m, '–')} | {cell[0]} | {cell[1]} | {move:+.3f} |")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--label")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--compare", nargs=2, metavar="LABEL")
    a = ap.parse_args(argv)
    if a.compare:
        return compare(*a.compare)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w in workloads:
        runs = []
        for seed in range(lo, hi + 1):
            t = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(line) if p.returncode == 0 else {}
            res["wall"] = time.time() - t
            side = os.path.join(".perfbench", "results", f"{w}-seed{seed}-trace0.json")
            if p.returncode == 0:
                with open(side) as fh:
                    res["host_ref_s"] = statistics.mean(json.load(fh)["host_ref_s"])
            runs.append(res)
            print(f"{w} seed {seed}: rc={p.returncode} {res.get('correct')} "
                  f"{time.time() - t:.0f}s host_ref {res.get('host_ref_s', 0):.4f}", flush=True)
        ok = [r for r in runs if r.get("metrics")]
        table = {m: spread([r["metrics"][m]["value"] for r in ok]) for m in bounds}
        out[w] = {"runs": runs, "stats": table}
        for m, s in table.items():
            flag = "ok" if s["spread"] < bounds[m] / 3 else ("within" if s["spread"] <= bounds[m] else "WIDE")
            print(f"  {w:14s} {m:12s} median {s['median']:10.3f}  q1 {s['q1']:10.3f}  "
                  f"q3 {s['q3']:10.3f}  spread {s['spread']:.3f} / bound {bounds[m]} {flag}")
        ref = spread([r["host_ref_s"] for r in ok])
        out[w]["host_ref_s"] = ref
        print(f"  {w}: mean run wall {statistics.mean(r['wall'] for r in runs):.1f} s; "
              f"host_ref_s median {ref['median']:.4f} spread {ref['spread']:.3f}", flush=True)
    path = os.path.join(".perfbench", "steadiness", f"{a.label}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
