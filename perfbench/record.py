"""Run the benchmark over several seeds and summarize it.

    python3 perfbench/record.py --seeds 1-10
    python3 perfbench/record.py --seeds 1-10 --trace-seed 1 \\
        --label baseline --append perfbench/trajectory.jsonl

Runs ``perfbench/run.py`` once per (workload, seed), one process at a time,
with BENCHMARK.json's ``run_seconds``. For every end-to-end metric it prints
the median and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the median,
next to the metric's bound. ``--trace-seed`` adds one traced run per
workload; its ``tracing.op_s`` minus the untraced ``op_s`` median is the
tracing overhead. ``--append`` writes the whole summary as one JSON line.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "detail": json.loads(lines[-2])}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--trace-seed", type=int)
    p.add_argument("--label")
    p.add_argument("--append")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    summary = {"label": args.label, "date": dt.date.today().isoformat(),
               "cores": len(os.sched_getaffinity(0)),
               "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            r = run_once(w, s, bench["run_seconds"], 0)
            runs.append(r)
            print(f"{w} seed={s} correct={r['result']['correct']} "
                  f"wall={r['detail']['wall_s']:.1f}s " + " ".join(
                f"{k}={v['value']:.4g}"
                for k, v in r["result"]["metrics"].items()), flush=True)
        e2e = {}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                    if m["name"] in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            e2e[m["name"]] = {"median": statistics.median(vals),
                              "spread": spread(vals), "bound": m.get("bound"),
                              "unit": m["unit"], "values": vals}
            print(f"  {w} {m['name']}: median {statistics.median(vals):.4g} "
                  f"{m['unit']}, spread {spread(vals):.3f} "
                  f"(bound {m.get('bound')})", flush=True)
        entry = {
            "e2e": e2e,
            "correct": all(r["result"]["correct"] for r in runs),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "input_digests": {str(s): r["detail"].get("input_digest")
                              for s, r in zip(seeds(args.seeds), runs)},
        }
        if args.trace_seed is not None:
            t = run_once(w, args.trace_seed, bench["run_seconds"], 1)
            layer = {k: v["value"] for k, v in t["result"]["metrics"].items()}
            entry["traced"] = {"seed": args.trace_seed, "per_layer": layer}
            if "op_s" in e2e:
                entry["tracing_overhead_s"] = (layer["tracing.op_s"]
                                               - e2e["op_s"]["median"])
                print(f"  {w} tracing overhead: "
                      f"{entry['tracing_overhead_s']:.3f} s", flush=True)
        summary["workloads"][w] = entry
    if args.append:
        with open(args.append, "a") as f:
            f.write(json.dumps(summary) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
