#!/usr/bin/env python3
"""Alternating A/B of perfbench between two checkouts.

Usage:

    python3 bench_evidence/r17/ab.py PARENT_DIR CHANGE_DIR OUT_DIR \
        [--pairs 10] [--workloads tables,corpus] [--traced 2]

For each workload it runs `--pairs` pairs of untraced runs
(`perfbench/run.py --trace 0 --seconds 10`), one run per checkout, with
the pair's seed shared by both sides and the side that runs first
alternating from pair to pair. Then it runs `--traced` traced runs
(`--trace 1`) per side, alternating the same way. Every run's result
line is appended to OUT_DIR/runs.jsonl with its workload, side, seed,
pair, order and trace flag; `summary.py` reads that file.

Both checkouts must already have built perfbench and generated its
inputs once (one untimed run each), so no run pays a build.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path


def run(checkout, workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"returncode": p.returncode, "wall_s": round(time.time() - t, 1),
            "result": result,
            "stderr_tail": p.stderr.strip().splitlines()[-3:] if p.returncode else []}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("out")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="tables,corpus")
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=2)
    a = ap.parse_args()
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    sides = {"parent": a.parent, "change": a.change}
    with open(out / "runs.jsonl", "a") as log:
        for workload in a.workloads.split(","):
            for trace, count in ((0, a.pairs), (1, a.traced)):
                for pair in range(count):
                    seed = a.first_seed + pair
                    order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
                    for pos, side in enumerate(order):
                        r = run(sides[side], workload, seed, trace)
                        rec = {"workload": workload, "trace": trace, "pair": pair,
                               "seed": seed, "side": side, "position": pos, **r}
                        log.write(json.dumps(rec) + "\n")
                        log.flush()
                        m = (r["result"] or {}).get("metrics", {})
                        print(workload, trace, pair, side,
                              {k: round(v["value"], 3) for k, v in m.items()
                               if k in ("setup_s", "cold_pass_s", "warm_pass_s",
                                        "exec.jobs", "plan.exchanges", "exec.tasks")},
                              flush=True)


if __name__ == "__main__":
    main()
