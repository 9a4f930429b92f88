#!/usr/bin/env python3
"""Summarize an `ab.py` run log.

Usage:

    python3 bench_evidence/r17/summary.py bench_evidence/r17/runs.jsonl

Prints, per workload, every end-to-end metric of every untraced run on
both sides, each side's median and quartiles, the pairs the change won
(ties count for neither side), and whether the median gap exceeds the
parent's interquartile range; then the traced per-layer counts of each
side, one value per traced run.
"""
import json
import statistics
import sys
from collections import defaultdict

END_TO_END = ("setup_s", "cold_pass_s", "warm_pass_s")
COUNTS = ("exec.jobs", "plan.exchanges", "exec.tasks", "exec.stages", "plan.scans")


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main(path):
    runs = [json.loads(line) for line in open(path)]
    out = {}
    for workload in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == workload]
        failed = [r for r in rs if not r["result"] or not r["result"]["correct"]
                  or r["result"]["failed"]]
        w = {"runs": len(rs), "runs_not_correct": len(failed)}
        plain = [r for r in rs if r["trace"] == 0 and r["result"]]
        for metric in END_TO_END:
            by_pair = defaultdict(dict)
            for r in plain:
                by_pair[r["pair"]][r["side"]] = r["result"]["metrics"][metric]["value"]
            pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
            par = [by_pair[p]["parent"] for p in pairs]
            chg = [by_pair[p]["change"] for p in pairs]
            pq, cq = quartiles(par), quartiles(chg)
            w[metric] = {
                "parent": [round(x, 3) for x in par],
                "change": [round(x, 3) for x in chg],
                "parent_q1_median_q3": [round(x, 3) for x in pq],
                "change_q1_median_q3": [round(x, 3) for x in cq],
                "change_wins": sum(c < p for p, c in zip(par, chg)),
                "pairs": len(pairs),
                "median_gap": round(pq[1] - cq[1], 3),
                "parent_iqr": round(pq[2] - pq[0], 3),
                "change_vs_parent_median": round(cq[1] / pq[1] - 1, 4),
            }
        traced = [r for r in rs if r["trace"] == 1 and r["result"]]
        w["traced"] = {side: {c: [r["result"]["metrics"][c]["value"] for r in traced
                                  if r["side"] == side and c in r["result"]["metrics"]]
                              for c in COUNTS}
                       for side in ("parent", "change")}
        out[workload] = w
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
