#!/usr/bin/env python3
"""TPC-H warm-slope census analysis (VERDICT r13 item 1).

Fits t = c + m*sf on warm medians for Spark (graft.tools.Profile
output) and DuckDB (tools/duck_bench.py JSON) at sf in {0.1, 1, 3}, and
prints the 22-row table with slope ratios against the 1.3-1.9x
materialization band the r8 study established.

Each Spark input is the output of one Profile run, e.g.
  sbt "runMain graft.tools.Profile $(echo q_tpch{1..22} | tr ' ' ,) <sfDir>" \
    > profile_sf1.log
Profile prints one JSON object per query; any prefix before the
object on its line (such as a log tag) is ignored.

Usage: tpch_census.py <profile_sf0.1> <profile_sf1> <profile_sf3>
                      <duck_sf0.1.json> <duck_sf1.json> <duck_sf3.json>
"""
import json
import sys

SFS = [0.1, 1.0, 3.0]


def profile_log(path):
    """Profile's per-query JSON objects, keyed by query name."""
    out = {}
    for line in open(path):
        i = line.find('{')
        if i < 0:
            continue
        try:
            row = json.loads(line[i:])
        except ValueError:
            continue
        if isinstance(row, dict) and 'query' in row:
            out[row['query']] = row
    return out


def fit(ys):
    """Least-squares slope/intercept of t over sf for 3 points."""
    xs = SFS
    n = len(xs)
    mx = sum(xs) / n
    my = sum(ys) / n
    m = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / \
        sum((x - mx) ** 2 for x in xs)
    return my - m * mx, m


def main():
    s = [profile_log(p) for p in sys.argv[1:4]]
    d = [json.load(open(p))['queries'] for p in sys.argv[4:7]]
    rows = []
    for i in range(1, 23):
        q = f'q_tpch{i}'
        sw = [s[k][q]['t_warm'] for k in range(3)]
        dw = [d[k][q] for k in range(3)]
        sc, sm = fit(sw)
        dc, dm = fit(dw)
        ratio = sm / dm if dm > 1e-4 else float('inf')
        rows.append((q, sw, sc, sm, dw, dm, ratio))
    rows.sort(key=lambda r: -r[6])
    print(f"{'query':<10} {'spark warm (0.1/1/3)':<24} {'c':>6} {'m':>7} "
          f"{'duck warm':<22} {'dm':>7} {'m-ratio':>8}")
    for q, sw, sc, sm, dw, dm, ratio in rows:
        flag = '' if ratio <= 1.9 else '  <-- ABOVE BAND'
        print(f"{q:<10} {'/'.join(f'{x:.2f}' for x in sw):<24} "
              f"{sc:6.2f} {sm:7.3f} "
              f"{'/'.join(f'{x:.3f}' for x in dw):<22} {dm:7.3f} "
              f"{ratio:8.2f}{flag}")
    out = {q: {"spark_warm": sw, "const": round(sc, 3),
               "slope": round(sm, 4), "duck_warm": dw,
               "duck_slope": round(dm, 4),
               "slope_ratio": round(ratio, 2)}
           for q, sw, sc, sm, dw, dm, ratio in rows}
    with open('/tmp/tpch_census_fit.json', 'w') as f:
        json.dump(out, f, indent=1)
    print("\nwrote /tmp/tpch_census_fit.json")


if __name__ == '__main__':
    main()
