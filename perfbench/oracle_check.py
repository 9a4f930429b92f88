#!/usr/bin/env python3
"""Cross-check the benchmark's query references against DuckDB.

Usage (from the root of a checkout, after one benchmark run has built
the harness and generated the inputs):

    python3 perfbench/oracle_check.py [full|smoke]

For each workload query that has an oracle in SparkEntry.oracleSql, the
harness writes graft's result to parquet; DuckDB runs the oracle over
the same pinned inputs, and the two are compared as schema plus sorted
rows, with doubles normalised to `%.10g` as tools/local_verify.py does.
The verdicts are stored under "oracle" in references.json. Needs the
duckdb and pyarrow Python packages.
"""
import json
import math
import sys

import duckdb
import pyarrow.parquet as pq

import run


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def table_key(tbl):
    cols = sorted(tbl.column_names)
    rows = sorted(tuple(norm_cell(r[c]) for c in cols) for r in tbl.select(cols).to_pylist())
    return cols, rows


def main():
    profile = sys.argv[1] if len(sys.argv) > 1 else "full"
    cp = run.build()
    inp = run.inputs(cp, profile)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet/*.parquet')")
    verdicts = {}
    with run.run_directory() as run_dir:
        for w in run.WORKLOADS:
            out = run_dir / w
            run.java(cp, ["dump", "--workload", w, "--inputs", str(inp), "--out", str(out)],
                     run_dir, run.RUN_TIMEOUT_S)
            oracle = json.loads((out / "oracle_sql.json").read_text())
            for d in sorted(p for p in out.iterdir() if p.is_dir()):
                if d.name not in oracle:
                    verdicts[d.name] = "no oracle"
                    continue
                spark = table_key(pq.read_table(d))
                duck = table_key(con.execute(oracle[d.name]).arrow())
                verdicts[d.name] = "pass" if spark == duck else "FAIL"
                print(f"{verdicts[d.name]:9s} {d.name}")
    refs = run.load_json("references.json")
    refs.setdefault(profile, {})["oracle"] = verdicts
    (run.BENCH / "references.json").write_text(json.dumps(refs, indent=1, sort_keys=True) + "\n")
    if "FAIL" in verdicts.values():
        sys.exit(1)


if __name__ == "__main__":
    main()
