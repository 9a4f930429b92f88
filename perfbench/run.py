#!/usr/bin/env python3
"""graft benchmark: three workloads through graft's public entry points.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload tables --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, small inputs
    python3 perfbench/run.py --record         # rewrite references.json and inputs.json

A run builds the harness and graft from this checkout's sources when
they changed (sbt, offline), generates the pinned inputs once, then
starts one JVM that sets up a GraftSession, runs a cold pass and warm
passes, and reports every timing and result fingerprint. This script
checks the fingerprints against references.json and the input checksums
against inputs.json, checks that nothing was left behind, and prints
the result as the last line of standard output:

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
WORKLOADS = ("tables", "corpus")
# ScaleGen multiplier of the TPC-H seed tables in data/ (the sf0.001
# synthetic set) for full runs and the smoke mode; the corpus tables are
# used as they are
PROFILES = {"full": {"tpch-mult": "10"}, "smoke": {"tpch-mult": "1"}}
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def child_env(run_dir=None):
    """The environment of every child: graft's tuning variables removed,
    so a run measures the defaults; temp files inside the run directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    env["COURSIER_MODE"] = env.get("COURSIER_MODE", "offline")
    if run_dir is not None:
        env["TMPDIR"] = str(run_dir / "tmp")
    return env


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt when the sources changed;
    returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError("graft's sources (src/main/scala) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")
    WORK.mkdir(exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building graft and the harness with sbt")
    # sbt's global state and temp files stay in the work directory, its
    # server is not started, and no JVM writes hsperfdata to /tmp
    (WORK / "tmp").mkdir(exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={WORK / 'sbt-global'}", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "compile", "export Runtime/fullClasspath"]
    env = child_env(WORK)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if "classes" in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("sbt build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def java(cp, args, run_dir, timeout):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for pkg in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as err:
        p = subprocess.run(cmd, cwd=run_dir, env=child_env(run_dir), stdout=subprocess.PIPE,
                           stderr=err, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        raise BenchError(f"JVM exited with {p.returncode}")
    return p.stdout


def inputs(cp, profile):
    """The pinned inputs of a profile, generated once per checkout; the
    JVM checks them against the manifest at start-up."""
    out = WORK / "inputs" / profile
    if not (out / ".complete").exists():
        log(f"generating the {profile} inputs with ScaleGen")
        shutil.rmtree(out, ignore_errors=True)
        out.parent.mkdir(parents=True, exist_ok=True)
        args = ["prepare", "--seed-data", str(BENCH / "data"), "--out", str(out)]
        for k, v in PROFILES[profile].items():
            args += [f"--{k}", v]
        with run_directory() as run_dir:
            java(cp, args, run_dir, BUILD_TIMEOUT_S)
        (out / ".complete").write_text("")
    return out


class run_directory:
    """A fresh directory for one JVM's temp files, Spark's local dirs and
    IO outputs; removed on exit."""

    def __enter__(self):
        self.path = WORK / f"run-{os.getpid()}-{time.monotonic_ns()}"
        self.path.mkdir(parents=True)
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def tree_snapshot():
    """Every file of the checkout outside the benchmark's own build and
    work directories, with its size."""
    skip = {WORK, BENCH / "project" / "project", ROOT / ".bench_build", ROOT / ".git"}
    snap = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        d = Path(dirpath)
        dirnames[:] = [n for n in dirnames if d / n not in skip and n != "target"]
        for n in filenames:
            p = d / n
            try:
                snap[str(p.relative_to(ROOT))] = p.lstat().st_size
            except OSError:
                pass
    return snap


def dir_bytes(d):
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def load_json(name):
    p = BENCH / name
    return json.loads(p.read_text()) if p.exists() else {}


def run_jvm(cp, workload, profile, seed, seconds, trace):
    inp = inputs(cp, profile)
    before = tree_snapshot()
    with run_directory() as run_dir:
        out = java(cp, ["run", "--workload", workload, "--inputs", str(inp),
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace), "--work", str(run_dir)],
                       run_dir, RUN_TIMEOUT_S)
        # what graft itself left in the temp directory (index directories
        # it never deletes); removed with the run directory
        left_tmp = dir_bytes(run_dir / "tmp")
        left_io = dir_bytes(run_dir / "io") if (run_dir / "io").exists() else 0
    arts = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_ARTIFACT ")]
    if not arts:
        raise BenchError("the JVM printed no result")
    art = json.loads(arts[-1].split(" ", 1)[1])
    art["tmp_left_by_graft_bytes"] = left_tmp
    art["io_left_bytes"] = left_io
    after = tree_snapshot()
    art["leaked_files"] = sorted(k for k in after if before.get(k) != after[k])
    return art


def check(art, profile):
    """Compare every outcome with the references; returns (attempted,
    failed, problems)."""
    refs = load_json("references.json").get(profile, {})
    manifest = load_json("inputs.json").get(profile, {})
    problems = []
    for t, got in art["inputs"].items():
        want = manifest.get(t)
        if want is None or (got["rows"], got["sha256"]) != (want["rows"], want["sha256"]):
            problems.append(f"input {t}: {got} != {want}")
    sources = refs.get("io_sources", {})
    for t, got in art["sources"].items():
        if sources.get(t) != got:
            problems.append(f"source {t}: {got} != {sources.get(t)}")
    expected = refs.get(art["workload"], {})
    attempted = failed = 0
    for p in art["outcomes"]:
        for o in p["steps"]:
            attempted += 1
            if o["kind"] == "write":
                continue
            if o["kind"] == "read":
                want = sources.get(o["op"].split(".")[1])
            else:
                want = expected.get(o["op"])
            if want is not None and want["rows"] <= 0:
                # an empty reference checks nothing but the schema
                problems.append(f"reference {o['op']} has no rows")
            if o["kind"] == "error" or want != {"rows": o["rows"], "fp": o["fp"]}:
                failed += 1
                problems.append(f"{p['kind']} {o['op']}: rows={o['rows']} fp={o['fp']} want {want}")
    if art["io_left_bytes"] or art["leaked_files"]:
        problems.append(f"left behind: io={art['io_left_bytes']} files={art['leaked_files'][:5]}")
    return attempted, failed, problems


def measure(args):
    cp = build()
    art = run_jvm(cp, args.workload, "full", args.seed, args.seconds, args.trace)
    attempted, failed, problems = check(art, "full")
    for p in problems[:20]:
        log(p)
    art["problems"] = problems
    print("PERFBENCH_ARTIFACT " + json.dumps(art, sort_keys=True))
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": art["metrics"]}
    print(json.dumps(result))


def smoke(args):
    """Every workload once on the small inputs, untraced and traced; the
    output must name every BENCHMARK.json metric with its unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    ok = True
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            art = run_jvm(cp, w, "smoke", 1, 0, trace)
            attempted, failed, problems = check(art, "smoke")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in art["metrics"].items()}
            if got != want:
                problems.append(f"metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            status = "ok" if not problems else "FAIL"
            print(f"smoke {w} trace={trace}: {status} attempted={attempted} failed={failed}")
            for p in problems[:20]:
                print(f"  {p}")
            ok = ok and not problems
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    if not ok:
        sys.exit(1)


def record(args):
    """Regenerate inputs.json and references.json from two cold passes
    per workload and profile with different seeds; a query whose result
    differs between them is reported, and nothing is written."""
    cp = build()
    manifest, refs = {}, {}
    for profile in PROFILES:
        inputs(cp, profile)
        prof_refs = {}
        for w in WORKLOADS:
            seen = []
            for seed in (1, 2):
                art = run_jvm(cp, w, profile, seed, 0, 0)
                cold = {o["op"]: {"rows": o["rows"], "fp": o["fp"]}
                        for o in art["outcomes"][0]["steps"] if o["kind"] in ("query", "error")}
                seen.append((cold, art["sources"], art["inputs"]))
            (a, src, ins), (b, src2, _) = seen
            unstable = sorted(k for k in a if a[k] != b.get(k)) + \
                sorted(t for t in src if src[t] != src2.get(t))
            errors = sorted(k for k, v in a.items() if v["rows"] < 0)
            empty = sorted(k for k, v in a.items() if v["rows"] == 0)
            if unstable or errors or empty:
                raise BenchError(f"{profile}/{w}: unstable {unstable}, errors {errors}, "
                                 f"empty {empty}")
            if a:
                prof_refs[w] = a
            if src:
                prof_refs["io_sources"] = src
            manifest.setdefault(profile, {}).update(ins)
            log(f"recorded {profile}/{w}")
        refs[profile] = prof_refs
    (BENCH / "inputs.json").write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    old = load_json("references.json")
    for profile in refs:
        refs[profile]["oracle"] = old.get(profile, {}).get("oracle", {})
    (BENCH / "references.json").write_text(json.dumps(refs, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    try:
        if args.smoke:
            smoke(args)
        elif args.record:
            record(args)
        elif args.workload:
            measure(args)
        else:
            ap.error("--workload, --smoke or --record is required")
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(str(e))
        sys.exit(2)


if __name__ == "__main__":
    main()
