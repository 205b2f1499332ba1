#!/usr/bin/env python3
"""The project's benchmark of record.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: etl_refresh, analytics_mix, incremental_ingest (see
BENCHMARK.json), plus etl_refresh_faults, which adds the truncated-body
fault and is reported but not gated.

The first run in a checkout builds the program and the harness from
source with sbt (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from --seed, runs one JVM (perfbench.Main), checks every output
(analytics_mix results also against their DuckDB oracle SQL through
tools/check.py) and prints one JSON result object as the last line of
stdout. Per-op detail (detail.json) and, for traced runs, the span file
(spans.jsonl) land in .bench_build/results/<workload>/seed<n>-trace<t>/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_refresh", "etl_refresh_faults", "analytics_mix", "incremental_ingest")
RESULT_TAG = "PERFBENCH_RESULT "
# analytics tables at this share of the sf0.1 row counts (lineitem 600k)
TABLE_SCALE = 0.1
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the build is current;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"sbt build failed (rc={proc.returncode})")
    classpath = lines[-1].strip()
    if "sbt-target" not in classpath:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt did not report the runtime classpath")
    log(f"build done in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Lower JIT thresholds: hot code reaches C2 within seconds instead of
    # most of a short run, so the measured rounds sit near steady state.
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:Tier3InvocationThreshold=200", "-XX:Tier4InvocationThreshold=1500",
            "-XX:Tier4CompileThreshold=2000",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    results = [ln[len(RESULT_TAG):] for ln in out.splitlines() if ln.startswith(RESULT_TAG)]
    if proc.returncode != 0 or not results:
        raise SystemExit(f"benchmark JVM failed (rc={proc.returncode})")
    return json.loads(results[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing")
    classpath = build()

    tag = f"seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{a.workload}-{tag}-{os.getpid()}")
    out = os.path.join(BUILD, "results", a.workload, tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out]
        tables = None
        if a.workload == "analytics_mix":
            tables = os.path.join(work, "tables")
            t0 = time.time()
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tables,
                            str(a.seed), str(TABLE_SCALE)], check=True)
            args += ["--tables", tables, "--tables-gen-s", repr(time.time() - t0)]
        result = run_jvm(classpath, args, work)
        if tables is not None:
            oracle_dir = os.path.join(out, "oracle")
            with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
                names = sorted(json.load(f))
            t0 = time.time()
            chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                                  tables, oracle_dir] + names, cwd=ROOT,
                                 stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            sys.stderr.write(chk.stdout)
            log(f"oracle compare took {time.time() - t0:.1f}s")
            if chk.returncode != 0:
                log("oracle compare FAILED")
                result["correct"] = False
            shutil.rmtree(oracle_dir, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
