#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --diff A.json B.json [--out diff.json]

A run builds the program if needed (perfbench/build.py), then starts one
JVM that sets up a Spark session on local[nproc] over the tables in
perfbench/data/sf0.01, runs the workload's rows in an order drawn from
--seed (a cold pass, then warm passes for --seconds), checks each row's
output against perfbench/digests.json (on the cold pass and on the last
untraced warm pass) and prints one JSON summary as the
last stdout line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. The full result (run header, every sample and, when
traced, every row's span tree) is written under .bench_build/perfbench/
results/. --diff compares two such result files (or two directories of
them) metric by metric and layer by layer.

The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'
The expected outputs: python3 perfbench/make_digests.py (needs duckdb).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORK = build.OUT
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, main, args):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # A fixed heap and young generation: peak RSS then does not depend on
    # heap-resizing decisions that vary from run to run.
    opts += ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={local}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
    return ["java", *opts, "-cp", cp, main, *args]


def run_jvm(cmd):
    """Runs the JVM in its own process group; returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: JVM killed after {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 124, ""
    return p.returncode, out


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def harness_args(workload, seed, seconds, trace, out, source_sha, inject=False):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--cpus", str(len(os.sched_getaffinity(0))),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--digests", os.path.join(HERE, "digests.json"),
            "--out", out, "--head", git_head(), "--source-sha", source_sha,
            "--inject", "1" if inject else "0"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out", help="result file (default under .bench_build)")
    ap.add_argument("--inject", action="store_true",
                    help="add two failing rows (for the benchmark's own tests)")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()

    classes, digest = build.ensure()
    os.makedirs(WORK, exist_ok=True)
    if a.diff:
        args = [os.path.abspath(a.diff[0]), os.path.abspath(a.diff[1])]
        if a.out:
            args.append(os.path.abspath(a.out))
        rc, out = run_jvm(java_cmd(classes, "perfbench.Diff", args))
        sys.stdout.write(out)
        sys.exit(rc)
    if not a.workload:
        ap.error("--workload is required")

    out = os.path.abspath(a.out or os.path.join(
        WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    args = harness_args(a.workload, a.seed, a.seconds, a.trace, out, digest, a.inject)
    rc, stdout = run_jvm(java_cmd(classes, "perfbench.Harness", args))
    lines = stdout.strip().splitlines()
    if rc != 0 or not lines:
        print(f"perfbench: harness failed (exit {rc})", file=sys.stderr)
        sys.exit(rc or 1)
    summary = json.loads(lines[-1])
    print(f"perfbench: full result in {out}", file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
