#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source when they changed (sbt, in
this directory), runs one workload in a fresh JVM, checks its outputs, and
prints as its last stdout line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: every end-to-end metric of BENCHMARK.json with
`--trace 0`, every per-layer metric with `--trace 1`. The line before it is
the run's full record: samples per metric, host calibration, every
per-layer number, and any failures.

Workloads: cron_windows, catalog_sample (see METRICS.md). The probe
`--workload cron_capacity` prints only its record: the closed-loop rate the
cron window loop sustains on this host.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("cron_windows", "catalog_sample")
# not a benchmark workload: the rate the cron window loop sustains on this
# host, from which cron_windows' landing rate is chosen (see METRICS.md)
PROBES = ("cron_capacity",)
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 25
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build: the program's and the benchmark's sources."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    print("perfbench: building", file=sys.stderr)
    # the toolchain resolves only from its local caches: no network
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, 600,
                    stdout=sys.stderr, env=env)
    if p != 0:
        fail(f"build failed (sbt exit {p})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_bounded(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def spark_home():
    """The Spark installation the program builds and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def oracle_check(verify_dir):
    """Compare the sampled catalog results with their DuckDB oracles through
    the repository's checker, read-only. Returns (checked, failed, lines)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    if not names:
        return 0, 0, []
    out = os.path.join(verify_dir, "check.log")
    with open(out, "w") as fh:
        code = run_bounded([sys.executable, os.path.join(ROOT, "tools", "check.py"), DATA,
                            verify_dir] + names, ROOT, CHECK_TIMEOUT_S,
                           stdout=fh, stderr=subprocess.STDOUT)
    text = open(out).read()
    m = re.search(r"(\d+) ok, (\d+) failed", text)
    if code is None or m is None:
        return len(names), len(names), [f"oracle check did not finish (exit {code})"]
    fails = [l for l in text.splitlines() if l.startswith("FAIL")]
    return len(names), int(m.group(2)), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + PROBES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: BENCHMARK.json and src/main/scala are needed")
    if not os.path.isdir(DATA):
        fail(f"catalog data missing: {DATA}")
    spec = json.load(open(spec_path))
    build()

    tag = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(HERE, ".work", tag)
    outdir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(outdir, exist_ok=True)
    record = os.path.join(outdir, f"{tag}.json")
    if os.path.exists(record):
        os.remove(record)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: no run-to-run difference in how the heap grows
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")]),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", DATA, "--out", record]
    with open(os.path.join(outdir, f"{tag}.log"), "w") as log:
        code = run_bounded(cmd, ROOT, JVM_TIMEOUT_S, stdout=log, stderr=subprocess.STDOUT, env=env)
    if code != 0 or not os.path.exists(record):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload JVM exit {code}; see {os.path.relpath(outdir, ROOT)}/{tag}.log")
    rec = json.load(open(record))
    steal = rec["calibration"].get("host.steal_share", 0.0) or 0.0
    if steal > 0.1:
        print(f"perfbench: CPU steal took {steal:.0%} of the run's CPU capacity; "
              "its timings move with the host, not only the program", file=sys.stderr)

    if args.workload == "catalog_sample":
        checked, bad, lines = oracle_check(os.path.join(work, "verify"))
        rec["attempted"] += checked
        rec["failed"] += bad
        rec["failures"] += lines
        rec["oracle_checked"] = checked
    shutil.rmtree(work, ignore_errors=True)
    if args.workload in PROBES:
        print(json.dumps(rec, sort_keys=True))
        return

    if args.trace:
        want = spec["per_layer"]
        have = rec["per_layer"]
        cal = rec["calibration"]
        # a layer the workload leaves idle reports zero
        value = lambda n: have[n]["value"] if n in have else cal.get(n, 0.0)
    else:
        want = spec["end_to_end"]
        have = rec["end_to_end"]
        missing = [m["name"] for m in want if m["name"] not in have or not have[m["name"]]["value"]]
        if missing:
            rec["failures"].append(f"end-to-end metrics not measured: {missing}")
            rec["failed"] += 1
        value = lambda n: have[n]["value"] if n in have else 0.0
    metrics = {m["name"]: {"value": value(m["name"]) or 0.0, "unit": m["unit"]} for m in want}
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": max(1, int(rec["attempted"])),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
