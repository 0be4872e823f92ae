#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the program and the benchmark harness from source (once per source
tree; later runs reuse the build), runs one benchmark JVM, checks every
op's output (query_mix results against their oracle SQL in DuckDB, after
the JVM exits), and prints the environment, a summary, and as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list.

query_mix reads the fixture tables in $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1 (see TESTDATA.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("rebalance_bulk", "rebalance_catalog", "query_mix")
# a run must end within 180 s; keep a margin for start-up and clean-up
RUN_LIMIT_S = 170
# time kept back from the JVM for reporting and clean-up
REPORT_RESERVE_S = 10
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seed < 0:
        p.error("--seed must be a non-negative integer")
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """(java @argfile, source stamp, whether this call built), building if
    the sources changed since the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: program sources not found at {os.path.relpath(PROGRAM_SRC)}")
    stamp = source_stamp()
    args_file = os.path.join(HERE, "target", "launch.args")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    if os.path.exists(stamp_file) and os.path.exists(args_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return args_file, stamp, False
    log("building (sbt launchArgs)")
    t0 = time.time()
    # resolve from the local caches only, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        env["SBT_OPTS"] = "-Xmx2g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(args_file):
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return args_file, stamp, True


def jvm_command(args_file, work):
    return ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", f"@{args_file}", "graft.perfbench.Main",
            "--work", work, "--out", os.path.join(work, "out")]


def fixture_dir():
    """The query fixture tables' directory; exits if it is missing."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    missing = [t for t in oracle.TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        sys.exit(f"perfbench: query fixtures {missing} not found in {d}")
    return d


def apply_oracle(run, problems, rows):
    """Fails every op of a query whose result failed its oracle, and every
    op that counted other than its query's result rows."""
    for phase in [run["warm"]] + run["phases"]:
        for o in phase["ops"]:
            if not o["ok"]:
                continue
            if o["name"] in problems:
                o["ok"] = False
                o["error"] = f"oracle: {problems[o['name']]}"
            elif o["rows"] != rows[o["name"]]:
                o["ok"] = False
                o["error"] = f"counted {o['rows']} rows, the result holds {rows[o['name']]}"


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(cmd, budget_s):
    """Runs the JVM in its own process group; kills the group on timeout and
    returns None."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {budget_s:.0f} s; killed")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    a = parse_args()
    started = time.time()
    load_start = os.getloadavg()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sf_dir = fixture_dir() if a.workload == "query_mix" else None
    args_file, stamp, built = build()
    if built:  # the run that builds has longer than RUN_LIMIT_S
        started = time.time()

    work = os.path.join(ROOT, ".bench_build", f"run-{uuid.uuid4().hex[:12]}")
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    try:
        budget = max(30, RUN_LIMIT_S - REPORT_RESERVE_S - (time.time() - started))
        cmd = (jvm_command(args_file, work)
               + ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--budget", f"{budget - 5:.0f}"]
               + (["--sf-dir", sf_dir] if sf_dir else []))
        code = run_jvm(cmd, budget)
        if code != 0:
            sys.exit(f"perfbench: benchmark JVM failed ({code})")
        with open(os.path.join(out, "samples.json")) as f:
            run = json.load(f)
        oracle_problems = {}
        if sf_dir:
            with open(os.path.join(out, "oracle_sql.json")) as f:
                oracles = json.load(f)
            oracle_problems, result_rows = oracle.check(
                sf_dir, os.path.join(out, "results"), oracles)
            for q, why in oracle_problems.items():
                log(f"{q} FAILED its oracle: {why}")
            apply_oracle(run, oracle_problems, result_rows)

        e2e, summary, attempted, failed = metrics.end_to_end(run)
        if a.trace:
            values = metrics.per_layer(run)
            wanted = spec["per_layer"]
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
            shutil.copyfile(os.path.join(out, "spans.jsonl"), spans)
            summary["spans"] = os.path.relpath(spans, ROOT)
        else:
            values = {k: v for k, (v, _) in e2e.items()}
            wanted = spec["end_to_end"]
        # the warm-up cycle's ops and a traced run's later phases are
        # checked too, and their failures count
        for phase in [run["warm"]] + run["phases"][1:]:
            samples = phase["ops"] + phase["lookups"]
            failed += sum(not x["ok"] for x in samples)
            attempted += len(samples)
        if sf_dir:
            summary["oracle_checked"] = len(oracles)
            summary["oracle_failed"] = sorted(oracle_problems)
        env = dict(run["env"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=a.trace, nproc=len(os.sched_getaffinity(0)), git_commit=git_commit(),
                   source_sha256=stamp, loadavg_start=load_start,
                   loadavg_end=os.getloadavg(), sf_dir=sf_dir)
        print(json.dumps({"env": env}))
        print(json.dumps({"summary": summary}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
