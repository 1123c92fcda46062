#!/usr/bin/env python3
"""Benchmark of graft's Parquet -> JDBC pipeline and its query surface.

Usage, from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the program from source when needed (perfbench/build.py),
starts one JVM on local[nproc] that generates the seeded inputs, sets up,
warms up and runs timed passes of the workload for <s> seconds
(perfbench/src/graftbench/Harness.scala), checks every output against
DuckDB (perfbench/checks.py), and prints as its last stdout line:

  {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes the span file. Everything the run writes stays under the
current directory: .bench_build/ (classes), .bench_runs/ (per-run inputs
and scratch, deleted at exit) and .bench_out/ (last result and spans per
workload). See perfbench/README.md for the metrics and workloads.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

# Workload -> (input scale, tables it reads). Row counts are the sf0.1
# fixture counts times the scale, so both workloads read ~150k lineitem
# rows. Most of a query_scan pass is per-job fixed cost; the README gives
# the per-row share at two scales.
WORKLOADS = {
    "ingest_jdbc": (0.25, ("lineitem",)),
    "query_scan": (0.25, datagen.TABLES),
}
# The whole run, build excluded, must end well inside 180 s.
RUN_BUDGET_S = 165

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def heap_mb():
    """A quarter of MemTotal, within [1 GB, 4 GB]: the machine is shared,
    and the workloads' inputs are tens of MB."""
    return max(1024, min(4096, mem_total_mb() // 4))


def dir_mb(path):
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total / (1024 * 1024)


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def declared_metrics(root, trace):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(root, classes, run_dir, harness_args, deadline):
    """Runs graftbench.Harness in its own JVM with the per-run scratch
    under run_dir; returns its exit code (None on timeout)."""
    scratch = os.path.join(run_dir, "scratch")
    for d in ("graft", "tmp", "derby"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = dict(os.environ)
    # SPARK_LOCAL_DIRS would override the per-run spark.local.dir
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(scratch, "graft")
    jars = os.path.join(build.spark_jars(), "*")
    heap = heap_mb()
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dderby.system.home={scratch}/derby",
            f"-Dderby.stream.error.file={scratch}/derby/derby.log",
            "-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Harness",
            "--dir", run_dir] + harness_args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"benchmark JVM {why}; log tail:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    # on SIGTERM unwind through the finally blocks: they stop the JVM
    # and delete the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.ensure(root)
    except Exception as e:
        log(f"cannot build the program: {e}")
        return 2
    deadline = time.time() + RUN_BUDGET_S
    run_dir = os.path.join(root, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = os.path.join(run_dir, "data")
    try:
        scale, tables = WORKLOADS[args.workload]
        t = time.time()
        datagen.write(data_dir, args.seed, scale, tables)
        datagen_s = time.time() - t
        t = time.time()
        try:
            run_jvm(root, classes, run_dir, [
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--t0-ms", repr(time.time() * 1000)], deadline)
            with open(os.path.join(run_dir, "out", "result.json")) as f:
                res = json.load(f)
            res["host"]["mem_total_mb"] = mem_total_mb()
        except Exception as e:
            log(str(e))
            return 1
        jvm_s = time.time() - t
        t = time.time()
        verdict = {}
        if args.workload == "ingest_jdbc":
            verdict.update(checks.check_ingest(data_dir, res["ingest_readback"]))
        else:
            verdict.update(checks.check_queries(data_dir, res["checks"], res["oracle_sql"]))
        for e in res["exec_errors"]:
            verdict[e["seq"]] = f"{e['op']}: {e['error']}"
        problems = sorted((s, m) for s, m in verdict.items() if m)
        for s, m in problems[:10]:
            log(f"FAILED #{s} {m}")
        checks_s = time.time() - t
        attempted = int(res["executions"])
        failed = len(problems)

        if args.trace:
            rows = res["per_layer"] + [
                # Spark's input byte counter misses the vectorized parquet
                # reader on the local file system; the files' size stands in
                ["parquet.input_mb", dir_mb(data_dir), "MB"],
                ["bench.datagen_s", datagen_s, "s"],
                ["bench.scratch_left_mb", dir_mb(os.path.join(run_dir, "scratch", "graft")), "MB"]]
        else:
            rows = res["end_to_end"] + [["ok_frac", 1.0 - failed / attempted, "ratio"]]
        metrics = {n: {"value": v, "unit": u} for n, v, u in rows}
        declared = declared_metrics(root, args.trace)
        if declared is not None and sorted(declared) != sorted(metrics):
            log(f"metric names differ from BENCHMARK.json: "
                f"missing {sorted(set(declared) - set(metrics))}, "
                f"undeclared {sorted(set(metrics) - set(declared))}")
            return 1

        # keep the run's record (and spans) where the next reader finds it
        out = os.path.join(root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        record = {k: v for k, v in res.items() if k != "oracle_sql"}
        record.update(commit=git_commit(root), source_hash=build.source_hash(root),
                      failures=[m for _, m in problems], metrics=metrics,
                      wall_s={"datagen": datagen_s, "jvm": jvm_s, "checks": checks_s})
        with open(os.path.join(out, f"result-{args.workload}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        spans = os.path.join(run_dir, "out", "spans.json")
        if args.trace and os.path.isfile(spans):
            shutil.copyfile(spans, os.path.join(out, f"spans-{args.workload}.json"))

        host = res["host"]
        tail = res["tail"]
        print(f"[perfbench] workload={args.workload} seed={args.seed} trace={args.trace} "
              f"nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} "
              f"heap_mb={host['max_heap_mb']} jvm=\"{host['jvm']}\" spark={host['spark']} "
              f"commit={record['commit']} source_hash={record['source_hash']} "
              f"passes={res['passes']} executions={tail['n']:.0f} "
              f"operations={tail['operations']:.0f} exec_p90_s={tail['exec_p90_s']:.4f}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
