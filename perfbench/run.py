#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload wire_roundtrip --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on a local[4] Spark session, checks every
output (operator_mix also against the DuckDB oracle) and prints, as its
last line, one JSON object: correct, attempted, failed and the metrics
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with
--trace 1). The line before it names every figure of the run with its
unit. Workloads, metrics and inputs are described in perfbench/README.md.

--selftest runs each workload once at tiny sizes and asserts that every
metric is present with its unit and that the output checks ran.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # a run writes only under .bench_build

import build  # noqa: E402

DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
WORKLOADS = ["wire_roundtrip", "driver_batches", "operator_mix"]
# The codec workloads run compiled code that settles under C1 within the
# warm-up pass; under the default tiered C2 JIT they would spend a whole
# run in its warm-up transient (see README.md, "JVM flags").
C1_ONLY = {"wire_roundtrip", "driver_batches"}
# workload-specific end-to-end figures, printed on the report line
REPORTED = {
    "wire_roundtrip": [("ingest_msgs_per_s", "msg/s"), ("egress_msgs_per_s", "msg/s"),
                       ("messages_per_pass", "count"), ("wire_bytes_per_pass", "bytes")],
    "driver_batches": [("rt_p50_ms", "ms"), ("rt_p95_ms", "ms"), ("rt_samples", "count"),
                       ("batch_msgs_per_s", "msg/s")],
    "operator_mix": [("query_set_s", "s")],
}
REPORTED_ALL = [("setup_s", "s"), ("cpu_s", "s"), ("retained_heap_mb", "MB"),
                ("error_rate", "ratio"), ("canary_s", "s")]  # canary_s: traced runs
# per-layer figures of driver_batches, which BENCHMARK.json does not list
DRIVER_LAYERS = [("conv.internal_writer_us", "us"), ("spark.local_relation_ms", "ms"),
                 ("spark.execute_collect_ms", "ms")]


class RunError(Exception):
    pass


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(classpath, workload, seed, seconds, trace, tiny):
    run_dir = os.path.join(build.BUILD_DIR, "runs", "%s-s%d-t%d" % (workload, seed, trace))
    work = os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = [build.java(), "-Xmx3g", "-XX:-UsePerfData", "-XX:SoftRefLRUPolicyMSPerMB=0",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    if workload in C1_ONLY:
        cmd.append("-XX:TieredStopAtLevel=1")
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--data", DATA_DIR, "--work", work, "--out", out,
            "--spans", os.path.join(run_dir, "spans.tsv")]
    if tiny:
        cmd.append("--tiny")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError("%s: benchmark JVM timed out (log: %s)" % (workload, log.name))
    if rc != 0 or not os.path.exists(out):
        raise RunError("%s: benchmark JVM exited with %d (log: %s)" % (workload, rc, log.name))
    with open(out) as f:
        res = json.load(f)
    if workload == "operator_mix":
        import oracle
        n, failures = oracle.check(DATA_DIR, os.path.join(work, "results"))
        res["oracle_checked"] = n
        res["failed"] += len(failures)
        if failures and not res["first_error"]:
            res["first_error"] = failures[0]
    shutil.rmtree(work, ignore_errors=True)
    return res


def result_line(res, names):
    key = "per_layer" if res["trace"] else "end_to_end"
    missing = [n for n in names if n not in res[key]]
    if missing:
        raise RunError("metrics missing from the run: %s" % ", ".join(missing))
    correct = res["failed"] == 0 and res["checks"] > 0 and \
        res.get("oracle_checked", 1) > 0
    return json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: res[key][n] for n in names},
    }, separators=(",", ":"))


def report_line(res):
    figures = dict(res["report"], **res["per_layer"])
    parts = ["%s=%s %s" % (n, "%.6g" % v["value"] if v["value"] is not None else "nan", v["unit"])
             for n, v in figures.items()]
    return "# %s seed=%d trace=%d attempted=%d failed=%d checks=%d%s: %s" % (
        res["workload"], res["seed"], res["trace"], res["attempted"], res["failed"],
        res["checks"], (" first_error=%r" % res["first_error"]) if res["first_error"] else "",
        ", ".join(parts))


def selftest(classpath, s):
    problems = []
    for w in WORKLOADS:
        res = run_jvm(classpath, w, 1, 1, 1, tiny=True)
        res.update(seed=1, trace=1)
        print(report_line(res))
        for group, key in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            for m in s[group]:
                got = res[key].get(m["name"])
                if got is None or got["unit"] != m["unit"] or got["value"] is None:
                    problems.append("%s: %s %s missing or without unit %s" % (w, group, m["name"], m["unit"]))
        for name, unit in REPORTED_ALL + REPORTED[w]:
            got = res["report"].get(name)
            if got is None or got["unit"] != unit or got["value"] is None:
                problems.append("%s: report figure %s [%s] missing" % (w, name, unit))
        for name, unit in DRIVER_LAYERS:
            got = res["per_layer"].get(name)
            if got is None or got["unit"] != unit or (w == "driver_batches" and not got["value"]):
                problems.append("%s: per-layer figure %s [%s] missing" % (w, name, unit))
        if res["checks"] == 0 or res["checked_messages"] == 0 and w != "operator_mix":
            problems.append("%s: output checks did not run" % w)
        if w == "operator_mix" and res.get("oracle_checked", 0) == 0:
            problems.append("operator_mix: no entry was checked against the oracle")
        if res["failed"]:
            problems.append("%s: %d failed operations: %s" % (w, res["failed"], res["first_error"]))
    for p in problems:
        print("FAIL " + p)
    print("selftest %s" % ("failed" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        s = spec()
        classpath = build.build()
        if a.selftest:
            return selftest(classpath, s)
        names = [m["name"] for m in s["per_layer" if a.trace else "end_to_end"]]
        res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, tiny=False)
        res.update(seed=a.seed, trace=a.trace)
        line = result_line(res, names)
    except (build.BuildError, RunError, OSError, ValueError, KeyError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    print(report_line(res))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
