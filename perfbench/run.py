#!/usr/bin/env python3
"""Run the query-registry benchmark.

One workload:

    python3 perfbench/run.py --workload ops_small --seed 1 --seconds 12 --trace 0

builds the program and the harness if a source changed (build.py), runs the
closed-loop harness in one JVM, and prints, as the last line of stdout, one
JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Earlier lines, prefixed "# ", give every
metric by name and unit, failed_frac, and the box-load record.

Every workload, end-to-end and per-layer, as one table:

    python3 perfbench/run.py --workload all [--seed 1] [--seconds 12]

Run records, trace spans and JVM logs go to .bench_build/runs/.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(build.BUILD, "runs")
DATA = os.path.join(HERE, "data")
GOLDENS = os.path.join(HERE, "goldens.tsv")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_s():
    """(busy, steal) CPU seconds of the whole box so far, from /proc/stat.
    Busy excludes idle, iowait and steal; steal is time the hypervisor gave
    the machine's CPUs to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (sum(v[:3]) + sum(v[5:7])) / hz, v[7] / hz


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def probe_ms():
    """Median time of a fixed single-threaded loop, three tries. The host's
    speed can change by several times within minutes, without any steal
    showing, so the box record carries this before and after the run."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(300000):
            s += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[1]


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def self_cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def java_cmd(classes, tmp, harness_args):
    """The harness JVM: heap and GC sizing fixed, scratch space under tmp."""
    jars = os.path.join(build.spark_jars(), "*")
    return (["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
               f"-Djava.io.tmpdir={tmp}",
               "-cp", os.pathsep.join([classes, jars]), "perfbench.Harness"]
            + harness_args)


def run_one(workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns (result, notes) or exits."""
    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(RUNS, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(classes, tmp, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", DATA, "--goldens", GOLDENS,
        "--cores", str(cores), "--out", os.path.join(run_dir, "record.json"),
        "--trace-file", os.path.join(run_dir, "trace.jsonl")])
    probe0 = probe_ms()
    box0 = (time.time(), cpu_s(), children_cpu_s(), self_cpu_s(), loadavg())
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"perfbench: {workload} did not finish in {JVM_TIMEOUT_S}s")
    shutil.rmtree(tmp, ignore_errors=True)
    wall = time.time() - box0[0]
    own = (children_cpu_s() - box0[2]) + (self_cpu_s() - box0[3])
    busy, steal = cpu_s()
    box = {"nproc": cores, "loadavg_before": box0[4], "loadavg_after": loadavg(),
           "jvm_max_heap": "4g", "wall_s": wall, "own_cpu_s": own,
           "other_cpu_s": busy - box0[1][0] - own, "steal_s": steal - box0[1][1],
           "probe_ms_before": probe0, "probe_ms_after": probe_ms()}
    with open(os.path.join(run_dir, "box.json"), "w") as f:
        json.dump(box, f)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {workload} failed (exit {proc.returncode}); "
                 f"see {os.path.relpath(run_dir, ROOT)}/jvm.log")
    result = json.loads(lines[-1][len("RESULT "):])
    check(result, trace)
    return result, box


def check(result, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    want = {m["name"]: m["unit"]
            for m in spec()["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        sys.exit(f"perfbench: result does not match BENCHMARK.json: {sorted(got)}")
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float))]
    if bad or result["attempted"] < 1:
        sys.exit(f"perfbench: unmeasured metrics {bad}")


def describe(workload, result, box):
    for name, m in result["metrics"].items():
        print(f"# {workload} {name} {m['value']:.6g} {m['unit']}")
    frac = result["failed"] / result["attempted"]
    print(f"# {workload} failed_frac {frac:.6g} ratio "
          f"({result['failed']} of {result['attempted']})")
    print(f"# {workload} box " + json.dumps(box))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=None)
    a = p.parse_args()
    for d in (os.path.join(ROOT, "src", "main", "scala"), DATA):
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing {os.path.relpath(d, ROOT)}; run from a "
                     "checkout of the repository")
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    names = [w["name"] for w in s["workloads"]]
    if a.workload != "all":
        if a.workload not in names or a.trace is None:
            sys.exit(f"perfbench: --workload one of {names} (or all) and --trace 0|1")
        result, box = run_one(a.workload, a.seed, seconds, a.trace)
        describe(a.workload, result, box)
        print(json.dumps(result))
        return
    traces = (0, 1) if a.trace is None else (a.trace,)
    correct = True
    for w in names:
        for t in traces:
            result, box = run_one(w, a.seed, seconds, t)
            describe(w, result, box)
            correct &= result["correct"]
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
