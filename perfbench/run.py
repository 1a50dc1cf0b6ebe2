#!/usr/bin/env python3
"""Benchmark of the clickstream engine: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the batch
inputs once (perfbench/gendata.py), then runs the harness in one JVM sized
from the host (its CPUs from nproc, see jvm_cpus; heap from MemTotal).
With `--trace 0` it prints every end-to-end metric of BENCHMARK.json; with
`--trace 1`, every per-layer metric. The last stdout line is the result object; the line
before it records the host shape. Outputs are checked in the same run:
batch results against stored fingerprints, stream sinks against the
offered events.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import latency  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"
BATCH_SF = 0.01
WARM_SF = 0.001
JVM_TIMEOUT_S = 150
BATCH = ("batch_baseline43", "batch_fixpoint")
STREAM = ("stream_backlog",)
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host_shape():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    cores = len(os.sched_getaffinity(0))
    heap_gb = min(8, max(2, mem_kb // 4194304))  # a quarter of memory, 2-8 GB
    return {"nproc": cores, "mem_total_kb": mem_kb, "loadavg": load, "heap": f"{heap_gb}g"}


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def data_dir(sf):
    """Generated batch tables at `sf`, regenerated when gendata.py changes."""
    import hashlib
    import gendata
    d = BUILD / "data" / f"sf{sf}"
    stamp = hashlib.sha256((HERE / "gendata.py").read_bytes()).hexdigest()
    if (d / "stamp").is_file() and (d / "stamp").read_text() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gendata.generate(str(d), sf)
    (d / "stamp").write_text(stamp)
    return d


def jvm_cpus(workload):
    """CPUs the harness JVM may run on. The batch queries are bound by one
    driver thread that hands each of its many short jobs to task threads
    and back, and leaves the other CPUs mostly idle. On a shared 4-vCPU
    virtual machine, three interleaved pairs of batch runs drew 2.4-6.2%
    steal on all four CPUs (passes 18.5-22.5 s) and under 1% pinned to two
    (passes 22.0-22.7 s). The stream keeps every CPU busy: on two CPUs it
    drained rounds 1.7 times slower, so it runs on all of them."""
    cpus = sorted(os.sched_getaffinity(0))
    return cpus[:max(1, len(cpus) // 2)] if workload in BATCH else cpus


def run_jvm(classes, host, args, work, expected=HERE / "expected.json"):
    out = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java"] + JAVA_OPENS + [
        f"-Xms{host['heap']}", f"-Xmx{host['heap']}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work / 'derby.log'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", str(work), "--out", str(out),
        "--data", str(data_dir(BATCH_SF)), "--warm", str(data_dir(WARM_SF)),
        "--expected", str(expected)])
    cpus = jvm_cpus(args.workload)
    host["jvm_cpus"] = len(cpus)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(cpus)), SPARK_DRIVER_MEM=host["heap"])
    env.pop("SPARK_GRAFT_ROCKSDB", None)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=work,
                            preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    deadline = time.monotonic() + JVM_TIMEOUT_S
    try:
        while True:  # wait4, not wait: its rusage gives this child's peak RSS
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                raise SystemExit(f"perfbench: harness still running after {JVM_TIMEOUT_S} s")
            time.sleep(0.2)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    res = json.loads(out.read_text())
    res["metrics"]["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    return res


def stream_latency(res):
    """Adds the latency percentiles to res["metrics"]; returns whether p95
    has the 10 samples beyond it that it needs. Raises ValueError when a
    landed file was never committed."""
    c = res["details"]
    overall, by_query = latency.tick_latencies(c["ticks"], c["queries"], c["sample_from_ms"])
    m = res["metrics"]
    m["latency_p50_ms"] = latency.percentile(overall, 50)
    m["latency_p95_ms"] = latency.percentile(overall, 95)
    for q, xs in by_query.items():
        m[f"stream.{q}.latency_p50_ms"] = latency.percentile(xs, 50)
    if not latency.supported(len(overall), 95):
        print(f"perfbench: only {len(overall)} latency samples; p95 is not supported", file=sys.stderr)
        return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=BATCH + STREAM)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    host = host_shape()
    cpu0 = cpu_times()
    classes = build.build(BUILD)
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(classes, host, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"]
    if args.workload in STREAM:
        res["attempted"] += 1  # the latency samples are one more checked output
        try:
            failed += not stream_latency(res)
        except ValueError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            failed += 1
    m = res["metrics"]
    for w in spec["end_to_end"]:  # the traced run's own headline, for its overhead
        if w["name"] in m:
            m["traced." + w["name"]] = m[w["name"]]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for w in wanted:
        v = m.get(w["name"])
        if args.trace and v is None:
            v = 0.0  # layer not exercised by this workload
        if v is None or not math.isfinite(v):
            raise SystemExit(f"perfbench: metric {w['name']} missing")
        metrics[w["name"]] = {"value": v, "unit": w["unit"]}
    host["heap_max_bytes"] = res["details"].get("heap_max_bytes")
    # CPU time the hypervisor gave to other guests while the run lasted:
    # when high, every figure of the run is slowed by neighbours
    steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
    host["steal_frac"] = steal / total if total else 0.0
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
