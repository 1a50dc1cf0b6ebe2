#!/usr/bin/env python3
"""Re-establishes `expected.json`, the batch fingerprints `run.py` checks.

1. dumps every benchmarked query's result over the generated tables with
   the program's `graft.Verify` main;
2. compares each dump with the query's DuckDB oracle SQL using
   `tools/check_oracle_strict.py` (cell-by-cell, strict rendering) and
   stops unless every query matches;
3. runs one untraced pass of each batch workload and stores its
   fingerprints.

Run it only when the generated tables (gendata.py) or the query registry's
intended results change: python3 perfbench/establish.py
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import run

WORKLOADS = ("batch_fixpoint", "batch_baseline43")


def fingerprints(classes, host):
    fps = {}
    for w in WORKLOADS:
        args = argparse.Namespace(workload=w, seed=0, seconds=0, trace=0)
        work = run.BUILD / "establish" / w
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        res = run.run_jvm(classes, host, args, work, expected=work / "none.json")
        fps.update(res["details"]["fingerprints"])
    return fps


def main():
    host = run.host_shape()
    classes = run.build.build(run.BUILD)
    data = run.data_dir(run.BATCH_SF)
    fps = fingerprints(classes, host)
    dump = run.BUILD / "establish" / "verify"
    shutil.rmtree(dump, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(host["nproc"]))
    subprocess.run(["java"] + run.JAVA_OPENS + [f"-Xmx{host['heap']}", "-cp",
                    f"{classes}{os.pathsep}{run.build.spark_jars() / '*'}", "graft.Verify",
                    str(data), str(dump), ",".join(sorted(fps))],
                   check=True, env=env, stdout=sys.stderr, cwd=dump.parent)
    subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle_strict.py"),
                    str(data), str(dump)], check=True, stdout=sys.stderr)
    out = run.HERE / "expected.json"
    out.write_text(json.dumps(dict(sorted(fps.items())), indent=1) + "\n")
    print(f"{len(fps)} fingerprints written to {out}")


if __name__ == "__main__":
    main()
