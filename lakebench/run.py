#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the query catalog.

Usage (from the repository root):
  python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline_incremental, catalog (see lakebench/README.md). Builds
the engine and the benchmark on first use, runs one plain JVM (no sbt),
checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the spans go to
lakebench/.work/<workload>/trace-<workload>.json.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside lakebench/.work

import build  # noqa: E402
import gen_catalog  # noqa: E402
import gen_season  # noqa: E402

WORKLOADS = ("pipeline_incremental", "catalog")
CATALOG_SF = 0.001
INPUT_REPS = 3
JVM_TIMEOUT_S = 170
# build.sbt's forked-run JVM options: Spark on JDK 17 outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def oracle_check(data_dir, out_dir):
    """(attempted, failed) of tools/check_oracle.py over the dumped results."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(data_dir, out_dir)
    lines = buf.getvalue().splitlines()
    fails = [l for l in lines if l.startswith("FAIL ")]
    for l in fails:
        print(f"[lakebench] oracle {l}", file=sys.stderr)
    return len(fails) + sum(l.startswith("PASS ") for l in lines), len(fails)


def per_layer(artifact):
    """BENCHMARK.json's per_layer metrics, from the traced run's artifact."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer"]
    with open(artifact) as f:
        per_pass = json.load(f)["per_pass"]
    return {m["name"]: {"value": per_pass[m["name"]], "unit": m["unit"]}
            for m in wanted}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    # inputs from the seed, generated several times; the median is the
    # inputs' share of setup_s
    data = os.path.join(work, "catalog_data")
    if a.workload == "catalog":
        gen = lambda: gen_catalog.generate(data, CATALOG_SF)
    else:  # a full season and the opening weekend of the next
        gen = lambda: gen_season.generate(os.path.join(work, "bronze"), a.seed, 2, 1)
    times = []
    for _ in range(INPUT_REPS):
        t0 = time.perf_counter()
        gen()
        times.append(time.perf_counter() - t0)

    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap limit; the heap grows as G1 sizes it, so the traced
    # run's process.peak_rss_mb follows the memory the run touches
    cmd += ["-Xmx2g"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "-cp", cp, "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--inputs-s", str(statistics.median(times)),
            "--catalog-data", data,
            "--catalog-list", os.path.join(HERE, "catalog.txt")]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, cwd=work, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"lakebench: JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-5000:])
        sys.exit(f"lakebench: JVM exited with {r.returncode}")
    res = json.loads(lines[-1])
    with open(log_path) as f:
        for l in f:
            if l.startswith("[lakebench]"):
                sys.stderr.write(l)

    if a.trace:
        res["metrics"] = per_layer(os.path.join(work, f"trace-{a.workload}.json"))
    if a.workload == "catalog":
        tried, failed = oracle_check(data, os.path.join(work, "catalog_out"))
        res["attempted"] += tried
        res["failed"] += failed
        res["correct"] = res["failed"] == 0
    print(json.dumps(res))


if __name__ == "__main__":
    main()
