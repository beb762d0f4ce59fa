#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload pbf_etl --seed 3 --seconds 20 --trace 0

Builds the program from the checkout's sources on first use (build.py),
generates the workload's inputs from --seed, runs one JVM on local[nproc]
with one caller thread, checks the outputs, and prints one JSON object as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the full per-layer record (stage spans, self times,
engine counters, store snapshots) goes to graftbench/work/<run>/trace.json.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("pbf_etl", "osm_update")
# inputs per workload (see README.md for why these sizes)
PBF_VERSIONS = 45_000
UPDATE_VERSIONS = 3_000
UPDATE_DIFFS = 4
UPDATE_DIFF_CHANGES = 300
# a run must end within 180 s
JVM_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def write_operator_mix(seed, inputs):
    """ops.tsv for the operator mix of a traced pbf_etl run: the table
    directory, then every key of operator_mix.json as `group<TAB>key` in a
    seed-permuted order (which key pays a shared cold build moves with the
    seed). Returns key -> expected rows."""
    with open(os.path.join(DATA, "operator_mix.json")) as f:
        mix = json.load(f)
    keys = [(g, k) for g, ks in mix["groups"].items() for k in ks]
    random.Random(seed).shuffle(keys)
    with open(os.path.join(inputs, "ops.tsv"), "w") as f:
        f.write(os.path.join(DATA, mix["tables"]) + "\n")
        f.writelines("%s\t%s\n" % gk for gk in keys)
    return {k: n for ks in mix["groups"].values() for k, n in ks.items()}


def make_inputs(workload, seed, run_dir):
    inputs = os.path.join(run_dir, "in")
    os.makedirs(inputs)
    if workload == "pbf_etl":
        truth = gen.gen_pbf(seed, inputs, PBF_VERSIONS)
        truth["ops_rows"] = write_operator_mix(seed, inputs)
    else:
        truth = gen.gen_update(seed, inputs, UPDATE_VERSIONS, UPDATE_DIFFS, UPDATE_DIFF_CHANGES)
    return inputs, truth


def run_jvm(cp, workload, inputs, run_dir, seconds, trace):
    record = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(os.cpu_count() or 4)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_PROGRESS="0",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_CKPT_DIR=os.path.join(run_dir, "ckpt"))
    env.pop("SPARK_GRAFT_MEMBER_GEOMS", None)
    if workload == "pbf_etl":
        env["SPARK_GRAFT_COUNTRY_FILE"] = os.path.join(inputs, "countries.csv")
    # a fixed heap (-Xms = -Xmx, as Spark sizes executor JVMs), so the peak
    # RSS does not depend on when in a run the heap grew
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, inputs, run_dir, str(seconds),
            str(trace), record]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(record):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("JVM run failed (%s)" % code)
    with open(record) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(str(e))
    run_dir = os.path.join(WORK, "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs, truth = make_inputs(a.workload, a.seed, run_dir)
    rec = run_jvm(cp, a.workload, inputs, run_dir, a.seconds, a.trace)

    result, lines, layers = metrics.evaluate(a.workload, rec, truth, a.trace == 1)
    for line in lines:
        print(line)
    if a.trace:
        path = os.path.join(run_dir, "trace.json")
        with open(path, "w") as f:
            json.dump(dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
                           layers=layers, spans=rec.get("spans", [])), f, indent=1)
        print("trace record: " + os.path.relpath(path, REPO))
    # inputs and outputs are large; the record and trace stay for inspection
    for d in ("in", "plain", "traced", "contributions", "spark-local", "tmp", "ckpt",
              "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
