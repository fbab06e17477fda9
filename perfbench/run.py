#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last stdout line.

    python3 perfbench/run.py --workload mr_wordcount --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the harness from
source with the Scala compiler that ships with the Spark jars (cached under
perfbench/.work until a source file changes), makes the workload's inputs from
the seed, runs the harness JVM for `--seconds` of closed-loop work (at least
three units), checks every output, and prints one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import queue
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import duckdb

import checks
import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
SF_TAG = "sf0.01"
FIXTURES = os.path.join(HERE, "fixtures", SF_TAG)
ORACLE_CACHE = os.path.join(ROOT, "tools", "oracle_cache")
QUERY_MIX = ("q36_minhash_lsh", "q322_stream_hll", "q177_mr_grep")
# tables each workload touches in set-up (nation is the canary's), the queries
# of one pass, and the set-ups per run. setup_s is the median set-up; the cold
# one is the slowest and the next few are still warming the JIT, so the median
# is steady only with several warm ones. A word-count set-up costs about 3 s, so
# it is repeated 7 times; a query set-up costs about 7 s, and the run budget
# allows 3.
WORKLOADS = {
    "mr_wordcount": {"tables": ["nation"], "queries": [], "setups": 7},
    "query_mix": {"tables": ["nation", "lineitem", "documents"], "queries": list(QUERY_MIX),
                  "setups": 3},
}
DEADLINE_S = 160  # the harness JVM is killed this long after it started
BUILD_TIMEOUT_S = 840

# the word-count job: R and its corpus (8 files of 2 MB, one input split each)
N_OUTPUT_FILES = 8
CORPUS_FILES = 8
CORPUS_FILE_BYTES = 2_000_000

# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked JVMs)
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code, or None on
    timeout. The whole group is killed on timeout and when this run is stopped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sources():
    """The Scala sources of the program and of the harness."""
    found = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def spark_jars():
    """The directory of Spark jars the program compiles against: the
    `unmanagedBase` of its build.sbt, else $SPARK_HOME/jars. Spark ships the
    compiler of the program's Scala version (`scalaVersion`) there too."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        sbt = fh.read()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    jars = base.group(1) if base else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    compiler = f"scala-compiler-{version.group(1) if version else ''}.jar"
    if not os.path.exists(os.path.join(jars, compiler)):
        fail(f"no {compiler} in {jars!r}")
    return jars


def build():
    """Compiles the program and the harness with the Scala compiler, run
    straight from the Spark jars; returns the harness's runtime classpath.
    No sbt: the build needs no cache, lock or server outside the checkout.
    The classes are kept in perfbench/.work/build until a source changes."""
    out = os.path.join(WORK, "build")
    classes, stamp_p = os.path.join(out, "classes"), os.path.join(out, "stamp")
    jars = os.path.join(spark_jars(), "*")
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classpath = f"{classes}:{jars}"
    if os.path.exists(stamp_p) and open(stamp_p).read() == stamp:
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args_p = os.path.join(out, "sources.txt")
    with open(args_p, "w") as fh:
        fh.write("".join(f'"{f}"\n' for f in srcs))
    log = os.path.join(out, "scalac.log")
    with open(log, "w") as fh:
        rc = run_group(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
                        "-cp", jars, "scala.tools.nsc.Main",
                        "-d", classes, "-classpath", jars, f"@{args_p}"],
                       BUILD_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build {'timed out' if rc is None else f'failed (exit {rc})'}; see {log}")
    with open(stamp_p, "w") as fh:
        fh.write(stamp)
    return classpath


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stopped run unwinds, so the JVM it started is killed with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"no program to build: {ROOT} has no build.sbt")

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        return run(a, classpath, cores, run_dir, tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def harness(cmd, log, on_check, **kw):
    """Runs the harness JVM in its own process group and returns its exit code,
    or None on timeout. Answers each `perfbench-check <op id> <dir>` line it
    prints with on_check(op id, dir) and one line back; other output goes to
    `log`. The whole group is killed on timeout and when this run is stopped."""
    deadline = time.monotonic() + DEADLINE_S
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, stderr=log, text=True, **kw)
    lines = queue.Queue()
    reader = threading.Thread(target=lambda: [lines.put(l) for l in p.stdout] + [lines.put(None)],
                              daemon=True)
    reader.start()
    try:
        while (line := lines.get(timeout=max(0.0, deadline - time.monotonic()))) is not None:
            if line.startswith("perfbench-check "):
                _, op_id, out = line.rstrip("\n").split(" ", 2)
                on_check(int(op_id), out)
                p.stdin.write("ok\n")
                p.stdin.flush()
            else:
                log.write(line)
        return p.wait(timeout=max(0.0, deadline - time.monotonic()))
    except (queue.Empty, subprocess.TimeoutExpired):
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        reader.join()


def run(a, classpath, cores, run_dir, tmp):
    # the corpus is made before the JVM starts: its time is the benchmark's own
    # and is not part of the program's set-up
    gen_s, tally, corpus_paths = 0.0, {}, []
    if a.workload == "mr_wordcount":
        g0 = time.monotonic()
        corpus_paths, tally = corpus.generate(
            a.seed, os.path.join(run_dir, "corpus"), CORPUS_FILES, CORPUS_FILE_BYTES)
        gen_s = time.monotonic() - g0

    # each MR job's output is checked, then deleted, before the next job starts
    mr_checks = {}

    def check_mr(op_id, out):
        problems, n_keys = checks.check_wordcount(out, tally, N_OUTPUT_FILES)
        n_files = len([f for f in os.listdir(out) if f.startswith("part-")]) if os.path.isdir(out) else 0
        mr_checks[op_id] = (problems, n_keys, n_files)
        shutil.rmtree(out, ignore_errors=True)

    result_p = os.path.join(run_dir, "result.json")
    # a fixed heap: G1 does not shrink it after the set-ups' collections, so
    # the first timed unit does not pay to grow it again
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--setups", str(WORKLOADS[a.workload]["setups"]), "--data", FIXTURES,
           "--tables", ",".join(WORKLOADS[a.workload]["tables"]),
           "--queries", ",".join(WORKLOADS[a.workload]["queries"]),
           "--corpus", ",".join(corpus_paths), "--work", run_dir, "--result", result_p]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # Spark binds to, and names itself by, the loopback interface, whatever the
    # machine's host name resolves to
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log_p = os.path.join(WORK, f"{a.workload}-trace{a.trace}.log")
    with open(log_p, "w") as log:
        rc = harness(cmd, log, check_mr, cwd=run_dir, env=env)
    if rc != 0 or not os.path.exists(result_p):
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}; see {log_p}")
    r = json.load(open(result_p))
    r["setup"]["gen_s"] = gen_s
    # keep the raw result (and the spans of a traced run) for inspection
    keep = os.path.join(WORK, f"{a.workload}-trace{a.trace}.result.json")
    with open(keep, "w") as fh:
        json.dump(r, fh)
    if os.path.exists(result_p + ".spans.json"):
        shutil.copy(result_p + ".spans.json", keep + ".spans.json")

    # checks: every MR job's output, and each query's checked execution
    bad_ops, groups, files = set(), [], []
    for op in r["warm"] + r["ops"]:
        problems = [op["error"]] if not op["ok"] else []
        if op["kind"] == "mr" and op["ok"]:
            problems, n_keys, n_files = mr_checks.get(op["id"], (["output not checked"], 0, 0))
            if op["traced"]:
                groups.append(n_keys)
                files.append(n_files)
        elif op["kind"] == "check" and op["ok"]:
            base = checks.oracle_path(ORACLE_CACHE, op["name"], SF_TAG, r["oracle_sql"][op["name"]])
            problems = checks.check_query(duckdb.connect(), op["output"], base)
        if problems:
            bad_ops.add((op["kind"], op["name"], op["id"]))
            print(f"FAILED {op['kind']} {op['name']}: {problems[:3]}", file=sys.stderr)
    bad_queries = {name for kind, name, _ in bad_ops if kind == "check"}
    timed = r["ops"]
    failed = sum(1 for op in timed
                 if (op["kind"], op["name"], op["id"]) in bad_ops or op["name"] in bad_queries)
    correct = not bad_ops

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = [u for u in r["units"] if not u["traced"]]
    if a.trace == 0:
        # wall times net of hypervisor steal: on a shared machine the share of
        # CPU time stolen from the running threads drifts from run to run, and
        # stretches a unit's wall time by 1 / (1 - that share)
        values = {
            "wall_s": median([u["wallS"] * (1 - u["stealFrac"]) for u in units]),
            "setup_s": median([x["wallS"] * (1 - x["stealFrac"]) for x in r["setup"]["rounds"]]),
        }
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        values = dict(r["layers"])
        values["mr.reduce.groups"] = median(groups)
        values["mr.write.files"] = median(files)
        for q in QUERY_MIX:
            values[f"queries.{q}.wall_s"] = median(
                [op["wallS"] for op in timed if op["name"] == q and not op["traced"]])
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if set(values) != set(wanted):
        fail(f"metrics do not match BENCHMARK.json: {sorted(set(values) ^ set(wanted))}")
    out = {"correct": correct, "attempted": len(timed), "failed": failed,
           "metrics": {k: {"value": values[k], "unit": unit} for k, unit in wanted.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
