#!/usr/bin/env python3
"""Benchmark of the consume path.

    python3 perfbench/run.py --workload consume_skewed --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The program is compiled from `src/main/scala`
together with the harness in `perfbench/src` by the Scala compiler that
ships with Spark (no build file is read or changed); classes are cached
under `.perfbench/build/<source hash>`. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and a
span trace is written to `.perfbench/results/`. See perfbench/DESIGN.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("consume_skewed", "consume_small")

UNITS = {
    "setup_s": "s", "drain_mb_s": "MB/s", "commit_p50_ms": "ms",
    "commit_p99_ms": "ms", "heap_peak_mb": "MB",
    "batch.n": "count", "batch.rows_p50": "count",
    "batch.latest_offset_ms": "ms", "batch.get_batch_ms": "ms",
    "batch.query_planning_ms": "ms", "batch.wal_commit_ms": "ms",
    "batch.commit_offsets_ms": "ms", "batch.add_batch_ms_p99": "ms",
    "lag.p99_ms": "ms", "dispatch.apply_s": "s", "dispatch.jobs": "count",
    "dispatch.task_s": "s", "dispatch.task_max_s": "s",
    "dispatch.shuffle_write_mb": "MB", "dispatch.handler_calls": "count",
    "dispatch.hot_key_rows_frac": "frac", "filter.eval_s": "s", "filter.decode_s": "s",
    "filter.json_extractions": "count", "filter.pass_frac": "frac",
    "checkpoint.saves": "count", "checkpoint.keys": "count",
    "exec.task_s": "s", "exec.cpu_util": "frac", "jvm.gc_s": "s",
    "gen.late_p99_ms": "ms", "gen.backlog_max_rows": "count",
}

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                cands.append(line.split('file("', 1)[1].split('"', 1)[0])
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    sys.exit("perfbench: no Spark jar directory with a Scala compiler found")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        sys.exit("perfbench: no program sources under src/main/scala")
    return prog + harness


def build(jars):
    """Compile program + harness once per source hash; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    bdir = os.path.join(STATE, "build")
    out = os.path.join(bdir, key)
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, ".lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".done")):
            return out
        for old in os.listdir(bdir):
            if not old.startswith("."):
                shutil.rmtree(os.path.join(bdir, old), ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        t0 = time.time()
        cp = os.path.join(jars, "*")
        argfile = os.path.join(bdir, ".sources")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-classpath", cp, "-d", tmp, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit("perfbench: compilation failed")
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, out)
        log(f"compiled {len(srcs)} files in {time.time() - t0:.1f} s")
        return out


def java(classes, jars, main, args, heap, timeout, tmp):
    # A fixed heap and a small fixed young generation: young GCs come often
    # enough to sample the heap's peak, and a forced full GC between
    # timed windows cannot shrink the heap under the next window. Few GC
    # threads: with Spark's task threads (Main.Cores) they keep the JVM's
    # busy threads near the host's four cores.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn256m",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{main} exceeded {timeout} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        ok = all(UNITS.get(m["name"]) == m["unit"]
                 for m in bench["end_to_end"] + bench["per_layer"])
        print(("ok   " if ok else "FAIL ") + "BENCHMARK.json units match the harness")
        rc = java(classes, jars, "perfbench.SelfTest", [], "1g", 120, STATE)
        sys.exit(0 if ok and rc == 0 else 1)
    if a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload}")

    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work]
        rc = java(classes, jars, "perfbench.Main", args, "3g", 170, work)
        if rc != 0:
            sys.exit(f"perfbench: harness exited with {rc}")
        res = json.load(open(os.path.join(work, "result.json")))
        attempted, failed = int(res["attempted"]), int(res["failed"])
        values = res["layers"] if a.trace else res["e2e"]
        results = os.path.join(STATE, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}"
        if a.trace:
            trace = json.load(open(os.path.join(work, "trace.json")))
            base = os.path.join(results, f"{tag}-untraced.json")
            if not os.path.exists(base):
                prior = sorted(glob.glob(os.path.join(results, f"{a.workload}-seed*-untraced.json")),
                               key=os.path.getmtime)
                base = prior[-1] if prior else None
            if base:
                un = json.load(open(base))["e2e"]
                trace["overhead"] = {
                    "untraced_run": os.path.basename(base),
                    "traced_minus_untraced": {k: res["e2e"][k] - un[k]
                                              for k in res["e2e"] if k in un
                                              and res["e2e"][k] is not None and un[k] is not None}}
                log(f"tracing overhead vs {os.path.basename(base)}: "
                    + json.dumps(trace["overhead"]["traced_minus_untraced"]))
            else:
                trace["overhead"] = "no untraced run of this workload to compare with"
            trace["e2e_traced"] = res["e2e"]
            trace["per_layer"] = res["layers"]
            with open(os.path.join(results, f"{tag}-trace.json"), "w") as f:
                json.dump(trace, f)
        else:
            with open(os.path.join(results, f"{tag}-untraced.json"), "w") as f:
                json.dump(res, f)
        log("info: " + json.dumps(res["info"]))
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(values.items())}
        complete = all(v is not None and math.isfinite(v) for v in values.values())
        print(json.dumps({"correct": failed == 0 and complete, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
