#!/usr/bin/env python3
"""Crawl-session and query benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the runner (an sbt
build in this directory that depends on the engine build at the root) and
caches its classpath under perfbench/.build; later runs reuse it while the
sources are unchanged. Each run starts one JVM (Spark local[4], 4 shuffle
partitions), prints every metric by name and unit, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the metrics are the per-layer ones and the spans, listener
aggregates and per-layer summary go to perfbench/.traces/.
See README.md in this directory for workloads, metrics and known gaps.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ["crawl_rounds", "query_mix"]
BUILD_DIR = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sf_dir():
    """$PERFBENCH_SF_DIR, else the sf0.1 directory listed in TESTDATA.md."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    return m.group(1).rstrip("/") if m else ""


def source_files():
    """every file the runner's build depends on, relative to ROOT."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """compile the runner and the engine; returns the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or ".jar" not in cp or os.pathsep not in cp:
        tail = "\n".join(lines[-30:])
        fail("build failed (rc=%s), log %s:\n%s" % (rc, log, tail), 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, args, work, out):
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed, pre-touched heap: resident memory then reflects the heap
    # size plus what the process holds outside it, not GC timing
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + work,
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    if args.workload == "query_mix":
        cmd += ["--sf", args.sf_dir]
    env = dict(os.environ, GRAFT_QUIET="1")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, env=env, stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read().splitlines()[-40:]
        fail("runner failed (rc=%s):\n%s" % (rc, "\n".join(tail)), 1)
    with open(out) as f:
        return json.load(f)


def check_queries(result, work):
    """compare every written query output with its oracle; returns the
    number of mismatching outputs and a few messages."""
    from checks import OracleChecker
    info = result["workload_info"]
    checker = OracleChecker(info["sf"], info["oracle_sql"])
    bad, msgs = 0, []
    for s in result["spans"]:
        if not s["name"].startswith("query.") or s["attrs"].get("threw"):
            continue
        q, p = s["name"][len("query."):], int(s["attrs"]["pass"])
        why = checker.check(q, os.path.join(work, "passes", str(p), q + ".parquet"))
        if why:
            bad += 1
            msgs.append("%s pass %d: %s" % (q, p, why))
    return bad, msgs


def main():
    # SIGTERM unwinds through run_bounded, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    args.sf_dir = sf_dir()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found under %s (run from a full checkout)" % ROOT, 2)
    if args.workload == "query_mix" and not os.path.isdir(args.sf_dir):
        fail("sf0.1 tables not found at '%s' (set PERFBENCH_SF_DIR)" % args.sf_dir, 2)

    cp = build()
    work = os.path.join(HERE, ".work", "%s-%d-%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(cp, args, work, os.path.join(work, "result.json"))
        attempted, failed = int(result["attempted"]), int(result["failed"])
        problems = ["%s: %s" % (c["leg"], c["detail"])
                    for c in result["checks"] if not c["ok"]]
        if args.workload == "query_mix":
            bad, msgs = check_queries(result, work)
            failed += bad
            problems += msgs
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and not problems and attempted > 0
    for p in problems[:20]:
        print("check failed: " + p)
    print("failed_ops_ratio %.6f (%d of %d rounds/queries)" % (
        metrics.ratio(failed, attempted), failed, attempted))
    n, med, p, tail = metrics.op_summary(result)
    print("%s latency: %d samples, median %.4f s%s" % (
        "round" if args.workload.startswith("crawl") else "query", n, med,
        ", p%d %.4f s" % (p, tail) if p else ", too few samples for a tail"))
    if args.trace == 0:
        catalogue, values = metrics.END_TO_END, metrics.end_to_end(result)
    else:
        catalogue, values = metrics.PER_LAYER, metrics.per_layer(result)
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        trace_out = os.path.join(HERE, ".traces", "%s-seed%d.json" % (
            args.workload, args.seed))
        with open(trace_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": result["spans"], "spark": result["spark"],
                       "per_layer": values,
                       "trace.overhead_ratio": values["trace.overhead_ratio"]}, f)
        print("trace written to %s" % os.path.relpath(trace_out, ROOT))
    for name, unit in catalogue:
        print("%s %r %s" % (name, values[name], unit))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in catalogue}}))


if __name__ == "__main__":
    main()
