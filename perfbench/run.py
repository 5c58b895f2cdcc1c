#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <warehouse|curation>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler shipped in the Spark
jar directory named by build.sbt, runs one workload in a fresh JVM under
`.bench_tmp/`, checks every operation's output with DuckDB, and prints as
its last stdout line one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for the workloads, metrics and layers.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import checks  # noqa: E402

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("warehouse", "curation")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt"), encoding="utf-8").read()
    except OSError:
        die("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        die("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + harness once per source state; returns the class dir."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main", "scala")) for s in srcs):
        die("no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s[len(ROOT):].encode())
        h.update(open(s, "rb").read())
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(base, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        p = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            die("compilation failed")
        os.rename(tmp, out)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
        return out


def run_jvm(classes, jars, workload, seed, seconds, trace, tmp):
    outdir = os.path.join(tmp, "out")
    os.makedirs(outdir)
    jtmp = os.path.join(tmp, "jtmp")
    os.makedirs(jtmp)
    # fixed heap + parallel collector: steadier peak RSS and pause times
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={jtmp}", f"-Dspark.local.dir={jtmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main", workload, str(seed), str(seconds), str(trace), outdir]
    log = open(os.path.join(tmp, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    log.close()
    for line in open(os.path.join(tmp, "jvm.log")):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    if rc != 0:
        sys.stderr.write(open(os.path.join(tmp, "jvm.log")).read()[-6000:])
        die(f"benchmark JVM failed ({rc})")
    with open(os.path.join(outdir, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p75(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    jars = spark_jars()
    classes = build(jars)

    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = os.path.join(tmp_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        res = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace, tmp)
        t0 = time.time()
        failed_checks, self_test_ok, notes = checks.verify(res)
        print(f"[perfbench] checks: {len(res['checks'])} records in {time.time() - t0:.1f}s",
              file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = max(1, res["attempted"])
    failed = min(attempted, res["failed"] + failed_checks)
    for n in notes:
        print(f"perfbench: check: {n}", file=sys.stderr)
    ins = "; ".join(f"{k} rows={v['rows']} bytes={v['bytes']}" for k, v in res["inputs"].items())
    print(f"inputs: {ins}")
    print(f"samples: setups={len(res['setup_s'])} rounds={len(res['round_s'])} "
          f"builds={len(res['build_s'])} updates={len(res['update_ms'])} "
          f"reads={len(res['read_ms'])} "
          f"loadavg_start={res['loadavg_start']!r} loadavg_end={res['loadavg_end']!r} "
          f"gate_self_test={'pass' if self_test_ok else 'FAIL'}")

    if a.trace:
        layers = res["layers"]
        traced, untraced = res["traced_round_s"], res["round_s"]
        layers["trace.overhead_s"] = median(traced) - median(untraced)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        reads = res["read_ms"]
        values = {
            "setup_s": median(res["setup_s"]),
            "build_s": median(res["build_s"]),
            "update_p50_ms": median(res["update_ms"]),
            "read_p50_ms": median(reads),
            "read_p75_ms": p75(reads),
            "reads_per_s": len(reads) / res["read_phase_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and self_test_ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
