#!/usr/bin/env python3
"""Cold, memo-free benchmark of graft: builds the engine and the benchmark
from source, runs one workload in a fresh JVM and prints one JSON line.

    python3 perfbench/run.py --workload warehouse_mix --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --selftest

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a separate traced run (spans go to .bench_build/traces/). See
perfbench/README.md for the workloads and what each metric means.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SRC_MAIN = os.path.join(ROOT, "src", "main", "scala")
SRC_BENCH = os.path.join(HERE, "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()
WORKLOADS = ("stroke_pipeline", "warehouse_mix")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

# Spark 4 on JDK 17 needs these outside spark-submit (see build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_checked(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout:.0f}s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile src/main/scala and perfbench/src into .bench_build, unless a
    build of exactly these sources is already there. Returns the classpath."""
    if not os.path.isdir(SRC_MAIN):
        fail(f"engine sources not found at {os.path.relpath(SRC_MAIN, ROOT)}")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME")
    main_files, bench_files = scala_files(SRC_MAIN), scala_files(SRC_BENCH)
    h = hashlib.sha256()
    for f in main_files + bench_files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    stamp = h.hexdigest()
    cls_main = os.path.join(BUILD, "classes", "main")
    cls_bench = os.path.join(BUILD, "classes", "bench")
    stamp_file = os.path.join(BUILD, "classes", "stamp")
    cp = [cls_bench, cls_main, os.path.join(SPARK_JARS, "*")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return os.pathsep.join(cp), False
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    for out, files, extra in ((cls_main, main_files, []),
                              (cls_bench, bench_files, ["-cp", cls_main])):
        os.makedirs(out)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
               *extra, *files]
        print(f"perfbench: compiling {len(files)} files", file=sys.stderr)
        if run_checked(cmd, BUILD_LIMIT_S, stdout=sys.stderr) != 0:
            fail("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return os.pathsep.join(cp), True


def jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "graftbench.Main", *args]
    return run_checked(cmd, timeout, stdout=sys.stderr, cwd=work)


def metric_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def summary(res):
    """One human-readable line per result: every metric with unit and n."""
    rows = res.get("end_to_end") or res.get("per_layer") or {}
    parts = []
    for k, m in rows.items():
        v = m["value"]
        shown = "n/a" if v is None else f"{v:.4g}"
        n = f" (n={m['samples']})" if "samples" in m else ""
        parts.append(f"{k}={shown} {m['unit']}{n}")
    return f"# {res['workload']} seed={res['seed']}: " + ", ".join(parts)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the input generator and the fresh-input rule")
    ap.add_argument("--record", metavar="DIR",
                    help="write each op's checksum to perfbench/data/expected and "
                         "its output to DIR for the DuckDB oracle")
    a = ap.parse_args()
    t0 = time.time()
    cp, built = build()
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    os.makedirs(BUILD, exist_ok=True)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            sys.exit(jvm(cp, ["--mode", "selftest"], work, limit))
        if not a.workload:
            fail("--workload is required")
        data = os.path.join(HERE, "data")
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--data", data, "--work", work, "--out", out]
        if a.record:
            args += ["--mode", "record", "--record-dir", os.path.abspath(a.record)]
            code = jvm(cp, args, work, limit)
            if code != 0:
                fail(f"benchmark JVM exited with {code}")
            shutil.copy(out, os.path.join(data, "expected", f"{a.workload}.json"))
            return
        trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        args += ["--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--trace-out", trace_out]
        code = jvm(cp, args, work, limit)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code} and no result")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    names = metric_names(kind)
    got = res[kind]
    missing = [n for n in names if got.get(n, {}).get("value") is None]
    if missing:
        fail(f"result lacks metrics {missing}")
    print(summary(res))
    for f in res.get("failures", []):
        print(f"# FAILED {f}")
    if a.trace:
        print(f"# trace written to {os.path.relpath(trace_out, ROOT)}; "
              f"ops whose second call took < 0.5x the first: "
              f"{', '.join(res['reuse_below_half']) or 'none'}")
    else:
        print(f"# pass_s per pass: {[round(x, 3) for x in res['pass_s']]}")
    line = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": got[n]["value"], "unit": got[n]["unit"]}
                    for n in names},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
