#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 24 --trace 0

Builds src/main plus the benchmark's Scala sources with the Scala compiler
that ships in Spark's jars (once per source change), starts one JVM for the
workload, relays its `perfbench:` lines and prints the JSON result as the
last line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
WORKLOADS = ("nightly", "serve_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# The JVM flags build.sbt gives the engine (add-opens for Spark on JDK 17,
# and the code-generation settings the kernel's wide methods need).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-XX:-DontCompileHugeMethods",
    "-Dspark.sql.codegen.methodSplitThreshold=256",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing",
]
# serve_ingest is timed warm, yet the JIT is still tiering up Spark's driver
# code after its warm-up (~2.5 s of compilation per ~3 s cycle on a 4-core
# box) and a run's speed followed how that compilation fell against the
# timed ops. Its compiler threads run at the lowest OS priority (nice 19),
# so they take idle CPU first. nightly is timed cold and keeps the default.
WARM_JVM_FLAGS = ["-XX:ThreadPriorityPolicy=1", "-XX:CompilerThreadPriority=19"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("Spark jars not found: set SPARK_HOME or put Spark's bin on PATH")


def heap():
    """Half the machine's memory in GiB, clamped to 2..8: the same rule the
    repo's tier-1 test command uses for SPARK_DRIVER_MEM."""
    g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    return f"{min(max(g, 2), 8)}g"


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources missing: {engine}")
    out = []
    for base in (engine, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile into BUILD/classes unless the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    # cwd outside the checkout's tree: scalac's default classpath is ".",
    # where the directory perfbench/scala would shadow the scala package
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def jvm(classes, args, log_path, flags=()):
    """Run perfbench.Main; returns (exit code, stdout lines)."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + heap(), "-Djava.io.tmpdir=" + tmp] + JVM_FLAGS + list(flags) +
           ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.Main"] + args)
    lines = []
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        # kill the whole process group if the run outlives its budget, even
        # while it prints nothing
        watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
        watchdog.start()
        # if this script is stopped, stop the JVM with it
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: (os.killpg(p.pid, signal.SIGKILL), sys.exit(1)))
        try:
            for line in p.stdout:
                lines.append(line.rstrip("\n"))
                if line.startswith("perfbench:"):
                    print(line, end="", flush=True)
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, lines


def overhead(results, workload, seed):
    """Traced minus untraced for each end-to-end figure both runs have."""
    paths = [os.path.join(results, f"{workload}-seed{seed}-trace{t}.json") for t in (0, 1)]
    if not all(os.path.exists(p) for p in paths):
        return None
    base, traced = (json.load(open(p))["named"] for p in paths)
    out = {}
    for k, v in base.items():
        if k in traced and k != "ops_failed_frac" and v["value"]:
            out[k] = {"untraced": v["value"], "traced": traced[k]["value"],
                      "overhead": traced[k]["value"] / v["value"] - 1.0}
    with open(os.path.join(results, f"{workload}-seed{seed}-overhead.json"), "w") as f:
        json.dump(out, f, indent=1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="print the digest of the seed's generated inputs and exit")
    a = ap.parse_args()
    if not a.digest and not a.workload:
        ap.error("--workload is required")

    classes = build()
    if a.digest:
        code, lines = jvm(classes, ["--digest", "--seed", str(a.seed)],
                          os.path.join(BUILD, "logs", f"digest-{a.seed}.log"))
        if code != 0 or not lines:
            fail("digest failed")
        print(lines[-1])
        return

    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    log = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        code, lines = jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--results", results], log,
            WARM_JVM_FLAGS if a.workload == "serve_ingest" else ())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = lines[-1] if lines else ""
    if code != 0 or not result.startswith("{"):
        fail(f"workload run failed (exit {code}); log: {log}")
    if a.trace:
        oh = overhead(results, a.workload, a.seed)
        for k, v in (oh or {}).items():
            print(f"perfbench: tracing overhead {k}: {v['overhead'] * 100:+.1f}% "
                  f"({v['untraced']:.4g} -> {v['traced']:.4g})")
    print(result, flush=True)


if __name__ == "__main__":
    main()
