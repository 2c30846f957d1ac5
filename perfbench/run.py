#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload gate --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (offline) when
the sources changed since the last build, then runs `perfbench.Main` in one
JVM with the session settings recorded in BENCHMARK.json. The last line of
stdout is the result JSON. Build output, Spark scratch space, reports and
traces go to `.bench_build/perfbench/`; the build stamp and classpath to
`perfbench/target/`.
"""
import hashlib
import json
import os
import subprocess
import sys

WORK = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for root in BUILD_INPUTS:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the stamped classpath is current. The stamp
    lives next to sbt's own output, so it goes whenever the build does."""
    os.makedirs(os.path.join("perfbench", "target"), exist_ok=True)
    stamp_file = os.path.join("perfbench", "target", "build.stamp")
    cp_file = os.path.join("perfbench", "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and benchmark with sbt")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd="perfbench", env=sbt_env(), stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(r.stdout)
    cps = [l.strip() for l in r.stdout.splitlines()
           if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def heap_ceiling():
    """The Spark driver heap the repository's test setup uses
    (SPARK_DRIVER_MEM): half the host's memory, 2-8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(max(g, 2), 8)}g"


def main(argv):
    if not (os.path.isfile("build.sbt") and
            os.path.isfile("src/main/scala/graft/SparkEntry.scala")):
        log("run from the root of a checkout of the program")
        return 2
    args = dict(zip(argv[0::2], argv[1::2]))
    if "--workload" not in args:
        log("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()
    mem = heap_ceiling()
    jvm = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the test setup's heap ceiling; the heap grows to what the run needs
        # and, after the benchmark's own full GCs, is not handed back
        f"-Xmx{mem}", "-XX:MaxHeapFreeRatio=100", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + os.path.abspath(os.path.join(WORK, "tmp")),
        "-cp", cp, "perfbench.Main"] + argv
    env = dict(os.environ)
    if args.get("--trace") == "1":
        # replays must not be answered from the stand-in's response cache
        env["GRAFT_STUB_CACHE_BYTES"] = "0"
    try:
        r = subprocess.run(jvm, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 1
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        log(f"run failed (exit {r.returncode})")
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
