#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage, from the root of the repository:

    python3 etlbench/run.py --workload <siretisation|relational_short|llm_curation>
                            --seed <n> --seconds <s> --trace <0|1>

The first run compiles the engine and the benchmark with sbt and caches
the resulting classpath under etlbench/target; later runs start the JVM
directly. The last line of standard output is the benchmark's JSON
result. The exit code is nonzero when the build fails, when an output
is wrong, or when the run does not finish in time.
"""
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH_FILE = os.path.join(BENCH, "target", "etlbench.classpath")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """The runtime classpath, building first when a source is newer."""
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    build = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(build.stdout)
    lines = [l.strip() for l in build.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if build.returncode != 0 or os.path.join("etlbench", "target") not in cp or cp.startswith("["):
        sys.exit(f"benchmark build failed (sbt exit {build.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def main():
    cp = classpath()
    tmp = os.path.join(BENCH, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Only the heap's ceiling is set, so the heap grows with what the
    # engine uses and rss_peak_mb follows it. The serial collector grows
    # the heap by occupancy after a collection; G1 also grows it when
    # collections take long, which made the peak swing by a quarter
    # between runs with the host's speed.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseSerialGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Detlbench.dir={BENCH}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "etlbench.Main"] + sys.argv[1:])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; drop it so
    # shuffle and block files stay under etlbench/work.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"benchmark run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    result = lines.pop() if lines and lines[-1].startswith('{"correct"') else None
    sys.stderr.write("".join(l + "\n" for l in lines))
    if result is None:
        sys.exit(proc.returncode or 1)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
