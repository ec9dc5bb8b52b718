#!/usr/bin/env python3
"""Benchmark command for the graft library.

    python3 perfbench/run.py --workload gt_qc --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs start the JVM directly and
rebuild only when a source file changed. Each run gets its own temp root
under .bench_build/runs/, deleted when the run ends. The last line of
stdout is the result object; the exit code is non-zero when the build or
any operation failed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, REPO)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def sbt(*commands, log):
    with open(log, "w") as out:
        return subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", *commands],
                              cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL).returncode


def classpath():
    """Build if the sources changed since the cached classpath was made."""
    stamp = source_fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    if sbt("export Runtime/fullClasspath", log=log) != 0:
        fail(f"build failed, see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if "perfbench" not in cp:
        fail(f"no classpath in build output, see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run(args):
    cp = classpath()
    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    root = os.path.join(BUILD, "runs", tag)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", root, "--out", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopped", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    return code


def selftest():
    classpath()
    log = os.path.join(BUILD, "selftest.log")
    code = sbt("test", log=log)
    with open(log) as f:
        tail = [l for l in f if "Tests:" in l or "*** FAILED" in l or "All tests passed" in l]
    print("".join(tail) or f"see {log}", end="")
    return code


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=["gt_qc", "dedup_stream"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    args = p.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"{need} not found: run from a full checkout of the repository")
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        p.error("--workload is required")
    sys.stdout.flush()
    sys.exit(run(args))


if __name__ == "__main__":
    main()
