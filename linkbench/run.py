#!/usr/bin/env python3
"""Link-graph benchmark entry point.

    python3 linkbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Compiles the engine and the harness from
the checkout's sources when they changed since the last build, with the
Scala compiler that ships in Spark's jars (the build goes to
$CARGO_TARGET_DIR, default .bench_build), then runs one JVM with a local
Spark session for the workload. Scratch files of the run go to a
temporary directory under the build directory that is removed afterwards.
The last line of stdout is the result JSON; everything else goes to
stderr. Needs java 17 and a Spark 4.1 distribution: $SPARK_HOME, else the
one of spark-submit on the PATH, else the jars directory the repository's
own build.sbt names.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE = ROOT / "src" / "main" / "scala"
WORKLOADS = ("web-local", "hub-distributed")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """The host's CPU time counters since boot (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def log_steal(before, after):
    """Logs the share of CPU time the hypervisor took from this VM (steal)
    and the idle share while the JVM ran: a run slowed by neighbours on a
    shared host shows high steal.
    """
    if before and after and len(before) > 7:
        d = [b - a for a, b in zip(before, after)]
        if sum(d) > 0:
            log(f"host CPU over the run: steal {d[7] / sum(d):.3f}, idle {d[3] / sum(d):.3f}")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def spark_jars():
    """Spark's jars directory, which also holds the Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    build_sbt = ROOT / "build.sbt"
    if build_sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    return sorted(ENGINE.rglob("*.scala")) + sorted((BENCH / "src" / "main").rglob("*.scala"))


def source_stamp(jars):
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256(str(jars).encode())
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compiles when the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    classes = build_dir / "classes"
    stamp_file = build_dir / "stamp"
    classpath = f"{classes}{os.pathsep}{jars / '*'}"
    stamp = source_stamp(jars)
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    log(f"compiling engine and harness against {jars}")
    t0 = time.time()
    fresh = build_dir / "classes-new"
    tmp = build_dir / "scalac-tmp"
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("".join(f'"{f}"\n' for f in sources()))
    try:
        out = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
             "-d", str(fresh), "-classpath", str(jars / "*"), f"@{args}"],
            stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"build took longer than {BUILD_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if out.returncode != 0:
        raise SystemExit(f"build failed with exit code {out.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # on SIGTERM, unwind: the JVM is killed and waited for, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ENGINE / "graft").is_dir():
        raise SystemExit(f"no engine sources at {ENGINE}; run from a full checkout")
    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "linkbench"
    classpath = build(build_dir)

    run_dir = build_dir / f"run-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    try:
        cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += [
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", classpath, "linkbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work-dir", str(run_dir / "work"),
            "--cores", str(len(os.sched_getaffinity(0))),
        ]
        if args.trace == "1":
            trace_file = build_dir / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
            cmd += ["--trace-file", str(trace_file)]
        # Spark binds to loopback unless told otherwise, so an unresolvable
        # host name cannot stop the run
        env = {"SPARK_LOCAL_IP": "127.0.0.1", "SPARK_LOCAL_HOSTNAME": "localhost",
               **os.environ, "SPARK_LOCAL_DIRS": str(run_dir / "spark")}
        before = cpu_times()
        try:
            out = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                 stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM ran longer than {RUN_TIMEOUT_S} s; stopped")
        log_steal(before, cpu_times())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not results:
        sys.stderr.write(out.stdout)
        raise SystemExit(f"benchmark JVM exited with {out.returncode}")
    if args.trace == "1":
        log(f"spans written to {trace_file}")
    print(results[-1], flush=True)


if __name__ == "__main__":
    main()
