#!/usr/bin/env python3
"""Run one benchmark workload of the slow-query engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark from
source with sbt (the benchmark's own build in this directory depends
on the engine's build one level up). Later runs reuse the build as long
as the sources it was made from are unchanged; any change to the
engine's or the benchmark's sources or build files rebuilds first. The
benchmark then runs in one JVM on a local[4] Spark master. Its last
stdout line is the JSON result; everything it writes stays under
perfbench/.work and the sbt target directories.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
# first line: digest of the sources the build was made from; second: the classpath
CLASSPATH = HERE / "target" / "perfbench.classpath"
WORK = HERE / ".work"

# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = ["slowlog_pages", "lexindex_mixed", "slowlog_stream"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads: the engine's and the
    benchmark's sources, build.sbt and project/ definitions."""
    files = []
    for base in (ROOT, HERE):
        files.append(base / "build.sbt")
        proj = base / "project"
        if proj.is_dir():
            files += [p for p in proj.iterdir() if p.suffix in (".sbt", ".scala", ".properties")]
        files += (base / "src" / "main").rglob("*")
    h = hashlib.sha256()
    for p in sorted(f for f in set(files) if f.is_file()):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def built_classpath(digest):
    """The recorded classpath if it was built from these sources and
    every entry still exists, else None."""
    if not CLASSPATH.is_file():
        return None
    lines = CLASSPATH.read_text().splitlines()
    if len(lines) != 2 or lines[0] != digest:
        return None
    if not all(os.path.exists(p) for p in lines[1].split(os.pathsep)):
        return None
    return lines[1]


def build(deadline, digest):
    """Compile engine + benchmark (incrementally); record the runtime
    classpath with the digest of the sources it was built from."""
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    # sbt is a launcher script: run it in its own process group so a
    # timeout stops the JVM it starts too
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out")
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(f"{digest}\n{lines[-1].strip()}\n")
    return lines[-1].strip()


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the engine's sources are not next to the benchmark; run from a full checkout")
    digest = sources_digest()
    classpath = built_classpath(digest) or build(start + 840, digest)

    WORK.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    heap0 = os.environ.get("SPARK_DRIVER_XMS", heap)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}", f"-Xms{heap0}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perf.PerfMain", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(WORK / "runs")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    budget = 170 if args.workload != "all" else 900
    try:
        proc = subprocess.run(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, text=True, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM did not finish within {budget} s")
    lines = proc.stdout.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result:
        sys.stdout.write("\n".join(l for l in lines if not l.startswith('{"correct"')) + "\n")
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    for l in lines:
        if l is not result[-1] and not l.startswith('{"correct"'):
            print(l)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
