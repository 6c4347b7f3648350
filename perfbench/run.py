#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ingest|serve \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark with sbt (cached under
.bench_build/ by a hash of the sources), then runs perfbench.Main on
the JVM. Everything it writes stays inside the checkout. The last line
of standard output is the run's JSON result; on any failure the script
exits non-zero without printing one.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("ingest", "serve")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    digest = source_hash()
    cp_file = CACHE / "classpath.txt"
    if cp_file.is_file():
        cached_digest, _, cp = cp_file.read_text().partition("\n")
        if cached_digest == digest and cp.strip():
            return cp.strip()
    CACHE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "export perfbench/Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=800)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(digest + "\n" + lines[-1] + "\n")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap and 4 MB regions: no heap resizing between runs, and
    # fewer of Spark's buffers count as humongous objects
    cmd = [java, *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:G1HeapRegionSize=4m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)

    # a terminated runner still stops the JVM: SIGTERM unwinds through
    # the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    last = None
    try:
        # hold back the latest line: only a complete run prints its result
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = proc.wait()
    finally:
        watchdog.cancel()
        kill()
        proc.wait()
        for trace in work.glob("trace-*.jsonl"):
            shutil.copy(trace, CACHE / trace.name)
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(last or "")
        ok = rc == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if not ok:
        if last:
            print(last, file=sys.stderr)
        fail(f"benchmark exited with code {rc} without a result")
    print(last, flush=True)


if __name__ == "__main__":
    main()
