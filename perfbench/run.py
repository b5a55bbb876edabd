#!/usr/bin/env python3
"""Benchmark of the graft engine: one JVM per run at local[k], k = usable cores.

    python3 perfbench/run.py --workload {ingest,scan,curate} --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program's sources
in that checkout together with the benchmark (sbt, offline), in
perfbench/target; later runs reuse the build while the sources are unchanged.
Each run gets a fresh scratch directory under perfbench/out for its inputs,
chunk tables and Spark's local dir, and removes it when it ends. The last
line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main"
OUT = BENCH / "out"
TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "source.stamp"
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every source the build compiles, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (PROGRAM_SRC, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (PROGRAM_SRC / "scala" / "graft").is_dir():
        fail(f"no program sources at {PROGRAM_SRC.relative_to(ROOT)}; run from a full checkout")
    stamp = source_stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    (TARGET / "tmp").mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={TARGET / 'tmp'}".strip()
    log = OUT / "build.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                                "writeClasspath"], cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if r.returncode != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed; see {log}", 3)
    STAMP.write_text(stamp)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, os.cpu_count() or n))


def java_cmd(main, args, tmp):
    """A JVM whose temporary files (native libraries Spark unpacks) stay in `tmp`."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp.mkdir(parents=True, exist_ok=True)
    return [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:MaxTenuringThreshold=2", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", *opens, "-cp", CLASSPATH.read_text().strip(), main, *args]


class Child:
    """The JVM of a run; stopped and waited for on every exit path."""

    def __init__(self):
        self.proc = None

    def stop(self):
        if self.proc and self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["ingest", "scan", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own check tests")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    build()
    child = Child()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.selftest:
        try:
            child.proc = subprocess.Popen(java_cmd("perfbench.SelfTest", [], OUT / "tmp-selftest"), cwd=ROOT)
            sys.exit(child.proc.wait(timeout=RUN_TIMEOUT_S))
        finally:
            child.stop()

    scratch = OUT / f"run-{os.getpid()}-{time.time_ns()}"
    scratch.mkdir(parents=True)
    log = OUT / f"last-{a.workload}.log"
    trace_out = OUT / "traces" / f"{a.workload}-seed{a.seed}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", str(scratch), "--cores", str(cores()),
            "--trace-out", str(trace_out)]
    try:
        with open(log, "w") as err:
            child.proc = subprocess.Popen(java_cmd("perfbench.Main", args, scratch / "tmp"), cwd=scratch,
                                          stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = child.proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 4)
        lines = [l for l in out.splitlines() if l.strip()]
        if child.proc.returncode != 0 or not lines:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"run failed with exit code {child.proc.returncode}; see {log}", 5)
        result = json.loads(lines[-1])
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result))
    finally:
        child.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
