#!/usr/bin/env python3
"""Streaming-validation benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload drain_stateless --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles graft's sources together with the
benchmark driver (sbt, offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run starts one JVM with a
`local[4]` Spark session, generates its inputs from `--seed` under the work
directory (`--work`, default `.bench_work/`), measures for `--seconds`,
checks the outputs and prints one JSON object as the last line of stdout.
With `--trace 1` it prints the per-layer metrics instead of the end-to-end
ones and writes the spans to `<work>/trace/<workload>-s<seed>.jsonl`.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import threading

ROOT = pathlib.Path.cwd()
HERE = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("drain_stateless", "drain_dedup", "tail_open_loop")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

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


def source_stamp():
    h = hashlib.sha256()
    trees = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in trees:
        paths = sorted(tree.rglob("*")) if tree.is_dir() else [tree]
        for p in paths:
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the driver; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft sources not found under src/main/scala; run from the repository root")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit") or fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(pathlib.Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # keep sbt's launcher lock and native-library scratch inside the checkout
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
           f"-Djna.tmpdir={BUILD / 'tmp'}", "compile", "export Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = res.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if res.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {res.returncode})")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=".bench_work",
                    help="directory for generated inputs, checkpoints, sinks and traces")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    work = (ROOT / a.work).resolve()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = shutil.which("java") or fail("java not found")
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap keeps resident memory from following GC
        # heap sizing, so rss_peak_mb moves with off-heap use
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    err_lines = []

    def pump_stderr():
        for line in proc.stderr:
            err_lines.append(line.rstrip("\n"))
            sys.stderr.write(line)

    pump = threading.Thread(target=pump_stderr, daemon=True)
    pump.start()
    timer = threading.Timer(RUN_LIMIT_S, proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        pump.join(timeout=10)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark process exited with {proc.returncode} and no result")

    # An ERROR logged after every streaming query stopped (for instance a
    # state-store teardown error) fails the run's own check.
    marker = [i for i, l in enumerate(err_lines) if l.strip() == "PERFBENCH_STREAMS_STOPPED"]
    tail_errors = [l for l in err_lines[marker[-1] + 1:] if " ERROR " in f" {l} "] if marker else []
    if not marker or tail_errors:
        for l in tail_errors:
            print(f"perfbench: ERROR after the last query stopped: {l}", file=sys.stderr)
        result = result.replace('"correct":true', '"correct":false', 1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
