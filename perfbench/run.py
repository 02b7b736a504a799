#!/usr/bin/env python3
"""Run one benchmark workload with one seed.

Usage, from the repository root:

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark on first use (into .bench_build/),
runs the workload in one JVM at local[N] (N = min(4, cpus)) and prints the
benchmark's output; the last line is the result object. Run files go to
.bench_build/run-<pid>/ and are deleted at the end; with --trace 1 the
spans are kept in .bench_build/spans/.

Extra options, used by selftest.py: --ops N (exactly N timed ops instead
of --seconds), --wrong-expected 1 (corrupt every expected value, so every
check must fail).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_stamp(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", os.path.relpath(os.path.join(HERE, "src"), root),
                os.path.relpath(os.path.join(HERE, "build.sh"), root)):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile into .bench_build/classes unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found")
    classes = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(root, BUILD, "stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    rc = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars()], cwd=root,
                        stdout=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (rc={rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_java(root, classes, main_class, args, tmp):
    """Run a JVM main with the benchmark's classpath; return (rc, stdout).
    The process group is killed on timeout or on SIGTERM/SIGINT."""
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{jars()}/*", main_class] + args
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=tmp)
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, env=env,
                            start_new_session=True, text=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def stop(*_):
        kill()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def fresh_tmp(root):
    tmp = os.path.join(root, BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["refresh", "read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ops", type=int)
    ap.add_argument("--wrong-expected", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build(root)
    tmp = fresh_tmp(root)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tmp", tmp]
    if a.ops is not None:
        args += ["--ops", str(a.ops)]
    if a.wrong_expected:
        args += ["--wrong-expected", "1"]
    if a.trace:
        spans = os.path.join(root, BUILD, "spans")
        os.makedirs(spans, exist_ok=True)
        args += ["--spans", os.path.join(spans, f"{a.workload}-{a.seed}.jsonl")]
    rc, out = run_java(root, classes, "perfbench.Main", args, tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = (rc == 0 and isinstance(result, dict)
          and set(result) == {"correct", "attempted", "failed", "metrics"})
    for l in (lines if ok else lines[:-1]):
        print(l)
    if not ok:
        sys.exit(f"perfbench: run failed (rc={rc})")


if __name__ == "__main__":
    main()
