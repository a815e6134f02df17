#!/usr/bin/env python3
"""Run one benchmark workload of the CDC engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the engine and the
harness (see build.py) into $CARGO_TARGET_DIR, or `.bench_build`. Tables,
staged inputs and Spark scratch files live in `.bench_work/` and are removed
after the run; the JVM log and traces go to `.bench_out/`. The last line of
standard output is the JSON result; without a result the exit code is not 0.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(ROOT, build_dir)

    tag = "self-test" if a.self_test else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = [build.java(), "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + build.spark_jars()), "perfbench.Main",
            "--work", work, "--trace-dir", out, "--cores", str(cores)]
    if a.self_test:
        cmd += ["--self-test", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]

    log_path = os.path.join(out, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log: {log_path}\n")
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").splitlines()
    result = None
    if not a.self_test and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
        if not (isinstance(result, dict) and set(result) == {"correct", "attempted", "failed", "metrics"}):
            result = None
    body = lines if a.self_test or result is None else lines[:-1]
    for line in body:
        print(line)
    if proc.returncode != 0 or (not a.self_test and result is None):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"perfbench: no result (exit code {proc.returncode}); log: {log_path}\n")
        return proc.returncode or 1
    if result is not None:
        print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
