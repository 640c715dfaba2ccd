#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload interactive|sync_churn --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles (build.py); each run
then starts one JVM, whose corpus, store and Spark local files live in a
directory under the build dir that is removed when the run ends. With
--trace 1 the run's spans are also written to <build dir>/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    build_dir = build.build_dir_from()
    classes = build.build(build_dir)
    jars = build.spark_jars()
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--trace-dir", str(build_dir / "traces")]

    work = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
               + [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
                  "-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]),
                  "graft.perfbench.Main"] + args)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down before leaving
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"run: no result within {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 3
        lines = out.decode("utf-8", "replace").splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write("\n".join(lines) + "\n")
            print(f"run: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 4
        if a.selftest:
            print(lines[-1])
            return 0
        result = json.loads(lines[-1])
        if set(result) != RESULT_KEYS:
            print(f"run: malformed result line: {lines[-1]}", file=sys.stderr)
            return 5
        for line in lines:
            print(line)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
