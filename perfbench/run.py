#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload anon_dbscan --seed 1 --seconds 1 --trace 0

Builds the library and the benchmark from source first (see build.py), then
runs them in one JVM at local[nproc]. Workloads: anon_dbscan and anon_kmeans.
With --trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer ones. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it summarise
each iteration (wall and process CPU time), the load average and every
oracle check. A fuller record is left in perfbench/.work/.

Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import build

HERE = Path(__file__).resolve().parent
WORK = HERE / ".work"
WORKLOADS = ["anon_dbscan", "anon_kmeans"]
# a run must end within this many seconds of the build finishing
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    arg
    for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (tests use less)")
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    try:
        cp = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S

    run_dir = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log_path = run_dir / "jvm.log"
    cmd = [build.java(), "-Xmx3g", "-Xss4m", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(run_dir), "--scale", str(args.scale)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=run_dir)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s; log in {log_path}",
                  file=sys.stderr)
            return 3

    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("".join(line + "\n" for line in lines))
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log_path}",
              file=sys.stderr)
        return proc.returncode or 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
