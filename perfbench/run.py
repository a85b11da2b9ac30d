"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_100k --seed 0 --seconds 15 --trace 0

Steps, each in its own process:

1. this process generates the seeded inputs (``gen.py``) and the
   expected outputs (``oracle.py``), neither of which imports
   ``beats_spark``;
2. ``harness.py`` starts Spark, warms up, measures and checks, and
   prints one JSON result line;
3. this process prints that line last and deletes the run's inputs and
   outputs.

Everything is written under ``perfbench/.work`` (deleted after the run)
and ``perfbench/.results`` (the record with the host fingerprint, and
the spans of a traced run). Exit code 0 means a result was printed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS_TIMEOUT_S = 170


def expectations(inputs: str, workload: str, seed: int) -> dict:
    """Generate the workload's inputs and what the pipeline must output."""
    gen.generate_workload(inputs, workload, seed)
    plan = gen.INPUTS[workload]
    increments = sorted(glob.glob(os.path.join(inputs, "increments", "*")))
    want = {"increment_pages": plan["increments"][0],
            "increment_sinks": [oracle.sink_counts([p]) for p in increments]}
    if "pages" in plan:
        want["pages"] = plan["pages"][0]
        want["sinks"] = oracle.sink_counts(
            [os.path.join(inputs, "pages", "*.parquet")])
    if workload == "stream_tail":
        bucket = oracle.TokenBucket(oracle.RATE_PER_HOST)
        want["admitted"] = [
            [[h, ts, n] for (h, ts), n in bucket.admit(
                (h, ts - ts % oracle.DAY_US)
                for h, ts in oracle.host_events([p])).items()]
            for p in increments]
    return want


def main() -> int:
    ap = argparse.ArgumentParser(description="run one benchmark workload")
    ap.add_argument("--workload", required=True, choices=sorted(gen.INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the measured process tree (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BENCH, ".results")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    try:
        want = expectations(inputs, a.workload, a.seed)
        with open(os.path.join(inputs, "expected.json"), "w") as f:
            json.dump(want, f)
        tmp = os.path.join(work, "tmp")
        env = dict(os.environ,
                   PYTHONPATH=os.pathsep.join([ROOT, BENCH]),
                   PYSPARK_PYTHON=sys.executable,
                   PYTHONHASHSEED="0",
                   TMPDIR=tmp,
                   # every JVM, the launcher's too: temp files in the work
                   # directory and no /tmp/hsperfdata
                   JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        record = os.path.join(
            results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        cmd = [sys.executable, os.path.join(BENCH, "harness.py"),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--inputs", inputs, "--work", work, "--record", record,
               "--launched-at", repr(time.time())]
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=HARNESS_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(out)
            print(f"harness failed with exit code {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode or 1
        print(lines[-1], flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
