"""One-off check of the flagship contract at 1,000,000 pages, seed 0:
one ``run_pipeline`` over the generated pages must route exactly
es 1,089,789 / ls 693,153 / dropped 197,219 / deadletter 19,839 events,
as must the DuckDB oracle over the same input.

    python3 perfbench/contract_1m.py

It takes under a minute on 4 CPUs (``run_pipeline`` alone about 25 s)
and is not one of the timed workloads. Exit code 0 means both agree with
the contract.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH])

import gen  # noqa: E402
import oracle  # noqa: E402

CONTRACT = {"sink_es": 1_089_789, "sink_ls": 693_153,
            "sink_dropped": 197_219, "sink_deadletter": 19_839}


def main() -> int:
    import harness
    from beats_spark.pipeline import run_pipeline

    work = os.path.join(BENCH, ".work", "contract_1m")
    shutil.rmtree(work, ignore_errors=True)
    pages = os.path.join(work, "pages")
    try:
        gen.generate(pages, 0, 1_000_000, files=8)
        want = oracle.sink_counts([os.path.join(pages, "*.parquet")])
        spark = harness.make_session(work)
        try:
            host_meta, lang_meta = harness.lookups(spark)
            t0 = time.perf_counter()
            res = run_pipeline(spark, spark.read.parquet(pages), host_meta,
                               lang_meta, os.path.join(work, "out"))
            run_s = time.perf_counter() - t0
        finally:
            spark.stop()
        got = harness.observed(res.metrics)
        written = harness.sink_rows(
            os.path.join(work, "out", "runs", res.run_id, "routed"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"run_pipeline: {run_s:.1f} s; observed {got}; written {written}; "
          f"oracle {want}")
    ok = got == written == want == CONTRACT
    print("contract holds" if ok else "CONTRACT MISMATCH")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
