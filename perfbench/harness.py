"""The measured process: one Spark session on ``local[nproc]`` that
drives one workload through the public ``beats_spark`` API in a closed
loop (one producer; the next input is committed only after the previous
one is acknowledged), checks every acknowledged output against the
oracle's expectations, and prints the result as its last line.

``run.py`` generates the inputs and expectations first and starts this
process with them; see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter
from typing import Callable, Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from beats_spark.catalog import Table
from beats_spark.checkpoint import Watermarks
from beats_spark.metrics import attach_observation
from beats_spark.pipeline import (SINKS, build_events, build_routed,
                                  run_pipeline, run_pipeline_incremental)
from beats_spark.streaming.pipeline import (PAGES_SCHEMA, run_stream_pipeline,
                                            stateful_rate_limit)

import gen
import oracle
from spans import Tracer, median, tail

# discarded before the clock starts: full-size batch runs, or increments
# (a stream ack keeps getting faster for about ten increments)
WARMUPS = {"batch_100k": 2, "stream_tail": 8}

END_TO_END_UNITS = {
    "setup_s": "s", "pages_per_s": "pages/s", "ack_p50_s": "s",
    "ack_tail_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "scan.self_s": "s", "parse.self_s": "s", "parse.events_per_s": "events/s",
    "enrich_route.self_s": "s", "write.self_s": "s", "write.bytes": "bytes",
    "commit.self_s": "s", "spark_jobs_per_ack": "count",
    "spark_jobs_per_run": "count", "checkpoint.processed_s": "s",
    "catalog.append_s": "s", "catalog.read_incremental_s": "s",
    "incremental.ack_s": "s",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.spark_jobs_per_increment": "count", "stateful.drain_s": "s",
    "stateful.update_ms": "ms", "stateful.commit_ms": "ms",
    "stateful.state_rows": "count", "scaling.eff_1to4": "ratio",
    "trace.overhead_s": "s"}


# -- host ----------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2 ** 20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of RAM, 1–8 GiB: room for the Python workers and the
    page cache beside the JVM."""
    return max(1, min(8, int(ram_gib() // 4)))


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _source_version(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, check=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        # not a git checkout: a digest of the program's sources instead
        h = hashlib.sha256()
        for path in sorted(glob.glob(os.path.join(root, "beats_spark", "**",
                                                  "*.py"), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
        return "sources-sha256:" + h.hexdigest()[:16]


def fingerprint(spark: SparkSession, root: str) -> Dict[str, object]:
    import duckdb
    import pandas
    import pyarrow
    return {
        "nproc": nproc(), "ram_gib": round(ram_gib(), 2),
        "cpu_model": _cpu_model(), "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "duckdb": duckdb.__version__,
        "commit": _source_version(root),
        "driver_memory_gb": driver_memory_gb()}


class PeakRss(threading.Thread):
    """Samples the proportional resident memory of this process and all
    its descendants (the JVM and its Python workers) every ``interval``
    seconds and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_name: Dict[str, int] = {}
        self._done = threading.Event()

    def _tree_rss(self) -> Dict[str, int]:
        """{process name: proportional resident bytes (PSS) summed over
        the tree}. PSS splits a shared page among its sharers, so a
        forked worker is not counted twice."""
        children: Dict[int, List[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        by_name: Dict[str, int] = {}
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(line.split()[1]) * 1024 for line in f
                               if line.startswith("Pss:"))
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            by_name[name] = by_name.get(name, 0) + pss
        return by_name

    def _sample(self) -> None:
        by_name = self._tree_rss()
        total = sum(by_name.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_name = by_name

    def run(self) -> None:
        while not self._done.is_set():
            self._sample()
            self._done.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._sample()
        self._done.set()
        self.join()
        return self.peak_bytes / 2 ** 20


# -- spark ---------------------------------------------------------------

def make_session(work: str) -> SparkSession:
    heap = f"{driver_memory_gb()}g"
    spark = (
        SparkSession.builder.master(f"local[{nproc()}]")
        .appName("perfbench")
        .config("spark.driver.memory", heap)
        # a fixed-size heap: no resizing between runs
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(nproc()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def lookups(spark: SparkSession) -> Tuple[DataFrame, DataFrame]:
    host_meta = spark.createDataFrame(gen.HOST_META_ROWS,
                                      gen.HOST_META_SCHEMA).cache()
    lang_meta = spark.createDataFrame(gen.LANG_META_ROWS,
                                      gen.LANG_META_SCHEMA).cache()
    host_meta.count()
    lang_meta.count()
    return host_meta, lang_meta


CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def jobs_in(spark: SparkSession, group: str, fn: Callable):
    """(fn(), number of Spark jobs it ran under job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def stream_jobs(spark: SparkSession, query) -> int:
    """Jobs of a streaming query, which tags them with its run id."""
    return len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup(str(query.runId)))


def progress(query) -> List[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def sink_rows(routed_dir: str) -> Dict[str, int]:
    """{sink: rows} from the parquet footers under ``routed_dir/sink=*``."""
    got = {s: 0 for s in SINKS}
    for path in glob.glob(os.path.join(routed_dir, "sink=*", "*.parquet")):
        sink = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        got[sink] = got.get(sink, 0) + pq.read_metadata(path).num_rows
    return got


def observed(metrics: Dict[str, int]) -> Dict[str, int]:
    return {s: metrics.get(f"output.{s}.events.acked", 0) for s in SINKS}


# -- the closed loop -------------------------------------------------------

class Loop:
    """Runs warm-ups, then timed steps until their clocked time reaches
    ``seconds`` and at least ``min_steps`` ran. A step gets its input
    index and its timed index (None for a warm-up) and returns (pages
    acked, commit→ack latency, clocked seconds, output correct).

    A step during which the hypervisor stole more than ``STEAL_LIMIT`` of
    the CPU time is checked and counted as attempted like any other, but
    its time is not: the loop runs another step instead, for at most
    ``2 * seconds`` of wall time. If every step was disturbed, their times
    are used."""

    STEAL_LIMIT = 0.02

    def __init__(self, seconds: float, launched_at: float,
                 min_steps: int = 1):
        self.seconds = seconds
        self.min_steps = min_steps
        self.launched_at = launched_at
        self.setup_s = 0.0
        self.latencies: List[float] = []
        self.pages = 0
        self.clocked = 0.0
        self.attempted = 0
        self.failed = 0
        self.warmup_s: List[float] = []
        self.steal_s = 0.0
        self.disturbed: List[Tuple[int, float, float]] = []

    def run(self, step: Callable[[int, Optional[int]],
                                 Tuple[int, float, float, bool]],
            warmups: int, available: Optional[int] = None) -> None:
        for k in range(warmups):
            t0 = time.perf_counter()
            step(k, None)
            self.warmup_s.append(time.perf_counter() - t0)
        self.setup_s = time.time() - self.launched_at
        start, steal_start = time.perf_counter(), steal_ticks()
        k = warmups
        while ((self.clocked < self.seconds or self.attempted < self.min_steps)
               and (available is None or k < available)
               and time.perf_counter() - start < 2 * self.seconds):
            self.attempted += 1
            t0, steal0 = time.perf_counter(), steal_ticks()
            try:
                pages, latency, clocked, ok = step(k, k - warmups)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                break
            k += 1
            stolen = (steal_ticks() - steal0) / CLK_TCK
            if not ok:
                self.failed += 1
            elif stolen > self.STEAL_LIMIT * nproc() * (
                    time.perf_counter() - t0):
                self.disturbed.append((pages, latency, clocked))
            else:
                self.pages += pages
                self.latencies.append(latency)
                self.clocked += clocked
        if not self.latencies and self.disturbed:
            for pages, latency, clocked in self.disturbed:
                self.pages += pages
                self.latencies.append(latency)
                self.clocked += clocked
        self.steal_s = (steal_ticks() - steal_start) / CLK_TCK


class Workload:
    """Shared state of one measured run."""

    def __init__(self, spark: SparkSession, inputs: str, work: str,
                 expected: dict, tracer: Tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.expected = expected
        self.tracer = tracer
        self.off = Tracer(False)
        self.host_meta, self.lang_meta = lookups(spark)
        self.layers: Dict[str, List[float]] = {}
        self.session_s = 0.0

    def tracer_for(self, i: Optional[int]) -> Tracer:
        """In a traced run every other timed step, from the first, is
        traced; the rest give the untraced times the tracing overhead is
        taken against. Warm-ups (``i`` None) are never traced."""
        if self.tracer.enabled and i is not None and i % 2 == 0:
            return self.tracer
        return self.off

    def add(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def jobs(self, tr: Tracer, group: str, fn: Callable):
        """(fn(), Spark jobs it ran); jobs are counted on traced steps
        only, so untraced steps run the bare call."""
        return jobs_in(self.spark, group, fn) if tr.enabled else (fn(), 0)

    def note(self, tr: Tracer, i: Optional[int], jobs_name: Optional[str],
             jobs: int, op_s: float) -> None:
        """Record a step's job count (traced) or its untraced op time."""
        if tr.enabled:
            if jobs_name:
                self.add(jobs_name, jobs)
        elif i is not None and self.tracer.enabled:
            self.add("untraced_op_s", op_s)


def batch_100k(w: Workload, loop: Loop) -> None:
    """One ``run_pipeline`` over the generated pages per step, into a
    fresh output directory."""
    pages_dir = os.path.join(w.inputs, "pages")
    n_pages = w.expected["pages"]
    want = w.expected["sinks"]
    sp, t = w.spark, w.tracer

    def read() -> DataFrame:
        return sp.read.parquet(pages_dir)

    def prefixes(k: int) -> None:
        """Cumulative prefixes of the shipped plan; a layer's self time
        is the difference between its prefix and the one before."""
        with t.span("scan"):
            noop(read())
        with t.span("parse"):
            noop(build_events(read()))
        with t.span("enrich_route"):
            noop(build_routed(read(), w.host_meta, w.lang_meta))
        tmp = os.path.join(w.work, f"prefix-{k}")
        with t.span("write"):
            routed, _ = attach_observation(
                build_routed(read(), w.host_meta, w.lang_meta), SINKS)
            routed.write.mode("overwrite").partitionBy("sink").parquet(tmp)
        w.add("write.bytes", dir_bytes(tmp))
        shutil.rmtree(tmp)

    def step(k: int, i: Optional[int]):
        out = os.path.join(w.work, f"run-{k}")
        tr = w.tracer_for(i)
        with tr.span("iteration"):
            if tr.enabled:
                prefixes(k)
            os.sync()
            t0 = time.perf_counter()
            with tr.span("op"):
                res, jobs = w.jobs(tr, f"run-{k}", lambda: run_pipeline(
                    sp, read(), w.host_meta, w.lang_meta, out))
            dt = time.perf_counter() - t0
        w.note(tr, i, "spark_jobs_per_run", jobs, dt)
        routed = os.path.join(out, "runs", res.run_id, "routed")
        ok = observed(res.metrics) == want and sink_rows(routed) == want
        shutil.rmtree(out)
        return n_pages, dt, dt, ok

    loop.run(step, WARMUPS["batch_100k"])
    if t.enabled:
        # span → layer whose self time is the span minus the prefix before
        prefix = [("scan", "scan"), ("parse", "parse"),
                  ("enrich_route", "enrich_route"), ("write", "write"),
                  ("op", "commit")]
        before: List[float] = []
        for span, layer in prefix:
            now = t.durations(span)
            for i, d in enumerate(now):
                w.add(f"{layer}.self_s", d - (before[i] if before else 0.0))
            before = now
        events = sum(want.values())
        w.add("parse.events_per_s",
              events / max(median(w.layers.get("parse.self_s", [])), 1e-9))
        w.add("scaling.eff_1to4", scaling(w))
        incremental_probe(w, loop)


def scaling(w: Workload) -> float:
    """Routed-plan time on one task (``coalesce(1)``: one core) over
    ``nproc`` times its time on all cores, over the batch pages."""
    df = w.spark.read.parquet(os.path.join(w.inputs, "pages"))
    times = []
    for frame in (df.coalesce(1), df):
        t0 = time.perf_counter()
        noop(build_routed(frame, w.host_meta, w.lang_meta))
        times.append(time.perf_counter() - t0)
    return times[0] / (nproc() * times[1])


def _increment_paths(w: Workload) -> List[str]:
    return sorted(glob.glob(os.path.join(w.inputs, "increments",
                                         "inc-*.parquet")))


def incremental_probe(w: Workload, loop: Loop) -> None:
    """Catalog-driven acks, traced: append each small increment to a
    catalog table, time the watermark read and the incremental scan from
    outside, then acknowledge it with one ``run_pipeline_incremental``.
    The first increment is discarded. Every ack is checked and counted
    in ``attempted``."""
    sp, t = w.spark, w.tracer
    table = Table(os.path.join(w.work, "catalog"), "pages")
    out = os.path.join(w.work, "acks")
    for k, path in enumerate(_increment_paths(w)):
        tr = t if k > 0 else w.off
        with tr.span("increment"):
            with tr.span("catalog.append"):
                table.append(sp.read.parquet(path))
            with tr.span("checkpoint.processed"):
                processed = Watermarks(out).processed_snapshots()
            with tr.span("catalog.read_incremental"):
                table.read_incremental(sp, set(processed))
            with tr.span("ack"):
                res, jobs = jobs_in(sp, f"ack-{k}", lambda: (
                    run_pipeline_incremental(sp, table, w.host_meta,
                                             w.lang_meta, out)))
        want = w.expected["increment_sinks"][k]
        ok = (not res.skipped and observed(res.metrics) == want
              and sink_rows(os.path.join(out, "runs", res.run_id, "routed"))
              == want)
        loop.attempted += 1
        loop.failed += not ok
        if tr.enabled:
            w.add("spark_jobs_per_ack", jobs)
    for span, name in [("catalog.append", "catalog.append_s"),
                       ("checkpoint.processed", "checkpoint.processed_s"),
                       ("catalog.read_incremental",
                        "catalog.read_incremental_s"),
                       ("ack", "incremental.ack_s")]:
        w.layers[name] = t.durations(span)


def stream_tail(w: Workload, loop: Loop) -> None:
    """Rename one parquet file into the landing directory, then drain it
    with the streaming pipeline and with a per-host rate limiter, each
    from its own checkpoint."""
    sp, t = w.spark, w.tracer
    paths = _increment_paths(w)
    base = os.path.join(w.work, "stream")
    landing = os.path.join(base, "landing")
    limited = os.path.join(base, "limited")
    os.makedirs(landing)

    def start_limiter():
        pages = sp.readStream.schema(PAGES_SCHEMA).parquet(landing)
        events = pages.select(
            F.split("url", "/")[2].alias("host"),
            F.date_trunc("day", "warc_ts").alias("day_ts"))
        q = (stateful_rate_limit(events, "host", "day_ts",
                                 oracle.RATE_PER_HOST)
             .writeStream.format("parquet").option("path", limited)
             .option("checkpointLocation", os.path.join(base, "ck-limit"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return q

    def limited_files() -> set:
        return set(glob.glob(os.path.join(limited, "*.parquet")))

    def step(k: int, i: Optional[int]):
        tr = w.tracer_for(i)
        before = limited_files()
        os.sync()
        t0 = time.perf_counter()
        with tr.span("increment"):
            os.rename(paths[k], os.path.join(landing,
                                             os.path.basename(paths[k])))
            t1 = time.perf_counter()
            with tr.span("op"):
                with tr.span("stream.drain"):
                    q1 = run_stream_pipeline(
                        sp, landing, w.host_meta, w.lang_meta,
                        os.path.join(base, "out"),
                        os.path.join(base, "ck-pipeline"))
                with tr.span("stateful.drain"):
                    q2 = start_limiter()
            t2 = time.perf_counter()
        if tr.enabled:
            stream_layers(q1, q2)
        w.note(tr, i, None, 0, t2 - t1)
        batches = [p["batchId"] for p in progress(q1)
                   if p.get("numInputRows", 0) > 0]
        routed = Counter()
        for b in batches:
            routed.update(sink_rows(os.path.join(base, "out", "routed",
                                                 f"batch={b}")))
        admitted = Counter()
        for path in limited_files() - before:
            tab = pq.read_table(path, columns=["host", "day_ts"])
            day = tab.column("day_ts")
            day_us = day.cast(pa.timestamp("us", tz=day.type.tz)).cast(
                pa.int64())
            admitted.update(zip(tab.column("host").to_pylist(),
                                day_us.to_pylist()))
        want_admitted = Counter({(h, ts): n for h, ts, n
                                 in w.expected["admitted"][k]})
        ok = (len(batches) == 1
              and {s: routed.get(s, 0) for s in SINKS}
              == w.expected["increment_sinks"][k]
              and admitted == want_admitted)
        return w.expected["increment_pages"], t2 - t1, t2 - t0, ok

    def stream_layers(q1, q2) -> None:
        phases = {"addBatch": "stream.add_batch_ms",
                  "queryPlanning": "stream.query_planning_ms",
                  "walCommit": "stream.wal_commit_ms",
                  "commitOffsets": "stream.commit_offsets_ms"}
        p1 = progress(q1)
        for key, name in phases.items():
            w.add(name, sum(p.get("durationMs", {}).get(key, 0) for p in p1))
        w.add("stream.spark_jobs_per_increment",
              stream_jobs(sp, q1) + stream_jobs(sp, q2))
        ops = [p["stateOperators"][0] for p in progress(q2)
               if p.get("stateOperators")]
        w.add("stateful.update_ms", sum(o.get("allUpdatesTimeMs", 0)
                                        for o in ops))
        w.add("stateful.commit_ms", sum(o.get("commitTimeMs", 0)
                                        for o in ops))
        if ops:
            w.add("stateful.state_rows", ops[-1].get("numRowsTotal", 0))

    loop.run(step, WARMUPS["stream_tail"], len(paths))
    if t.enabled:
        w.layers["stateful.drain_s"] = t.durations("stateful.drain")


WORKLOADS = {"batch_100k": batch_100k, "stream_tail": stream_tail}


# -- result ----------------------------------------------------------------

def result(loop: Loop, w: Workload, traced: bool, peak_mb: float
           ) -> Tuple[dict, dict]:
    """(the result line, the detailed record)."""
    ok_ratio = ((loop.attempted - loop.failed) / loop.attempted
                if loop.attempted else 0.0)
    tail_v, tail_pct, n = tail(loop.latencies)
    details = {"ack_samples": n, "ack_tail_percentile": tail_pct,
               "pages_acked": loop.pages, "timed_s": loop.clocked,
               "latencies_s": loop.latencies, "warmup_s": loop.warmup_s,
               "session_s": w.session_s, "cpu_steal_s": loop.steal_s,
               "disturbed_steps": len(loop.disturbed)}
    if traced:
        layers = {name: median(w.layers.get(name, []))
                  for name in PER_LAYER_UNITS}
        traced_ops = w.tracer.durations("op")
        layers["trace.overhead_s"] = (
            median(traced_ops) - median(w.layers.get("untraced_op_s", []))
            if traced_ops and w.layers.get("untraced_op_s") else 0.0)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in layers.items()}
        details["layer_samples"] = w.layers
    else:
        values = {
            "setup_s": loop.setup_s,
            "pages_per_s": loop.pages / loop.clocked if loop.clocked else 0.0,
            "ack_p50_s": median(loop.latencies),
            "ack_tail_s": tail_v,
            "ok_ratio": ok_ratio,
            "peak_rss_mb": peak_mb}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    line = {"correct": loop.attempted > 0 and loop.failed == 0,
            "attempted": loop.attempted, "failed": loop.failed,
            "metrics": metrics}
    return line, details


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench measured process")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--record", required=True,
                    help="path prefix for the record and span files")
    ap.add_argument("--launched-at", type=float, required=True)
    a = ap.parse_args()

    rss = PeakRss()
    rss.start()
    with open(os.path.join(a.inputs, "expected.json")) as f:
        expected = json.load(f)
    spark = make_session(a.work)
    session_s = time.time() - a.launched_at
    try:
        tracer = Tracer(bool(a.trace))
        w = Workload(spark, a.inputs, a.work, expected, tracer)
        w.session_s = session_s
        loop = Loop(a.seconds, a.launched_at, min_steps=2 if a.trace else 1)
        WORKLOADS[a.workload](w, loop)
        peak_mb = rss.stop()
        line, details = result(loop, w, bool(a.trace), peak_mb)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        record = {"workload": a.workload, "seed": a.seed,
                  "seconds": a.seconds, "trace": a.trace,
                  "host": fingerprint(spark, root), "result": line,
                  "details": details,
                  "peak_rss_mb_by_process": {
                      k: v / 2 ** 20 for k, v in rss.peak_by_name.items()}}
    finally:
        spark.stop()
    with open(a.record + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        tracer.write(a.record + ".spans.jsonl")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
