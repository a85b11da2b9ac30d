"""The benchmark's own tests::

    python3 -m pytest perfbench -q -p no:cacheprovider

They run the generator, the oracles, the span arithmetic and every
workload at a tiny size through the same functions the benchmark runs.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

CONTRACT_1M = {"sink_es": 1_089_789, "sink_ls": 693_153,
               "sink_dropped": 197_219, "sink_deadletter": 19_839}


def test_generator_is_deterministic_per_seed():
    a = gen.pages_table(gen.page_ids(7, 0, 500))
    b = gen.pages_table(gen.page_ids(7, 0, 500))
    assert a.equals(b)


def test_seeds_draw_disjoint_pages():
    urls = [set(gen.pages_table(gen.page_ids(s, 0, 300)).column("url")
                .to_pylist()) for s in (0, 1, 2)]
    assert not (urls[0] & urls[1] or urls[0] & urls[2] or urls[1] & urls[2])
    with pytest.raises(ValueError):
        gen.page_ids(0, gen.SEED_STRIDE - 10, 20)


def test_xxhash64_matches_spark_beyond_int_range():
    # Spark's F.xxhash64(F.col("id"), F.lit(1)) for the first page ids of
    # seed 3, which do not fit 32 bits (seed 0 is covered against Spark by
    # test_seed0_reproduces_fixture_pages)
    got = gen.spark_xxhash64(gen.page_ids(3, 0, 3), 1)
    assert got.tolist() == [-6117790137599483137, 8867352896878538255,
                            -2549233303727781213]


def _python_sink_counts(table):
    """A second, plain-Python statement of the routing contract."""
    line = re.compile(r'ts=\S+ level=\S+ host=\S+ bytes=[0-9]+ msg="[^"]*"')
    got = Counter()
    for text, lang in zip(table.column("text").to_pylist(),
                          table.column("lang").to_pylist()):
        for ln in text.split("\n"):
            if re.match(r"\s", ln):
                continue
            if not line.fullmatch(ln):
                got["sink_deadletter"] += 1
            elif lang == "zz":
                got["sink_dropped"] += 1
            elif lang in oracle.LS_LANGS:
                got["sink_ls"] += 1
            else:
                got["sink_es"] += 1
    return {s: got[s] for s in oracle.SINKS}


def test_duckdb_oracle_agrees_with_python_recount(tmp_path):
    path = str(tmp_path / "p.parquet")
    gen.write_pages(path, 5, 0, 4000)
    table = gen.pages_table(gen.page_ids(5, 0, 4000))
    want = _python_sink_counts(table)
    assert oracle.sink_counts([path]) == want
    assert want["sink_deadletter"] > 0 and want["sink_dropped"] > 0


def test_oracle_reproduces_contract_counts_at_1m_seed0(tmp_path):
    gen.generate(str(tmp_path), 0, 1_000_000, files=8)
    assert oracle.sink_counts([str(tmp_path / "*.parquet")]) == CONTRACT_1M


def test_token_bucket():
    b = oracle.TokenBucket(2)
    day = oracle.DAY_US
    first = b.admit([("a", 0)] * 5 + [("b", 0)])
    assert first == Counter({("a", 0): 2, ("b", 0): 1})
    # same timestamp in a later batch: no refill, nothing admitted
    assert b.admit([("a", 0)] * 3) == Counter()
    # a day later the bank refills by 2 tokens per second
    assert b.admit([("a", day)] * 4) == Counter({("a", day): 4})
    # an event older than the key's clock accrues nothing
    assert sum(b.admit([("b", -5)] * 3).values()) == 1


def test_self_time_on_constructed_tree():
    S = spans.Span
    tree = [
        S(0, "root", 0.0, 10.0, None),
        S(1, "a", 1.0, 4.0, 0),
        S(2, "b", 3.0, 6.0, 0),      # overlaps a: union 1..6 = 5
        S(3, "a.child", 2.0, 3.5, 1),
        S(4, "late", 9.0, 12.0, 0),  # clipped to the parent: 9..10
    ]
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 1.5)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.5)
    assert own[4] == pytest.approx(3.0)


def test_tracer_nests_spans():
    t = spans.Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None),
                                                     ("inner", 0)]
    off = spans.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tail_percentile():
    xs = list(range(1, 31))  # 30 samples
    value, pct, n = spans.tail(xs)
    assert (value, n) == (20, 30)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert spans.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert spans.tail(list(range(15)))[:2] == (14, 100.0)


# -- Spark: seed 0 against the fixtures, and every workload at tiny size ---

@pytest.fixture(scope="module")
def session(tmp_path_factory):
    import harness
    work = str(tmp_path_factory.mktemp("session"))
    spark = harness.make_session(work)
    yield spark
    spark.stop()


def test_seed0_reproduces_fixture_pages(session):
    from beats_spark import fixtures
    n = 2000
    ref = fixtures.pages(session, n).toPandas()
    mine = session.createDataFrame(
        gen.pages_table(gen.page_ids(0, 0, n)).to_pandas()).toPandas()
    assert list(ref.columns) == list(mine.columns)
    assert ref.equals(mine)


TINY = {
    "batch_100k": {"pages": (2_000, 4, 0), "increments": (300, 1, 3)},
    # the eight warm-up increments and two timed ones
    "stream_tail": {"increments": (300, 1, 10)},
}


@pytest.mark.parametrize("workload,trace", [
    ("batch_100k", 0), ("batch_100k", 1), ("stream_tail", 0),
    ("stream_tail", 1)])
def test_workload_smoke(session, tmp_path, monkeypatch, workload, trace):
    import harness
    import run
    monkeypatch.setitem(gen.INPUTS, workload, TINY[workload])
    inputs = str(tmp_path / "inputs")
    expected = json.loads(json.dumps(run.expectations(inputs, workload, 3)))
    w = harness.Workload(session, inputs, str(tmp_path), expected,
                         spans.Tracer(bool(trace)))
    loop = harness.Loop(0.5, launched_at=0.0, min_steps=1 + trace)
    harness.WORKLOADS[workload](w, loop)
    line, details = harness.result(loop, w, bool(trace), peak_mb=1.0)
    assert line["correct"], details
    assert line["failed"] == 0 and line["attempted"] >= 1
    names = harness.PER_LAYER_UNITS if trace else harness.END_TO_END_UNITS
    assert set(line["metrics"]) == set(names)
    if trace and workload == "batch_100k":
        layers = {k: v["value"] for k, v in line["metrics"].items()}
        assert layers["spark_jobs_per_ack"] > 0
        assert layers["spark_jobs_per_run"] > 0
        assert layers["write.bytes"] > 0
    if trace and workload == "stream_tail":
        assert line["metrics"]["stateful.state_rows"]["value"] > 0


def test_benchmark_json_matches_the_harness():
    import harness
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(harness.WORKLOADS)
    assert set(gen.INPUTS) == set(harness.WORKLOADS) == set(harness.WARMUPS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        harness.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        harness.PER_LAYER_UNITS
