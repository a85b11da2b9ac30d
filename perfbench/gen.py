"""Seeded load generator for the benchmark: the synthetic ``pages``
table, written as parquet without Spark.

The rows are those of ``beats_spark.fixtures.pages`` for the page ids
``[seed * SEED_STRIDE, seed * SEED_STRIDE + n)``; seed 0 reproduces
``fixtures.pages(spark, n)`` exactly. The benchmark keeps its own copy
of the formulas so that a change to the fixtures cannot change the
workloads. Spark's ``xxhash64`` (seed 42) is re-implemented on numpy
uint64 lanes.

``run.py`` calls :func:`generate_workload` before it starts the measured
process.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# seeds draw disjoint page-id ranges: seed k owns [k, k+1) * SEED_STRIDE
SEED_STRIDE = 1 << 32

HOSTS: List[str] = [
    "news.example.com", "blog.example.org", "shop.acme.co.uk", "docs.spark.dev",
    "forum.beats.io", "wiki.data.net", "mail.corp.example", "cdn.assets.org",
    "api.service.io", "store.retail.com", "video.stream.tv", "img.pics.net",
    "code.repo.dev", "chat.social.app", "maps.geo.org", "search.find.com",
    "weather.sky.net", "music.tunes.fm", "games.play.gg", "books.read.org",
]
HOST_SLOTS = [26, 13, 9, 7, 5, 4, 4, 3, 3, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 5]
LANGS: List[Tuple[str, int]] = [
    ("en", 40), ("de", 15), ("fr", 15), ("es", 10), ("zh", 10), ("zz", 10)]
LEVELS = ["info", "info", "warn", "error"]
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# broadcast lookup tables: the last two hosts have no host row
HOST_META_SCHEMA = ("host string, geo_country string, geo_city string, "
                    "asn bigint, resolved_ip string, registered_domain string")
_COUNTRIES = ["US", "DE", "GB", "FR", "JP", "BR", "IN", "AU", "CA", "NL"]
_CITIES = ["nyc", "berlin", "london", "paris", "tokyo", "sao-paulo",
           "mumbai", "sydney", "toronto", "amsterdam"]
HOST_META_ROWS = [
    (h, _COUNTRIES[k % 10], _CITIES[k % 10], 64500 + k, f"203.0.{k}.{10 + k}",
     ".".join(h.split(".")[-2:]))
    for k, h in enumerate(HOSTS[:-2])]
LANG_META_SCHEMA = "lang string, lang_label string, sink_hint string"
# lang zz has no row: the router's default handles it
LANG_META_ROWS = [
    ("en", "English", "sink_es"), ("de", "German", "sink_es"),
    ("fr", "French", "sink_ls"), ("es", "Spanish", "sink_ls"),
    ("zh", "Chinese", "sink_ls")]

# what each workload reads: {subdir: (pages, files, increments)}
INPUTS = {
    "batch_100k": {"pages": (100_000, 8, 0), "increments": (5_000, 1, 4)},
    "stream_tail": {"increments": (2_000, 1, 30)},
}

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_HASH_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v: np.ndarray, seed) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(v: int, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h = h ^ (np.uint64(v & 0xFFFFFFFF) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def spark_xxhash64(ids: np.ndarray, salt: int) -> np.ndarray:
    """``F.xxhash64(F.col('id'), F.lit(salt))`` as signed int64."""
    with np.errstate(over="ignore"):
        h = _hash_long(ids.astype(np.int64).view(np.uint64), _SPARK_HASH_SEED)
        return _hash_int(salt, h).view(np.int64)


def _pick(ids: np.ndarray, salt: int, pairs) -> np.ndarray:
    slots = np.array([v for v, n in pairs for _ in range(n)], dtype=object)
    return slots[np.mod(spark_xxhash64(ids, salt), 100)]


def _fmt_ts(epoch_s: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(epoch_s.astype("datetime64[s]"),
                                 unit="s").astype(object) + "Z"


def pages_table(ids: np.ndarray) -> pa.Table:
    """The pages rows for the given page ids."""
    host = _pick(ids, 1, zip(HOSTS, HOST_SLOTS))
    lang = _pick(ids, 2, LANGS)
    level = np.array(LEVELS, dtype=object)[np.mod(spark_xxhash64(ids, 3), 4)]
    nbytes = np.mod(spark_xxhash64(ids, 4), 100_000)
    latency = np.mod(spark_xxhash64(ids, 5), 5_000)
    corrupt = np.mod(spark_xxhash64(ids, 6), 100) < 2
    epoch = BASE_EPOCH + (ids % 86_400) * 7
    ts1, ts2 = _fmt_ts(epoch), _fmt_ts(epoch + 1)

    lorem = "lorem ipsum " * 5
    urls, texts, htmls = [], [], []
    for i, h, lv, b, lat, bad, t1, t2 in zip(
            ids.tolist(), host, level, nbytes.tolist(), latency.tolist(),
            corrupt.tolist(), ts1, ts2):
        urls.append(f"https://{h}/page/{i}")
        line2 = ("!!corrupt line with no key=value shape" if bad else
                 f'ts={t2} level={lv} host={h} bytes={b // 2} '
                 f'msg="render took {lat}ms"')
        texts.append(
            f'ts={t1} level={lv} host={h} bytes={b} msg="request /page/{i} '
            f'served"\n  at handler.serve(handler.go:42)\n'
            f'  at mux.route(mux.go:17)\n{line2}\n'
            f'  at render.paint(render.go:99)')
        htmls.append(f"<html><head><title>page {i}</title></head><body>"
                     f"{lorem}</body></html>".encode())
    return pa.table([
        pa.array(urls, pa.string()),
        pa.array(epoch * 1_000_000, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        pa.array(htmls, pa.binary()),
        pa.array(texts, pa.string()),
        pa.array(lang.tolist(), pa.string()),
    ], schema=SCHEMA)


def page_ids(seed: int, start: int, n: int) -> np.ndarray:
    if seed < 0 or start < 0 or start + n > SEED_STRIDE:
        raise ValueError("seed and page range must fit one seed's stride")
    first = seed * SEED_STRIDE + start
    return np.arange(first, first + n, dtype=np.int64)


def write_pages(path: str, seed: int, start: int, n: int) -> None:
    # one row group per file: Spark packs whole files into input splits
    pq.write_table(pages_table(page_ids(seed, start, n)), path,
                   row_group_size=max(n, 1))


def generate(out: str, seed: int, pages: int, files: int = 1,
             increments: int = 0) -> None:
    """``increments == 0``: one table of ``pages`` rows in ``files``
    files under ``out/``. Otherwise ``increments`` single-file
    increments ``out/inc-00000.parquet`` … of ``pages`` rows each, over
    consecutive page ids."""
    os.makedirs(out, exist_ok=True)
    if increments:
        for k in range(increments):
            write_pages(os.path.join(out, f"inc-{k:05d}.parquet"),
                        seed, k * pages, pages)
        return
    bounds = np.linspace(0, pages, files + 1).astype(int)
    for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        write_pages(os.path.join(out, f"part-{k:05d}.parquet"),
                    seed, int(lo), int(hi - lo))


def generate_workload(out: str, workload: str, seed: int) -> None:
    """Every input of ``workload`` under ``out/<subdir>``."""
    for sub, (pages, files, increments) in INPUTS[workload].items():
        generate(os.path.join(out, sub), seed, pages, files, increments)
