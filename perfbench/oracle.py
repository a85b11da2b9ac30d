"""Correctness oracles that share no code with ``beats_spark``.

- :func:`sink_counts`: events per sink over generated pages parquet, in
  DuckDB SQL. It restates the pipeline contract: every line that does
  not start with whitespace opens an event; an event whose first line
  does not match the dissect tokenizer goes to ``sink_deadletter``;
  otherwise lang ``zz`` goes to ``sink_dropped``, the languages the
  lookup table sends to Logstash go to ``sink_ls`` and the rest to
  ``sink_es``.
- :class:`TokenBucket`: a plain-Python token bucket over ``(host,
  warc_ts)`` events, fed one micro-batch at a time, the reference for
  ``stateful_rate_limit``.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

import duckdb

RATE_PER_HOST = 100  # stateful_rate_limit tokens per second per host
DAY_US = 86_400_000_000  # the limiter keys time on the UTC day
SINKS = ("sink_es", "sink_ls", "sink_dropped", "sink_deadletter")
LS_LANGS = ("fr", "es", "zh")

_EVENT_LINE = r'ts=\S+ level=\S+ host=\S+ bytes=[0-9]+ msg="[^"]*"'

_SINK_SQL = f"""
WITH lines AS (
    SELECT lang, unnest(string_split(text, chr(10))) AS line
    FROM read_parquet(?)
), events AS (
    SELECT lang, line FROM lines WHERE NOT regexp_matches(line, '^\\s')
)
SELECT CASE
         WHEN NOT regexp_full_match(line, '{_EVENT_LINE}')
           THEN 'sink_deadletter'
         WHEN lang = 'zz' THEN 'sink_dropped'
         WHEN lang IN {LS_LANGS} THEN 'sink_ls'
         ELSE 'sink_es'
       END AS sink,
       count(*) AS n
FROM events GROUP BY 1
"""


def sink_counts(paths: Sequence[str]) -> Dict[str, int]:
    """{sink: events} over the pages parquet files ``paths``."""
    con = duckdb.connect()
    try:
        rows = con.execute(_SINK_SQL, [list(paths)]).fetchall()
    finally:
        con.close()
    got = {s: 0 for s in SINKS}
    got.update({s: int(n) for s, n in rows})
    return got


def host_events(paths: Sequence[str]) -> List[Tuple[str, int]]:
    """(host, warc_ts epoch µs) per page, the rate limiter's input."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT split_part(url, '/', 3), epoch_us(warc_ts) "
            "FROM read_parquet(?)", [list(paths)]).fetchall()
    finally:
        con.close()


class TokenBucket:
    """Per-key token bucket with continuous refill: ``rate`` tokens per
    second, uncapped accrual, a full bucket of ``rate`` tokens for a new
    key, one token per admitted event. Each micro-batch is taken in
    event-time order; an event older than its key's clock accrues
    nothing and leaves the clock where it is."""

    def __init__(self, rate: int):
        self.rate = rate
        self.tokens: Dict[str, int] = {}
        self.clock: Dict[str, int] = {}

    def admit(self, batch: Iterable[Tuple[str, int]]) -> Counter:
        """Feed one micro-batch; returns Counter{(key, ts_us): admitted}."""
        admitted: Counter = Counter()
        one = 1_000_000  # a token, in token·µs
        for key, ts in sorted(batch):
            tokens = self.tokens.get(key, self.rate * one)
            last = self.clock.get(key, -1)
            if last >= 0 and ts > last:
                tokens += (ts - last) * self.rate
            self.clock[key] = max(last, ts)
            if tokens >= one:
                tokens -= one
                admitted[(key, ts)] += 1
            self.tokens[key] = tokens
        return admitted
