"""S — custom PYTHON DATA SOURCE (Spark 4 `pyspark.sql.datasource`):
a deterministic Common-Crawl-style page generator mounted as a real
`spark.read.format(...)` source, `pages_gen`.

Why this exists: every other source in this repo is parquet on disk; a
production crawler-side deployment also reads from NON-FILE sources
(a fetch queue, a WARC service, a synthetic load generator). Spark 4's
Python DataSource API is the sanctioned way to mount those without a
JVM connector, and this module exercises the full surface:

- `schema()` declares the page shape (url, warc_ts, html, lang) — the
  same columns the parquet fixture carries, so everything downstream of
  `spark.read` is source-agnostic.
- `partitions()` splits the keyspace into `numPartitions` contiguous
  id ranges — the reader is PARALLEL across executors, each partition
  generating only its own range (proven by the per-partition row-count
  test); at 10^12 synthetic pages nothing ever materializes on the
  driver.
- `read(partition)` yields plain tuples; rows are a pure function of
  (seed, page id), so any re-read — retry, speculative task, resumed
  job — regenerates byte-identical data (asserted in tests).

Generation matches `sources/pages.py`'s deterministic-hash style but is
intentionally simpler (three rotating templates): the point is the
CONNECTOR surface, not a second fixture. Filter pushdown is left to
Spark (the API's pushFilters is optional); column pruning happens
naturally because rows are tuples matched to the declared schema.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

FORMAT_NAME = "pages_gen"
_EPOCH = datetime(2023, 6, 1)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


_LANGS = ("de", "en", "es", "fr", "zh")


def _row(seed: int, i: int):
    """Pure function of (seed, i) — the determinism contract."""
    host = f"host{_h(f'{seed}:{i}:h') % 50}.example"
    url = f"https://{host}/page/{i}"
    ts = _EPOCH + timedelta(seconds=7 * i)
    lang = _LANGS[_h(f"{seed}:{i}:l") % len(_LANGS)]
    kind = _h(f"{seed}:{i}:k") % 3
    body = f"synthetic page {i} words " + " ".join(
        f"tok{_h(f'{seed}:{i}:{j}') % 97}" for j in range(10)
    )
    if kind == 0:
        html = f"<html><body><p>{body}</p></body></html>".encode()
    elif kind == 1:
        html = f"<html><body><nav>nav</nav><div>{body}</div></body></html>".encode()
    else:
        html = f"<html><head><title>t{i}</title></head><body>{body}</body></html>".encode()
    return (url, ts, html, lang)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int, seed: int):
        self.start = start
        self.end = end
        self.seed = seed


class PagesGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.seed = int(options.get("seed", 42))
        self.num_partitions = int(options.get("numPartitions", 8))
        if self.num_partitions <= 0:
            raise ValueError(
                f"pages_gen option numPartitions must be >= 1, "
                f"got {self.num_partitions}"
            )

    def partitions(self):
        if self.n <= 0:
            # the planner rejects an empty partition list at read time —
            # an n=0 read is a valid (empty) relation, so hand it one
            # empty range instead
            return [_RangePartition(0, 0, self.seed)]
        step = max(1, -(-self.n // self.num_partitions))  # ceil div
        return [
            _RangePartition(lo, min(lo + step, self.n), self.seed)
            for lo in range(0, self.n, step)
        ]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield _row(partition.seed, i)


class PagesGenDataSource(DataSource):
    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        # the parquet fixture's page shape (sources/pages.py) — the
        # extraction DAG runs unchanged on either source
        return "url string, warc_ts timestamp_ntz, html binary, lang string"

    def reader(self, schema):
        return PagesGenReader(self.options)


def register(spark) -> None:
    """Mount the source: spark.read.format('pages_gen')
    .option('n', N).option('numPartitions', P).load()."""
    spark.dataSource.register(PagesGenDataSource)
