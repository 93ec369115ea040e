"""Seeded benchmark inputs, cached inside the checkout and pinned by digest.

Every input is a pure function of its key ``(n, seed, recrawl share)``:
pages come from ``sources.pages.generate_pages_parquet`` and the recrawl
slice and the search queries from ``random.Random`` seeded with strings, so
one seed gives the same inputs on any host. Tables are generated once per
checkout under ``.perfbench/inputs``; generation is never timed.

``digests.json`` records the content digest of each default-seed table. A
table that no longer matches its digest stops the run, so an edit to the
page generator cannot silently change what a workload measures.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(HERE, "digests.json")
DEFAULT_SEED = 42

# a recrawl fetches the same url again, with identical html, this much later
RECRAWL_DELAY = timedelta(days=30)


class InputDrift(RuntimeError):
    """A default-seed input table no longer matches its recorded digest."""


def table_key(n: int, seed: int, recrawl_share: float = 0.0) -> str:
    return f"pages_n{n}_s{seed}_r{round(recrawl_share * 1000)}"


def table_digest(path: str) -> str:
    """sha256 over the table's logical content (file order, then rows), so
    the digest does not depend on parquet encoding details."""
    h = hashlib.sha256()
    for name in sorted(f for f in os.listdir(path) if f.endswith(".parquet")):
        table = pq.read_table(os.path.join(path, name))
        h.update(name.encode())
        for col in table.column_names:
            h.update(col.encode())
            for v in table.column(col).to_pylist():
                b = v if isinstance(v, bytes) else repr(v).encode()
                h.update(len(b).to_bytes(8, "big"))
                h.update(b)
    return h.hexdigest()


def _add_recrawl(path: str, n: int, seed: int, share: float) -> None:
    """Append a recrawl slice: a seeded sample of rows fetched again later,
    byte-identical payloads, so content-hash dedup has shared work to skip."""
    base = pq.read_table(path)
    idx = sorted(random.Random(f"recrawl:{seed}").sample(range(n), round(n * share)))
    again = base.take(pa.array(idx))
    later = pa.array(
        [ts + RECRAWL_DELAY for ts in again.column("warc_ts").to_pylist()],
        type=again.schema.field("warc_ts").type,
    )
    again = again.set_column(again.schema.get_field_index("warc_ts"), "warc_ts", later)
    pq.write_table(again, os.path.join(path, "part-recrawl.parquet"))


def pages_table(n: int, seed: int, recrawl_share: float = 0.0) -> str:
    """Path of the cached pages table for this key; generates it on first
    use and checks default-seed tables against their recorded digest."""
    from medical_vector_database_ocr_ner_spark.sources.pages import (
        generate_pages_parquet,
    )

    key = table_key(n, seed, recrawl_share)
    path = os.path.join(WORK, "inputs", key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate_pages_parquet(tmp, n, seed)
        if recrawl_share:
            _add_recrawl(tmp, n, seed, recrawl_share)
        os.replace(tmp, path)
    if seed == DEFAULT_SEED:
        pinned = load_digests().get(key)
        if pinned is not None and pinned != table_digest(path):
            raise InputDrift(f"{key}: content differs from perfbench/digests.json")
    return path


def load_digests() -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f)


# query pool: corpus vocabulary (drugs, conditions, body parts, names as the
# page generator writes them) plus tokens that occur in no page
CORPUS_TERMS = [
    "Metformin", "Aspirin", "Ibuprofen", "Lisinopril", "Amoxicillin",
    "Omeprazole", "Warfarin", "Prednisone", "Atorvastatin", "Insulin",
    "diabetes", "hypertension", "asthma", "pneumonia", "arthritis",
    "bronchitis", "hepatitis", "migraine", "anemia", "influenza",
    "heart", "lung", "liver", "kidney", "spine", "biopsy", "dialysis",
    "Dr. Sarah Johnson", "John Smith", "Emily Brown", "Michael Wilson",
    "Anna Taylor", "David Clark", "invoice total", "care plan",
]


def search_queries(n: int, seed: int) -> list[str]:
    """n query texts drawn with a Zipf-like skew from a seeded pool, so
    some queries repeat and a few dominate, as in a real query log."""
    rng = random.Random(f"queries:{seed}")
    pool = []
    for _ in range(48):
        words = rng.sample(CORPUS_TERMS, rng.randint(1, 3))
        pool.append(" ".join(words))
    for _ in range(12):
        pool.append("".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(9)))
    rng.shuffle(pool)
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(pool))]
    return rng.choices(pool, weights=weights, k=n)
