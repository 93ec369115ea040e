"""The benchmark's workloads, their output checks and the traced layer sweep.

Each workload function takes a ``Run`` and fills ``run.e2e`` (end-to-end
metrics) and ``run.layers`` (per-layer observations). The timed phase of a
workload is the same with tracing on or off; tracing adds spans, SQL
metrics, job counts, single-threaded core timings and a sweep over the
layers the workload itself does not call.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import contextmanager

import inputs
from host import RssSampler
from tracing import SqlCapture, Tracer, job_counts, sql_layer_metrics

# input sizes: (full, smoke). At 2,000 pages (about 1,900 vectors) the
# vector scan and scoring are about 30% of a request's p50 on a 4-core host;
# at 1,000 pages they were about 10%, below what the bound would catch.
SIZES = {
    "extract": (20000, 300),
    "search": (2000, 300),
}
# share of the sweep's pages fetched again later with identical html, so
# content-hash dedup of the embeddings sink has repeated content to skip
RECRAWL_SHARE = 0.1
N_BUCKETS = 16
# a fixed 1/8 of the buckets is dropped from the manifest before the resume
DROPPED_BUCKETS = (0, 8)
# the first timed extract pass runs 10-20% slower than the next ones, so
# docs/s is the median of at least three
MIN_PASSES = 3
MIN_REQUESTS = 100
WARM_REQUESTS = 20
SEARCH_K = 10
SEARCH_COLS = ["url", "extracted_text", "entity_count"]
SWEEP_PAGES = 600
CORE_SAMPLE = 160

QUARANTINE_SLUGS = {
    "payload exceeds size cap": "size_cap",
    "malicious url pattern": "malicious_url",
    "executable content signature": "executable",
    "no content extracted": "no_content",
}
DOC_COLS = ["url", "kind", "status", "entity_count", "content_hash", "error_message"]
QUARANTINE_METRICS = [
    "size_cap", "malicious_url", "executable", "no_content",
    "unsupported_kind", "exception",
]


def quarantine_slug(reason: str) -> str:
    if reason in QUARANTINE_SLUGS:
        return QUARANTINE_SLUGS[reason]
    if reason.startswith("unsupported payload kind"):
        return "unsupported_kind"
    return "exception"


def quantile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolated quantile; the value itself for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


class Run:
    """State of one benchmark process: session, tracer, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.smoke = smoke
        self.t_process = t_process
        # generating inputs and the host burn probe, kept out of setup_s
        self.excluded_s = 0.0
        self.tracer = Tracer(trace)
        self.sql: SqlCapture | None = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.layer_source: dict[str, str] = {}  # metric -> "main" | "sweep"
        self.op_sql: dict[str, list[dict]] = {}
        self.op_jobs: dict[str, list[tuple[int, int, int]]] = {}
        self.timings: dict[str, list[float]] = {}  # seconds of each timed operation
        self.work = os.path.join(inputs.WORK, "run", f"{workload}-{os.getpid()}")
        self.rss = RssSampler()
        self._op_seq = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def size(self) -> int:
        return SIZES[self.workload][1 if self.smoke else 0]

    # -- inputs, session --------------------------------------------------
    def pages_table(self, n: int, recrawl: float = 0.0) -> str:
        t0 = time.perf_counter()
        path = inputs.pages_table(n, self.seed, recrawl)
        self.excluded_s += time.perf_counter() - t0
        return path

    def start_session(self):
        from medical_vector_database_ocr_ner_spark.session import get_spark

        with self.tracer.span("session.get_spark", "session", op="setup"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={inputs.WORK}/tmp",
                    "spark.sql.warehouse.dir": f"{inputs.WORK}/warehouse",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.sql = SqlCapture(self.spark)
        return self.spark

    def setup_done(self) -> None:
        """Marks the first timed operation: setup_s ends here."""
        self.e2e["setup_s"] = time.perf_counter() - self.t_process - self.excluded_s
        self.rss.__enter__()

    def timed_done(self) -> None:
        self.rss.__exit__(None, None, None)
        self.e2e["peak_rss_mb"] = self.rss.peak_mb

    # -- operations and checks --------------------------------------------
    @contextmanager
    def op(self, kind: str, layer: str):
        """One timed operation: a root span, a job group and, traced, the
        SQL metrics and job counts of every action inside it."""
        self._op_seq += 1
        group = f"{kind}#{self._op_seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self.attempted += 1
        try:
            with self.tracer.span(kind, layer, op=group):
                yield
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
            raise
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.traced and self.sql is not None:
                self.op_sql.setdefault(kind, []).append(
                    sql_layer_metrics(self.sql.drain()))
                self.op_jobs.setdefault(kind, []).append(job_counts(self.spark, group))

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed {detail}"[:500])
        return ok

    def layer(self, name: str, value: float, source: str = "main") -> None:
        """Record a per-layer observation; the main phase wins over the sweep."""
        if source == "sweep" and self.layer_source.get(name) == "main":
            return
        self.layers[name] = float(value)
        self.layer_source[name] = source

    def layer_sql(self, kind: str, source: str = "main") -> None:
        """Median over the operations of ``kind`` of each SQL-metric counter."""
        recs = self.op_sql.get(kind, [])
        for key in sorted({k for r in recs for k in r}):
            self.layer(key, statistics.median(r.get(key, 0.0) for r in recs), source)

    def clean(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def drain(df) -> None:
    """Run a plan to completion and discard its rows (the noop sink)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# pure references used by the output checks
# ---------------------------------------------------------------------------

def pure_document(url: str, html: bytes) -> tuple:
    """(kind, status, error_message, entity_count, content_hash) of one page
    computed with the pure core functions, in the order extract_documents
    applies its native predicates."""
    from medical_vector_database_ocr_ner_spark import core
    from medical_vector_database_ocr_ner_spark.functions.columns import MAX_PAYLOAD_BYTES

    if len(html) > MAX_PAYLOAD_BYTES:
        return "rejected", "failed", "payload exceeds size cap", 0, None
    if core.is_malicious_url(url):
        return "rejected", "failed", "malicious url pattern", 0, None
    if core.is_executable_payload(html):
        return "rejected", "failed", "executable content signature", 0, None
    kind = core.sniff_payload_kind(html)
    try:
        if kind == "html":
            text = core.extract_main_content(html)
        elif kind in ("pdf", "image"):
            text = "\n".join(p[0] for p in core.ocr_payload_pages(html))
        else:
            return kind, "failed", f"unsupported payload kind: {kind}", 0, None
        if not text:
            return kind, "failed", "no content extracted", 0, None
        ents = core.extract_entities(text)
    except Exception as exc:
        return kind, "failed", f"{type(exc).__name__}: {exc}"[:1000], 0, None
    return kind, "completed", None, len(ents), hashlib.sha256(text.encode()).hexdigest()


def read_pages(path: str, columns=("url", "html")) -> dict[str, list]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=list(columns)).to_pydict()


def native_reason_counts(pages: dict[str, list]) -> Counter:
    """Exact per-reason counts of the quarantine reasons decided natively
    (before the Python stage), from the pure predicates."""
    from medical_vector_database_ocr_ner_spark import core
    from medical_vector_database_ocr_ner_spark.functions.columns import MAX_PAYLOAD_BYTES

    c: Counter = Counter()
    for url, html in zip(pages["url"], pages["html"]):
        if len(html) > MAX_PAYLOAD_BYTES:
            c["size_cap"] += 1
        elif core.is_malicious_url(url):
            c["malicious_url"] += 1
        elif core.is_executable_payload(html):
            c["executable"] += 1
    return c


def check_documents(run: Run, rows: list, pages: dict[str, list], n: int) -> Counter:
    """Output checks on the DOC_COLS rows of one extraction; returns
    per-reason counts."""
    import random

    got = {r[0]: tuple(r[1:]) for r in rows}
    run.check("extract.row_count", len(rows) == len(pages["url"]) == len(got),
              f"{len(rows)} rows for {len(pages['url'])} pages")
    reasons = Counter(quarantine_slug(r[5]) for r in rows if r[2] == "failed")
    native = native_reason_counts(pages)
    for slug in ("size_cap", "malicious_url", "executable"):
        run.check(f"extract.quarantine.{slug}", reasons[slug] == native[slug],
                  f"{reasons[slug]} != {native[slug]}")
    if run.seed == inputs.DEFAULT_SEED and n == SIZES["extract"][0]:
        golden = golden_slice(n)
        bad = sum(1 for u, g in golden.items() if got.get(u, (None,))[:4] != g)
        run.check("extract.golden", bad == 0 and len(golden) == len(got),
                  f"{bad} rows differ from the golden oracle")
    rng = random.Random(f"sample:{run.seed}")
    idx = rng.sample(range(len(pages["url"])), min(64, len(pages["url"])))
    bad = []
    for i in idx:
        url, html = pages["url"][i], pages["html"][i]
        kind, status, err, n_ent, h = pure_document(url, html)
        if got.get(url) != (kind, status, n_ent, h, err):
            bad.append(url)
    run.check("extract.core_parity", not bad, f"{len(bad)} sampled urls differ: {bad[:3]}")
    return reasons


def golden_slice(n: int) -> dict[str, tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(inputs.ROOT, "tests", "golden", "oracle", "pages_extraction.parquet")
    ).to_pylist()
    return {r["url"]: (r["kind"], r["status"], r["entity_count"], r["content_hash"])
            for r in t if r["n_pages"] == n}


# ---------------------------------------------------------------------------
# single-threaded core timings (traced run only)
# ---------------------------------------------------------------------------

def core_timings(run: Run, pages: dict[str, list], kinds: Counter) -> None:
    """µs/doc of the public core functions on a fixed sample of the
    workload's own payloads, and the share of the Python stage they explain."""
    import random

    from medical_vector_database_ocr_ner_spark import core

    rng = random.Random(f"core:{run.seed}")
    by_kind: dict[str, list[bytes]] = {"html": [], "ocr": []}
    for url, html in zip(pages["url"], pages["html"]):
        if core.is_executable_payload(html) or core.is_malicious_url(url):
            continue
        k = core.sniff_payload_kind(html)
        if k == "html":
            by_kind["html"].append(html)
        elif k in ("pdf", "image"):
            by_kind["ocr"].append(html)
    html_s = rng.sample(by_kind["html"], min(CORE_SAMPLE, len(by_kind["html"])))
    ocr_s = rng.sample(by_kind["ocr"], min(CORE_SAMPLE // 4, len(by_kind["ocr"])))

    def per_doc(fn, items) -> tuple[float, list]:
        if not items:
            return 0.0, []
        t0 = time.perf_counter()
        out = [fn(x) for x in items]
        return (time.perf_counter() - t0) / len(items) * 1e6, out

    us_html, texts = per_doc(core.extract_main_content, html_s)
    us_conf, _ = per_doc(
        lambda t: core.mean_confidence([core.word_confidence(w) for w in t.split()]), texts)
    us_ocr, pages_out = per_doc(core.ocr_payload_pages, ocr_s)
    ocr_texts = ["\n".join(p[0] for p in po) for po in pages_out]
    us_ner, _ = per_doc(core.extract_entities, [t for t in texts + ocr_texts if t])
    us_emb, _ = per_doc(core.embed_text, [t for t in texts + ocr_texts if t])
    run.layer("core.html_extract.us_per_doc", us_html)
    run.layer("core.ocr.word_conf_us_per_doc", us_conf)
    run.layer("core.ocr.us_per_doc", us_ocr)
    run.layer("core.ner.us_per_doc", us_ner)
    run.layer("core.embedding.us_per_doc", us_emb)
    py_ms = run.layers.get("operators.extraction.python_ms", 0.0)
    if py_ms:
        n_html, n_ocr = kinds["html"], kinds["pdf"] + kinds["image"]
        explained_us = n_html * (us_html + us_conf + us_ner) + n_ocr * (us_ocr + us_ner)
        run.layer("core.explained_share", explained_us / 1e3 / py_ms)


def kind_counts(pages: dict[str, list]) -> Counter:
    """Payload kinds of the rows that reach the Python stage."""
    from medical_vector_database_ocr_ner_spark import core

    c: Counter = Counter()
    for url, html in zip(pages["url"], pages["html"]):
        if not (core.is_malicious_url(url) or core.is_executable_payload(html)):
            c[core.sniff_payload_kind(html)] += 1
    return c


# ---------------------------------------------------------------------------
# layer operations shared by the workloads and the sweep
# ---------------------------------------------------------------------------

def checked_extract(pages_df) -> tuple[list, float]:
    """Run extract_documents once, collecting DOC_COLS of every row and the
    partition each row came out of. Returns (rows, partition skew): max ÷
    median rows per output partition, that is per mapInPandas task, since
    the Python stage keeps its input partitioning. Partitions that produced
    no row are not seen."""
    from pyspark.sql import functions as F

    from medical_vector_database_ocr_ner_spark.operators.extraction import extract_documents

    out = extract_documents(pages_df).select(
        *DOC_COLS, F.spark_partition_id().alias("_pid")).collect()
    counts = list(Counter(r[-1] for r in out).values())
    return [tuple(r[:-1]) for r in out], max(counts) / statistics.median(counts)


def post_compute_ms(run: Run, pages_df, source: str) -> None:
    """Full extract_documents minus the same call projected to url,status."""
    from medical_vector_database_ocr_ner_spark.operators.extraction import extract_documents

    def one(project: bool) -> float:
        t0 = time.perf_counter()
        with run.tracer.span("extract_documents", "operators.extraction", op="post_compute"):
            df = extract_documents(pages_df)
        drain(df.select("url", "status") if project else df)
        return time.perf_counter() - t0

    full, proj = one(False), one(True)
    run.layer("functions.post_compute_ms", (full - proj) * 1e3, source)


def lineage_cycle(run: Run, pages_path: str, out: str, n_rows: int, source: str) -> dict:
    """run_with_lineage, the embeddings sink, a manifest cut of 1/8 of the
    buckets and the resume; checks and per-layer metrics of the write path."""
    import pyarrow.parquet as pq

    from medical_vector_database_ocr_ner_spark.plans.lineage import (
        read_documents, run_with_lineage,
    )
    from medical_vector_database_ocr_ner_spark.plans.pipeline import build_embeddings

    spark = run.spark
    shutil.rmtree(out, ignore_errors=True)
    pages_df = spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    with run.op("lineage.run", "plans.lineage"):
        with run.tracer.span("run_with_lineage", "plans.lineage"):
            res = run_with_lineage(spark, pages_df, out, n_buckets=N_BUCKETS, run_id="run")
    t1 = time.perf_counter()
    emb_dir = os.path.join(out, "embeddings")
    with run.op("lineage.embeddings", "plans.pipeline"):
        with run.tracer.span("build_embeddings", "plans.pipeline"):
            emb = build_embeddings(read_documents(spark, out))
        emb.write.mode("overwrite").parquet(emb_dir)
    t2 = time.perf_counter()

    docs_dir = os.path.join(out, "documents")
    manifest_dir = os.path.join(out, "manifest")
    before = docs_digest(docs_dir)
    cut_manifest(manifest_dir, DROPPED_BUCKETS)
    t3 = time.perf_counter()
    with run.op("lineage.resume", "plans.lineage"):
        with run.tracer.span("run_with_lineage", "plans.lineage"):
            res2 = run_with_lineage(spark, spark.read.parquet(pages_path), out,
                                    n_buckets=N_BUCKETS, run_id="resume")
    t4 = time.perf_counter()
    after = docs_digest(docs_dir)

    n_manifest = pq.read_table(manifest_dir).num_rows
    n_docs = pq.read_table(docs_dir, columns=["url"]).num_rows
    n_emb = pq.read_table(emb_dir, columns=["vec_id"]).num_rows
    n_ok = pq.read_table(docs_dir, columns=["status"]).column("status").to_pylist().count("completed")
    run.check("lineage.first_run_buckets", res["processed_buckets"] == N_BUCKETS, str(res))
    run.check("lineage.resume_buckets", res2["processed_buckets"] == len(DROPPED_BUCKETS), str(res2))
    run.check("lineage.manifest_rows", n_manifest == N_BUCKETS, f"{n_manifest}")
    run.check("lineage.document_rows", n_docs == n_rows, f"{n_docs} != {n_rows}")
    run.check("lineage.resume_identical", before == after, "documents changed across the resume")
    run.check("lineage.embedding_rows", 0 < n_emb <= n_ok, f"{n_emb} for {n_ok} completed")

    wrote = dir_bytes(docs_dir) + dir_bytes(manifest_dir) + dir_bytes(emb_dir)
    run.layer("plans.lineage.run_ms", (t1 - t0) * 1e3, source)
    run.layer("plans.pipeline.embed_build_ms", (t2 - t1) * 1e3, source)
    run.layer("plans.lineage.resume_s", t4 - t3, source)
    run.layer("plans.lineage.documents_bytes", dir_bytes(docs_dir), source)
    run.layer("plans.lineage.embeddings_bytes", dir_bytes(emb_dir), source)
    run.layer("plans.lineage.manifest_rows", n_manifest, source)
    run.layer("plans.lineage.resume_buckets", res2["processed_buckets"], source)
    run.layer("plans.lineage.bytes_written_per_doc", wrote / n_rows, source)
    share = len(DROPPED_BUCKETS) / N_BUCKETS
    run.layer("plans.lineage.resume_waste", (t4 - t3) / ((t1 - t0) * share), source)
    run.layer("plans.pipeline.embed_rows", n_emb, source)
    run.layer("plans.pipeline.embed_unique_share", n_emb / n_ok if n_ok else 0.0, source)
    return {"emb_dir": emb_dir, "docs_dir": docs_dir}


def docs_digest(docs_dir: str) -> str:
    import pyarrow.parquet as pq

    cols = ["url", "warc_ts", "status", "entity_count", "content_hash", "error_message"]
    rows = sorted(zip(*pq.read_table(docs_dir, columns=cols).to_pydict().values()),
                  key=repr)
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def cut_manifest(manifest_dir: str, buckets) -> None:
    """Drop the manifest rows of ``buckets``, as if their commit were lost."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(manifest_dir)
    drop = pa.array(list(buckets), type=pa.int32())
    keep = t.filter(pc.invert(pc.is_in(t.column("bucket"), value_set=drop)))
    for f in os.listdir(manifest_dir):
        os.remove(os.path.join(manifest_dir, f))
    pq.write_table(keep, os.path.join(manifest_dir, "part-00000-cut.parquet"))


def search_once(run: Run, emb, query: str, extra_cols=SEARCH_COLS) -> tuple[list, float, float]:
    """One request: (rows, plan seconds, collect seconds)."""
    from medical_vector_database_ocr_ner_spark.plans.pipeline import search_topk

    t0 = time.perf_counter()
    with run.tracer.span("search_topk", "plans.pipeline"):
        df = search_topk(emb, query, SEARCH_K, extra_cols=extra_cols)
    t1 = time.perf_counter()
    with run.tracer.span("collect", "spark.action"):
        rows = df.collect()
    return rows, t1 - t0, time.perf_counter() - t1


def brute_force_check(run: Run, emb_dir: str, answers: dict[str, list]) -> None:
    """Each top-k equals a numpy brute force over the same vectors: the same
    left-to-right double sum the JVM fold uses, ties broken by vec_id."""
    import numpy as np
    import pyarrow.parquet as pq

    from medical_vector_database_ocr_ner_spark.core import embed_text

    t = pq.read_table(emb_dir, columns=["vec_id", "embedding"]).to_pydict()
    ids = np.array(t["vec_id"], dtype=object)
    mat = np.array(t["embedding"], dtype=np.float32).astype(np.float64)
    bad = []
    for q, rows in answers.items():
        qv = np.asarray(embed_text(q), dtype=np.float32).astype(np.float64)
        sims = np.cumsum(mat * qv, axis=1)[:, -1]
        order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:SEARCH_K]
        want = [(ids[i], float(sims[i])) for i in order]
        got = [(r["vec_id"], r["similarity"]) for r in rows]
        if want != got:
            bad.append(q)
    run.check("search.brute_force_topk", not bad, f"{len(bad)} queries differ: {bad[:3]}")


def dedup_layers(run: Run, docs_df, emb, queries: list[str], source: str) -> None:
    """Time the dedup, components and similarity operators on the
    workload's own documents and embeddings."""
    from pyspark.sql import functions as F

    from medical_vector_database_ocr_ner_spark.core import embed_text
    from medical_vector_database_ocr_ner_spark.operators import components, dedup, similarity

    docs = docs_df.where(F.col("status") == "completed").select(
        F.col("url").alias("id"), F.col("extracted_text").alias("text"))

    def timed(name: str, layer: str, build) -> float:
        t0 = time.perf_counter()
        with run.op(f"sweep.{name}", layer):
            with run.tracer.span(name, layer):
                df = build()
            rows = df.count()
        run.layer(f"{layer}.{name}_ms", (time.perf_counter() - t0) * 1e3, source)
        return rows

    exact = timed("exact_dedup", "operators.dedup", lambda: dedup.exact_dedup(docs, "text", "id")
                  .where(F.col("n_copies") > 1))
    run.layer("operators.dedup.exact_dup_groups", exact, source)
    timed("simhash", "operators.dedup", lambda: dedup.simhash(docs, "text", "id", bits=16))
    pairs = dedup.minhash_lsh_candidates(dedup.minhash_signatures(docs, "text", "id"), "id")
    timed("minhash_lsh", "operators.dedup", lambda: pairs)
    timed("duplicate_clusters", "operators.components",
          lambda: components.duplicate_clusters(docs, pairs, "id", "id_a", "id_b"))
    qdf = run.spark.createDataFrame(
        [(i, [float(x) for x in embed_text(q)]) for i, q in enumerate(queries)],
        "query_id int, qvec array<double>")
    timed("batch_topk", "operators.similarity",
          lambda: similarity.batch_topk(emb, qdf, SEARCH_K))


def layer_sweep(run: Run, have: set[str], emb_dir: str | None = None) -> None:
    """Traced run only: call the layers the workload's timed phase does not
    reach, on a seeded table of the workload's page mix plus a recrawl
    slice, so every per-layer metric is measured on every workload (marked
    'sweep' in the report)."""
    import pyarrow.parquet as pq

    spark = run.spark
    pages_path = run.pages_table(min(SWEEP_PAGES, run.size()), RECRAWL_SHARE)
    n_rows = pq.read_table(pages_path, columns=["url"]).num_rows
    if "post_compute" not in have:
        post_compute_ms(run, spark.read.parquet(pages_path), "sweep")
    res = lineage_cycle(run, pages_path, os.path.join(run.work, "sweep", "lineage"),
                        n_rows, "sweep")
    run.layer_sql("lineage.run", "sweep")
    embed_python_ms(run, "sweep")
    emb = spark.read.parquet(emb_dir or res["emb_dir"])
    queries = inputs.search_queries(8, run.seed)
    if "search" not in have:
        plans, execs = [], []
        cols = [c for c in SEARCH_COLS if c in emb.columns]
        for q in queries:
            with run.op("sweep.search", "plans.pipeline"):
                _, p, e = search_once(run, emb, q, cols)
            plans.append(p * 1e3)
            execs.append(e * 1e3)
        run.layer("plans.pipeline.search_plan_ms", statistics.median(plans), "sweep")
        run.layer("plans.pipeline.search_exec_ms", statistics.median(execs), "sweep")
    dedup_layers(run, spark.read.parquet(res["docs_dir"]), emb, queries, "sweep")


def embed_python_ms(run: Run, source: str) -> None:
    recs = run.op_sql.get("lineage.embeddings", [])
    if recs:
        run.layer("plans.pipeline.embed_python_ms", statistics.median(
            r.get("plans.pipeline.embed_python_ms", 0.0) for r in recs), source)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _finish_ops(run: Run, kind: str, times: list[float], n_docs: int) -> None:
    run.timings[kind] = times
    run.e2e["docs_per_s"] = n_docs / statistics.median(times)
    run.e2e["latency_p50_ms"] = statistics.median(times) * 1e3
    run.e2e["latency_p90_ms"] = quantile(times, 0.9) * 1e3
    run.e2e["samples"] = len(times)


def _jobs_layers(run: Run, kind: str) -> None:
    recs = run.op_jobs.get(kind, [])
    if recs:
        for i, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
            run.layer(name, statistics.median(r[i] for r in recs))


def _overhead(run: Run, untraced_s: float, traced: list[float]) -> None:
    run.layer("trace.overhead_share", statistics.median(traced) / untraced_s - 1.0)


def workload_extract(run: Run) -> None:
    """extract_documents over the default crawl mix, drained by a noop sink."""
    from medical_vector_database_ocr_ner_spark.operators.extraction import extract_documents

    n = run.size()
    path = run.pages_table(n)
    spark = run.start_session()
    pages_df = spark.read.parquet(path)
    # the checked pass doubles as the warm-up: a smaller one left the first
    # timed pass about 15% slower than the second
    with run.op("extract.check_pass", "operators.extraction"):
        rows, skew = checked_extract(pages_df)
    run.setup_done()

    times: list[float] = []
    t_start = time.perf_counter()
    while len(times) < MIN_PASSES or time.perf_counter() - t_start < run.seconds:
        t0 = time.perf_counter()
        with run.op("extract.pass", "operators.extraction"):
            with run.tracer.span("extract_documents", "operators.extraction"):
                df = extract_documents(pages_df)
            with run.tracer.span("noop_sink", "spark.action"):
                drain(df)
        times.append(time.perf_counter() - t0)
    run.timed_done()
    _finish_ops(run, "extract.pass", times, n)

    pages = read_pages(path)
    reasons = check_documents(run, rows, pages, n)
    if run.traced:
        with _untraced(run):
            t0 = time.perf_counter()
            drain(extract_documents(pages_df))
            _overhead(run, time.perf_counter() - t0, times)
        run.layer_sql("extract.pass")
        _jobs_layers(run, "extract.pass")
        for slug in QUARANTINE_METRICS:
            run.layer(f"operators.extraction.quarantined.{slug}", reasons[slug])
        run.layer("functions.partition_skew", skew)
        post_compute_ms(run, pages_df, "main")
        core_timings(run, pages, kind_counts(pages))
        layer_sweep(run, have={"post_compute"})


@contextmanager
def _untraced(run: Run):
    """Spans and the SQL listener off, for the operation that is the
    reference of trace.overhead_share."""
    run.sql.close()
    run.sql, run.tracer.enabled = None, False
    try:
        yield
    finally:
        run.sql, run.tracer.enabled = SqlCapture(run.spark), True


def workload_search(run: Run) -> None:
    """Closed loop, one client: search_topk(...).collect() per request."""
    from medical_vector_database_ocr_ner_spark.operators.extraction import extract_documents
    from medical_vector_database_ocr_ner_spark.plans.pipeline import build_embeddings

    n = run.size()
    path = run.pages_table(n)
    spark = run.start_session()
    emb_dir = os.path.join(run.work, "embeddings")
    t0 = time.perf_counter()
    with run.op("search.build", "plans.pipeline"):
        with run.tracer.span("build_embeddings", "plans.pipeline"):
            emb_df = build_embeddings(
                extract_documents(spark.read.parquet(path)), carry_cols=SEARCH_COLS)
        # written as scripts/run_extraction.py writes its embeddings sink
        emb_df.write.mode("overwrite").parquet(emb_dir)
    build_ms = (time.perf_counter() - t0) * 1e3
    emb = spark.read.parquet(emb_dir)
    n_vec = emb.count()
    min_requests = 10 if run.smoke else MIN_REQUESTS
    queries = inputs.search_queries(min_requests * 4, run.seed)
    # without a warm-up the first few dozen requests run ~10% slower
    for q in queries[-min(WARM_REQUESTS, min_requests):]:
        search_once(run, emb, q)
    if run.traced:
        run.sql.drain()
    run.setup_done()

    lat, plans, execs, answers = [], [], [], {}
    t_start = time.perf_counter()
    i = 0
    while len(lat) < min_requests or time.perf_counter() - t_start < run.seconds:
        q = queries[i % len(queries)]
        with run.op("search.request", "plans.pipeline"):
            rows, p, e = search_once(run, emb, q)
        lat.append(p + e)
        plans.append(p)
        execs.append(e)
        answers[q] = rows
        i += 1
    run.timed_done()
    _finish_ops(run, "search.request", lat, n_vec)
    brute_force_check(run, emb_dir, answers)

    if run.traced:
        with _untraced(run):
            ref = [sum(search_once(run, emb, q)[1:]) for q in queries[-25:-5]]
        _overhead(run, statistics.median(ref), lat)
        _jobs_layers(run, "search.request")
        run.layer("plans.pipeline.search_plan_ms", statistics.median(plans) * 1e3)
        run.layer("plans.pipeline.search_exec_ms", statistics.median(execs) * 1e3)
        run.layer("plans.pipeline.embed_build_ms", build_ms)
        # the requests' scan counters win over the build's
        run.layer_sql("search.build")
        run.layer_sql("search.request")
        pages = read_pages(path)
        rows, skew = checked_extract(spark.read.parquet(path))
        reasons = check_documents(run, rows, pages, n)
        run.layer("functions.partition_skew", skew)
        for slug in QUARANTINE_METRICS:
            run.layer(f"operators.extraction.quarantined.{slug}", reasons[slug])
        core_timings(run, pages, kind_counts(pages))
        # embed_rows and embed_unique_share come from the sweep's lineage
        # cycle, whose pages carry the recrawl slice
        layer_sweep(run, have={"search"}, emb_dir=emb_dir)


WORKLOADS = {
    "extract": workload_extract,
    "search": workload_search,
}
