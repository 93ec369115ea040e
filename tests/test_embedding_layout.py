"""Width of the embedding stage and of the sink it writes.

``build_embeddings`` hash-partitions its rows on ``vec_id`` at
``stage_width`` (the extraction stage's width) before its dedup and
embedding pass. AQE would coalesce a dedup's own few-MB shuffle to one
partition by bytes, leaving the embedding on one core, the sink as one
file with one row group and every search over it as one task."""

import glob
import os
import re
import shutil

import pytest

EXCHANGE = re.compile(r"\bExchange hashpartitioning\((\w+)#\d+, (\d+)\), (\w+)")


@pytest.fixture(scope="module")
def layout(spark, pages_parquet, tmp_path_factory):
    """Embeddings of the 200-page fixture: the executed plan, then the
    sink written from the same DataFrame. The pages are read from a copy
    of the fixture table: a cached plan over the original (conftest's
    ``documents_df``) would otherwise stand in for the extraction."""
    from medical_vector_database_ocr_ner_spark.operators.extraction import (
        extract_documents,
    )
    from medical_vector_database_ocr_ner_spark.plans.pipeline import (
        build_embeddings,
    )

    pages = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    shutil.copytree(pages_parquet, pages)
    emb = build_embeddings(extract_documents(spark.read.parquet(pages)))
    n_rows = len(emb.collect())
    # the final adaptive plan, as executed (not AQE's initial plan)
    plan = emb._jdf.queryExecution().executedPlan().executedPlan().toString()
    sink = str(tmp_path_factory.mktemp("embeddings"))
    emb.write.mode("overwrite").parquet(sink)
    return {"plan": plan, "sink": sink, "n_rows": n_rows}


class TestEmbeddingWidth:
    def test_two_exchanges_both_at_stage_width(self, spark, layout):
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            stage_width,
        )

        width = stage_width(spark)
        exchanges = EXCHANGE.findall(layout["plan"])
        assert len(re.findall(r"\bExchange\b", layout["plan"])) == 2, layout["plan"]
        assert sorted(exchanges) == [
            ("url", str(width), "REPARTITION_BY_NUM"),
            ("vec_id", str(width), "REPARTITION_BY_NUM"),
        ], layout["plan"]

    def test_sink_has_a_file_per_core(self, spark, layout):
        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(layout["sink"], "*.parquet"))
        dp = spark.sparkContext.defaultParallelism
        assert len(files) >= dp
        assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == layout["n_rows"]

    def test_sink_reads_back_with_default_parallelism(self, spark, layout):
        emb = spark.read.parquet(layout["sink"])
        assert emb.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    def test_search_runs_more_than_one_task(self, spark, layout):
        from medical_vector_database_ocr_ner_spark.plans.pipeline import search_topk

        emb = spark.read.parquet(layout["sink"])
        sc = spark.sparkContext
        group = "embedding-layout-search"
        sc.setJobGroup(group, "one search request")
        try:
            rows = search_topk(emb, "Metformin diabetes prescription", 10).collect()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        tasks = sum(
            tracker.getStageInfo(s).numTasks
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
        )
        assert len(rows) == 10
        assert tasks > 1
