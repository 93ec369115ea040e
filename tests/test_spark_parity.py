"""Byte-parity of the Spark extraction path against committed goldens
(the north_rule gate: byte-identical extracted text + identical spans per
url), plus plan-shape assertions for the scale requirements."""

import json
import os

import pytest

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "documents.jsonl")


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN_PATH) as fh:
        rows = [json.loads(line) for line in fh]
    return {r["url"]: r for r in rows}


@pytest.fixture(scope="module")
def spark_docs(documents_df):
    return {r["url"]: r.asDict(recursive=True) for r in documents_df.collect()}


class TestByteParity:
    def test_all_urls_present(self, goldens, spark_docs):
        assert set(goldens) == set(spark_docs)

    def test_status_and_kind(self, goldens, spark_docs):
        for url, g in goldens.items():
            s = spark_docs[url]
            assert s["status"] == g["status"], url
            assert s["kind"] == g["kind"], url
            assert s["error_message"] == g["error_message"], url

    def test_extracted_text_byte_identical(self, goldens, spark_docs):
        for url, g in goldens.items():
            assert spark_docs[url]["extracted_text"] == g["extracted_text"], url

    def test_content_hash(self, goldens, spark_docs):
        for url, g in goldens.items():
            assert spark_docs[url]["content_hash"] == g["content_hash"], url

    def test_entity_spans_identical(self, goldens, spark_docs):
        for url, g in goldens.items():
            got = spark_docs[url]["entities"] or []
            want = g["entities"]
            assert len(got) == len(want), url
            for a, b in zip(got, want):
                assert (a["text"], a["entity_type"], a["start"], a["end"]) == (
                    b["text"], b["entity_type"], b["start"], b["end"],
                ), url
                assert abs(a["confidence"] - b["confidence"]) < 1e-12, url

    def test_ocr_confidence_exact(self, goldens, spark_docs):
        for url, g in goldens.items():
            got = spark_docs[url]["ocr_confidence"]
            if g["ocr_confidence"] is None:
                assert got is None, url
            else:
                assert got == pytest.approx(g["ocr_confidence"], abs=1e-12), url

    def test_entity_count_invariant(self, goldens, spark_docs):
        for url, s in spark_docs.items():
            assert s["entity_count"] == len(s["entities"] or []), url

    def test_quarantine_rows_exist(self, goldens):
        # generator plants executables; they must be failed, never dropped
        failed = [g for g in goldens.values() if g["status"] == "failed"]
        assert failed, "fixture must contain quarantine rows"

    def test_image_rows_extract(self, goldens, spark_docs):
        # S2/X1: image payloads are the reference's flagship input
        # (ocr_service.py:124-146, :193-208) — they must OCR to completed
        # rows with text, never quarantine as "unsupported payload kind"
        imgs = [u for u, g in goldens.items() if g["kind"] == "image"]
        assert imgs, "fixture must contain image payload rows"
        for url in imgs:
            assert spark_docs[url]["status"] == "completed", url
            assert spark_docs[url]["extracted_text"], url
            assert spark_docs[url]["ocr_confidence"] is not None, url


class TestDocTextParity:
    def test_doc_text_byte_identical(self, spark, documents_df, goldens):
        """Native C15 assembly (document_text_col) vs core.create_document_text."""
        from medical_vector_database_ocr_ner_spark.functions import columns as FX
        from pyspark.sql import functions as F

        got = {
            r["url"]: r["doc_text"]
            for r in documents_df.where("status = 'completed'")
            .select(
                "url",
                FX.document_text_col(
                    F.col("extracted_text"), F.col("entities"), F.col("metadata")
                ).alias("doc_text"),
            )
            .collect()
        }
        for url, doc_text in got.items():
            assert doc_text == goldens[url]["doc_text"], url


class TestEmbeddingsParity:
    def test_embeddings_match_core(self, documents_df, goldens):
        from medical_vector_database_ocr_ner_spark.core import embed_text
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings,
        )

        emb = build_embeddings(documents_df)
        rows = emb.collect()
        by_hash = {}
        for g in goldens.values():
            if g["status"] == "completed":
                by_hash[g["content_hash"]] = g
        assert {r["vec_id"] for r in rows} == set(by_hash)
        # spot-check exact vector equality for 5 rows (float32 to float32)
        for r in rows[:5]:
            want = embed_text(by_hash[r["vec_id"]]["doc_text"])
            got = r["embedding"]
            assert len(got) == len(want)
            assert all(abs(a - float(b)) < 1e-7 for a, b in zip(got, want))

    def test_dedup_before_embed(self, documents_df):
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings,
        )

        emb = build_embeddings(documents_df)
        n = emb.count()
        assert emb.select("vec_id").distinct().count() == n
        n_completed_distinct = (
            documents_df.where("status='completed'")
            .select("content_hash")
            .distinct()
            .count()
        )
        assert n == n_completed_distinct


class TestSearch:
    def test_topk_relevance_and_determinism(self, pages_df):
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings, search_topk,
        )

        cols = ["url", "extracted_text", "entity_count"]
        # No cache outlives this test: the cache manager would substitute a
        # cached embeddings or documents plan into every later plan over
        # the same pages (the session-wide documents_df fixture is one),
        # and tests/test_embedding_layout.py reads the executed plan.
        docs = extract_documents(pages_df)
        emb = build_embeddings(docs, carry_cols=cols).cache()
        try:
            r1 = search_topk(
                emb, "Metformin diabetes prescription", 5, extra_cols=cols
            ).collect()
            r2 = search_topk(
                emb, "Metformin diabetes prescription", 5, extra_cols=cols
            ).collect()
        finally:
            emb.unpersist()
        assert [x["vec_id"] for x in r1] == [x["vec_id"] for x in r2]
        assert len(r1) == 5
        sims = [x["similarity"] for x in r1]
        assert sims == sorted(sims, reverse=True)
        assert all(x["url"] is not None for x in r1)  # hydration carried

    def test_topk_matches_brute_force(self, documents_df, goldens):
        import numpy as np

        from medical_vector_database_ocr_ner_spark.core import embed_text
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings, search_topk,
        )

        emb = build_embeddings(documents_df)
        got = search_topk(emb, "Aspirin medication", 3).collect()

        q = embed_text("Aspirin medication")
        expected = []
        for g in goldens.values():
            if g["status"] != "completed":
                continue
            v = embed_text(g["doc_text"])
            expected.append((float(np.dot(v.astype(np.float64), q.astype(np.float64))), g["content_hash"]))
        # dedup by hash (duplicates collapse in the embeddings table)
        best = {}
        for sim, h in expected:
            best[h] = sim
        want = sorted(((s, h) for h, s in best.items()), key=lambda t: (-t[0], t[1]))[:3]
        assert [h for _, h in want] == [r["vec_id"] for r in got]
        for (s, _), r in zip(want, got):
            assert r["similarity"] == pytest.approx(s, abs=1e-6)


class TestPlanShape:
    def test_single_scan_native_predicates_below_python(self, spark, pages_df):
        """The DAG must scan the input exactly ONCE (no quarantine-union
        double scan) and evaluate the native reject predicates below the
        Python stage."""
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        # num_partitions=7 keeps this plan distinct from the cached
        # documents_df fixture plan — otherwise Spark's cache manager
        # substitutes the whole subtree with an InMemoryTableScan
        plan = (
            extract_documents(pages_df, num_partitions=7)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "MapInPandas" in plan
        assert plan.count("FileScan parquet") == 1
        # textual plan prints top-down: python stage line comes BEFORE
        # (above) the native reject-predicate projection, i.e. runs after it
        assert plan.find("MapInPandas") < plan.find("payload exceeds size cap")

    def test_url_hash_repartition_present(self, spark, pages_df):
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        plan = (
            extract_documents(pages_df, num_partitions=9)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning(url" in plan

    def test_search_uses_take_ordered(self, spark, documents_df):
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings, search_topk,
        )

        emb = build_embeddings(documents_df)
        plan = search_topk(emb, "q", 10)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_semantic_search_single_extraction_stage(self, spark, sf01_dir):
        """Regression guard for the double-extraction bug: the end-to-end
        search plan must contain EXACTLY ONE extraction stage and one scan
        of the pages (hydration columns carried through the embedding
        build, never joined back against the unmaterialized extraction
        plan).

        Both Python stages are ``map_rows`` passes, so the plan holds two
        MapInPandas nodes: the extraction and the embedding
        (``embed_unique``). A second extraction branch would show 3
        MapInPandas nodes and 2 parquet scans.

        Uses the sf0.01 pages table: the sf0.001 plan is identical to the
        session-cached documents_df fixture subtree, and the cache manager
        would substitute it with InMemoryTableScan (count 0)."""
        from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES

        df = QUERIES["semantic_search"].fn(spark, sf01_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 2, plan[:1500]
        assert plan.count("FileScan parquet") == 1, plan[:1500]

    def test_q5_join_broadcasts_dimensions(self, spark, sf001_dir):
        """The 6-table join must broadcast every dimension: exactly one
        shuffled join pair (lineitem⋈orders) plus the final aggregation
        exchange; nation/region/customer/supplier never shuffle the fact."""
        from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES

        df = QUERIES["revenue_by_nation"].fn(spark, sf001_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # all four hinted dims broadcast; at sf0.001 orders also falls
        # under the auto threshold (a 5th broadcast) — at scale AQE keeps
        # lineitem⋈orders shuffled. Never a nested-loop/cartesian plan.
        assert plan.count("BroadcastHashJoin") >= 4, plan[:1500]
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
