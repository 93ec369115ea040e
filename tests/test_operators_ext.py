"""Unit tests for the second-wave operators: as-of join (union-sentinel),
connected components (min-label propagation), HLL sketch tolerance."""

import os
from datetime import datetime

from pyspark.sql import functions as F


def _ts(s):
    return datetime.fromisoformat(s)


class TestAsofJoin:
    def test_matches_hand_computed(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [
                (1, "u1", _ts("2024-01-01 10:00:00")),   # after e1
                (2, "u1", _ts("2024-01-01 12:00:00")),   # exactly at e2 → e2
                (3, "u1", _ts("2024-01-01 09:00:00")),   # before any → null
                (4, "u2", _ts("2024-01-01 10:00:00")),   # other key → e3
                (5, "u3", _ts("2024-01-01 10:00:00")),   # key w/o rights → null
            ],
            "click_id long, user string, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                ("u1", _ts("2024-01-01 09:30:00"), 100),  # e1
                ("u1", _ts("2024-01-01 12:00:00"), 200),  # e2
                ("u2", _ts("2024-01-01 08:00:00"), 300),  # e3
            ],
            "user string, ts timestamp, err long",
        )
        out = asof_join(left, right, on="user", right_cols=["err"])
        got = {r["click_id"]: r["asof_err"] for r in out.collect()}
        assert got == {1: 100, 2: 200, 3: None, 4: 300, 5: None}

    def test_null_payload_right_row_still_matches(self, spark):
        """A right row whose payload is NULL must still win over an older
        non-null row (the struct wrapper exists exactly for this)."""
        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", _ts("2024-01-01 10:00:00"))],
            "click_id long, user string, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                ("u", _ts("2024-01-01 08:00:00"), 7),
                ("u", _ts("2024-01-01 09:00:00"), None),
            ],
            "user string, ts timestamp, err long",
        )
        out = asof_join(left, right, on="user", right_cols=["err"])
        assert out.collect()[0]["asof_err"] is None

    def test_right_rows_tied_on_ts_resolve_deterministically(self, spark):
        """Two right rows sharing (key, ts): the greatest payload tuple
        wins — the documented deterministic tie-break."""
        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", _ts("2024-01-01 13:00:00"))],
            "click_id long, user string, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                ("u", _ts("2024-01-01 12:00:00"), 5),
                ("u", _ts("2024-01-01 12:00:00"), 9),
                ("u", _ts("2024-01-01 12:00:00"), 2),
            ],
            "user string, ts timestamp, err long",
        )
        for _ in range(3):
            out = asof_join(left, right, on="user", right_cols=["err"])
            assert out.collect()[0]["asof_err"] == 9

    def test_no_inequality_join_in_plan(self, spark):
        """Plan shape: exactly one exchange (on the key), no BroadcastNested
        LoopJoin / CartesianProduct — the whole point of the pattern."""
        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", _ts("2024-01-01 10:00:00"))],
            "click_id long, user string, ts timestamp",
        )
        right = spark.createDataFrame(
            [("u", _ts("2024-01-01 08:00:00"), 7)],
            "user string, ts timestamp, err long",
        )
        out = asof_join(left, right, on="user")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        # the whole operator costs ONE shuffle: the window partitioning on
        # the join key (AQE may add AQEShuffleRead readers, not exchanges)
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


class TestAsofRandomized:
    def test_matches_bruteforce_on_random_frames(self, spark):
        """Seeded randomized cross-check: union-sentinel as-of ==
        brute-force most-recent-at-or-before lookup, including keys with
        no right rows and multiple probes between the same right rows."""
        import random

        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        rnd = random.Random(7)
        for _ in range(3):
            keys = [f"k{i}" for i in range(6)]
            rights = {}
            for k in keys[:4]:  # two keys get no right rows at all
                for ts in rnd.sample(range(0, 1000), rnd.randint(1, 8)):
                    rights[(k, ts)] = rnd.randint(0, 10**6)
            lefts = [
                (i, rnd.choice(keys), rnd.randint(-50, 1100))
                for i in range(60)
            ]

            ldf = spark.createDataFrame(
                [(i, k, datetime.fromtimestamp(1700000000 + t))
                 for i, k, t in lefts],
                "probe_id long, k string, ts timestamp",
            )
            rdf = spark.createDataFrame(
                [(k, datetime.fromtimestamp(1700000000 + t), v)
                 for (k, t), v in rights.items()],
                "k string, ts timestamp, v long",
            )
            got = {
                r["probe_id"]: r["asof_v"]
                for r in asof_join(ldf, rdf, on="k", right_cols=["v"]).collect()
            }
            for i, k, t in lefts:
                cands = [(ts, v) for (rk, ts), v in rights.items()
                         if rk == k and ts <= t]
                want = max(cands)[1] if cands else None
                assert got[i] == want, (i, k, t, got[i], want)


class TestConnectedComponentsRandomized:
    def test_matches_union_find_on_random_graphs(self, spark):
        """Seeded randomized cross-check: distributed min-label CC ==
        driver-side union-find on the same edges."""
        import random

        from medical_vector_database_ocr_ner_spark.operators.components import (
            connected_components,
        )

        rnd = random.Random(11)
        for trial in range(3):
            n = 30
            edges = [
                (rnd.randrange(n), rnd.randrange(n)) for _ in range(25 + trial * 10)
            ]
            edges = [(a, b) for a, b in edges if a != b]

            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            touched = {x for e in edges for x in e}
            want = {x: find(x) for x in touched}

            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    spark.createDataFrame(edges, "src long, dst long")
                ).collect()
            }
            assert got == want


class TestConnectedComponents:
    def test_known_graph(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.components import (
            connected_components,
        )

        # two components: a 4-node path 1-2-3-4 (diameter 3 → needs >1
        # iteration) and a triangle 10-11-12
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
            "src long, dst long",
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    def test_singletons_kept_in_clusters(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.components import (
            duplicate_clusters,
        )

        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame([(0, 3), (3, 5)], "da long, db long")
        got = {
            r["doc_id"]: r["cluster"]
            for r in duplicate_clusters(docs, pairs, "doc_id", "da", "db").collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}


class TestSketches:
    def test_hll_within_tolerance(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES

        rows = QUERIES["hll_distinct_tokens"].fn(spark, sf001_dir).collect()
        assert rows
        for r in rows:
            # the query itself now emits the contract flag (driver-hashed);
            # assert it holds and that exact counts are sane
            assert r["hll_within_tol"], (r["lang"], r["n_exact"])
            assert r["n_exact"] > 0


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark, sf001_dir):
        """Write orders+lineitem bucketed on orderkey, join: zero
        Exchange hashpartitioning in the executed plan, same result as
        the shuffled join — the co-located-join layout for 100 TB."""
        from medical_vector_database_ocr_ner_spark.sources.bucketed import (
            bucketed_join,
            write_bucketed,
        )

        orders = spark.read.parquet(f"{sf001_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf001_dir}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        write_bucketed(orders, "t_orders_b", "o_orderkey", 8)
        write_bucketed(li, "t_lineitem_b", "o_orderkey", 8)

        joined = bucketed_join(spark, "t_orders_b", "t_lineitem_b", "o_orderkey")
        # disable broadcast so the join exercises the bucketed SMJ path;
        # restore the SAVED value (session fixture is shared across tests)
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n = joined.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        expected = orders.join(li, "o_orderkey").count()
        assert n == expected and n > 0


class TestPartitionPruning:
    def test_date_range_scan_prunes_partitions(self, spark, pages_df, tmp_path_factory):
        """The date filter lands in PartitionFilters (planning-time
        directory pruning), not PushedFilters (file-level), and the pruned
        scan returns exactly the rows of the selected dates."""
        from medical_vector_database_ocr_ner_spark.sources.partitioned import (
            read_pages_range,
            write_pages_partitioned,
        )

        path = str(tmp_path_factory.mktemp("pages_part") / "pages")
        # fixture pages all share one capture date; spread them over 10
        # deterministic days so the layout has partitions to prune
        spread = pages_df.withColumn(
            "warc_ts",
            F.timestamp_add(
                "DAY", F.pmod(F.xxhash64("url"), F.lit(10)).cast("int"), "warc_ts"
            ),
        )
        write_pages_partitioned(spread, path)

        all_dates = sorted(
            r["warc_date"]
            for r in spark.read.parquet(path).select("warc_date").distinct().collect()
        )
        assert len(all_dates) >= 3, "fixture should span several capture dates"
        lo, hi = str(all_dates[0]), str(all_dates[1])

        scan = read_pages_range(spark, path, lo, hi)
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "warc_date" in plan.split(
            "PartitionFilters", 1
        )[1].split("]", 1)[0]

        expected = spread.where(F.to_date("warc_ts").between(lo, hi)).count()
        assert scan.count() == expected and 0 < expected < pages_df.count()


class TestRegistryExt:
    def test_ext_queries_registered_and_runnable(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            EXT_QUERIES,
        )

        assert set(EXT_QUERIES) <= set(QUERIES)
        for name, spec in EXT_QUERIES.items():
            df = spec.fn(spark, sf001_dir)
            assert df.columns, name
            df.limit(1).collect()


class TestExportSinks:
    def test_json_csv_roundtrip(self, spark, documents_df, tmp_path_factory):
        """S10 export formats: documents → json + csv sinks and back,
        row-count and key-column preserving (csv gets the flat columns;
        nested entity structs ride through json)."""
        base = tmp_path_factory.mktemp("exports")
        flat = documents_df.select("url", "status", "entity_count", "content_hash")

        flat.write.mode("overwrite").json(str(base / "docs_json"))
        flat.write.mode("overwrite").option("header", True).csv(str(base / "docs_csv"))

        n = flat.count()
        jback = spark.read.json(str(base / "docs_json"))
        cback = spark.read.option("header", True).csv(str(base / "docs_csv"))
        assert jback.count() == n and cback.count() == n
        assert set(jback.columns) == set(flat.columns)
        got = {r["url"]: r["content_hash"] for r in jback.collect()}
        want = {r["url"]: r["content_hash"] for r in flat.collect()}
        assert got == want

    def test_nested_entities_survive_json(self, spark, documents_df, tmp_path_factory):
        base = tmp_path_factory.mktemp("exports_nested")
        sel = documents_df.select("url", "entities").where(F.col("entity_count") > 0)
        sel.write.mode("overwrite").json(str(base / "ents"))
        back = spark.read.json(str(base / "ents"))
        row = back.where(F.size("entities") > 0).first()
        e = row["entities"][0]
        assert e["text"] and e["entity_type"] and e["end"] > e["start"]


class TestCliEntry:
    def test_run_extraction_cli_and_resume(self, tmp_path_factory):
        """scripts/run_extraction.py end-to-end in a subprocess (the
        spark-submit analog), then a second run that must skip every
        committed bucket via the lineage manifest."""
        import re
        import subprocess
        import sys

        out_dir = str(tmp_path_factory.mktemp("cli") / "out")
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        cmd = [sys.executable, "scripts/run_extraction.py", "--synthetic", "200",
               "--output", out_dir, "--buckets", "8"]
        r1 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                            cwd=os.path.dirname(os.path.dirname(
                                os.path.abspath(__file__))))
        assert r1.returncode == 0, r1.stderr[-2000:]
        m1 = re.search(r"processed=(\d+) skipped=(\d+)", r1.stdout)
        assert m1 and m1.group(1) == "8" and m1.group(2) == "0", r1.stdout[-800:]

        r2 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                            cwd=os.path.dirname(os.path.dirname(
                                os.path.abspath(__file__))))
        assert r2.returncode == 0, r2.stderr[-2000:]
        m2 = re.search(r"processed=(\d+) skipped=(\d+)", r2.stdout)
        assert m2 and m2.group(1) == "0" and m2.group(2) == "8", r2.stdout[-800:]


class TestImportOrder:
    def test_queries_ext_importable_first(self):
        """Importing queries_ext before queries must not crash (the
        circular-import guard) and must still register every EXT query."""
        import subprocess
        import sys

        code = (
            "from medical_vector_database_ocr_ner_spark.plans.queries_ext "
            "import EXT_QUERIES\n"
            "from medical_vector_database_ocr_ner_spark.plans.queries "
            "import QUERIES\n"
            "assert set(EXT_QUERIES) <= set(QUERIES), "
            "sorted(set(EXT_QUERIES) - set(QUERIES))\n"
            "print('ok', len(QUERIES))\n"
        )
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 0, r.stderr[-1500:]
        assert r.stdout.startswith("ok")


class TestSaltedJoin:
    def test_matches_plain_join_under_extreme_skew(self, spark):
        """90% of big-side rows share one key; the salted join must return
        row-identical results to the plain join while spreading the hot
        key across partitions."""
        from medical_vector_database_ocr_ner_spark.operators.skewjoin import (
            salted_join,
        )

        big = spark.createDataFrame(
            [(i, "hot" if i % 10 != 0 else f"k{i}", i * 1.5) for i in range(2000)],
            "row_id long, key string, v double",
        )
        small = spark.createDataFrame(
            [("hot", "H"), ("k0", "A"), ("k10", "B"), ("k30", "C")],
            "key string, label string",
        )

        got = salted_join(big, small, on="key", n_salts=8)
        want = big.join(small, "key")
        assert got.count() == want.count()
        gset = {(r["row_id"], r["label"]) for r in got.collect()}
        wset = {(r["row_id"], r["label"]) for r in want.collect()}
        assert gset == wset

        # hot-key rows really are spread: >1 distinct salt partition
        from pyspark.sql import functions as F2
        n_salts_used = (
            big.withColumn(
                "_salt",
                F2.pmod(F2.xxhash64(*[F2.col(c) for c in big.columns]), F2.lit(8)),
            )
            .where(F2.col("key") == "hot")
            .select("_salt").distinct().count()
        )
        assert n_salts_used == 8

    def test_left_join_preserves_unmatched(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.skewjoin import (
            salted_join,
        )

        big = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "zzz")], "row_id long, key string"
        )
        small = spark.createDataFrame([("a", 10), ("b", 20)], "key string, x long")
        got = {r["row_id"]: r["x"] for r in
               salted_join(big, small, on="key", n_salts=4, how="left").collect()}
        assert got == {1: 10, 2: 20, 3: None}


class TestMergeUpsert:
    def test_upsert_rewrites_only_affected_buckets(self, spark, tmp_path_factory):
        """MERGE semantics over the bucketed parquet layout: updated keys
        replaced, new keys inserted, and buckets without affected keys are
        not touched on disk (mtime-proven pruning)."""
        from medical_vector_database_ocr_ner_spark.sources.merge import (
            merge_upsert,
            read_merge_table,
            write_merge_table,
        )

        path = str(tmp_path_factory.mktemp("merge") / "tbl")
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(1000)], "key long, val string"
        )
        write_merge_table(base, path, "key", n_buckets=8)

        before = {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path) if d.startswith("bucket=")
        }

        updates = spark.createDataFrame(
            [(3, "NEW3"), (700, "NEW700"), (1500, "INS1500")],
            "key long, val string",
        )
        res = merge_upsert(spark, path, updates, "key", n_buckets=8)
        assert res["n_upserts"] == 3 and 1 <= len(res["touched_buckets"]) <= 3

        after = read_merge_table(spark, path)
        assert after.count() == 1001  # 1000 - 0 deleted + 1 new key
        got = {r["key"]: r["val"] for r in after.where(
            F.col("key").isin(3, 700, 1500, 5)).collect()}
        assert got == {3: "NEW3", 700: "NEW700", 1500: "INS1500", 5: "v5"}

        untouched = [d for d in before
                     if int(d.split("=")[1]) not in res["touched_buckets"]]
        assert untouched, "some buckets must be untouched"
        for d in untouched:
            assert os.path.getmtime(os.path.join(path, d)) == before[d], d

    def test_delete_removes_keys_bucket_pruned(self, spark, tmp_path_factory):
        from medical_vector_database_ocr_ner_spark.sources.merge import (
            merge_delete,
            read_merge_table,
            write_merge_table,
        )

        path = str(tmp_path_factory.mktemp("merge_del") / "tbl")
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(500)], "key long, val string"
        )
        write_merge_table(base, path, "key", n_buckets=8)
        before = {
            d: os.path.getmtime(os.path.join(path, d))
            for d in os.listdir(path) if d.startswith("bucket=")
        }

        keys = spark.createDataFrame([(10,), (250,), (9999,)], "key long")
        res = merge_delete(spark, path, keys, "key", n_buckets=8)
        assert res["n_delete_keys"] == 3

        after = read_merge_table(spark, path)
        assert after.count() == 498  # 9999 never existed
        assert after.where(F.col("key").isin(10, 250)).count() == 0
        assert after.where(F.col("key") == 11).count() == 1

        untouched = [d for d in before
                     if int(d.split("=")[1]) not in res["touched_buckets"]]
        for d in untouched:
            assert os.path.getmtime(os.path.join(path, d)) == before[d], d


class TestSearchByEntities:
    def test_equals_search_with_joined_text(self, spark, documents_df):
        """search_by_entities == search_topk on the space-joined entity
        texts (reference vector_service.py:166-181 semantics)."""
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings,
            search_by_entities,
            search_topk,
        )

        emb = build_embeddings(documents_df)
        ents = ["Metformin", "diabetes"]
        a = search_by_entities(emb, ents, k=5).collect()
        b = search_topk(emb, "Metformin diabetes", k=5).collect()
        assert [(r["vec_id"], r["similarity"]) for r in a] == [
            (r["vec_id"], r["similarity"]) for r in b
        ]
        assert len(a) == 5


class TestReviewFixes:
    def test_salted_join_rejects_right_full(self, spark):
        import pytest

        from medical_vector_database_ocr_ner_spark.operators.skewjoin import (
            salted_join,
        )

        big = spark.createDataFrame([(1, "a")], "row_id long, key string")
        small = spark.createDataFrame([("a", 1)], "key string, x long")
        for how in ("right", "full", "right_outer"):
            with pytest.raises(ValueError):
                salted_join(big, small, on="key", how=how)

    def test_merge_upsert_rejects_duplicate_keys(self, spark, tmp_path_factory):
        import pytest

        from medical_vector_database_ocr_ner_spark.sources.merge import (
            merge_upsert,
            write_merge_table,
        )

        path = str(tmp_path_factory.mktemp("merge_dup") / "tbl")
        write_merge_table(
            spark.createDataFrame([(1, "a")], "key long, val string"),
            path, "key", n_buckets=2,
        )
        dup = spark.createDataFrame(
            [(3, "A"), (3, "B")], "key long, val string"
        )
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_upsert(spark, path, dup, "key", n_buckets=2)

    def test_asof_map_payload_does_not_crash(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", _ts("2024-01-01 10:00:00"))],
            "click_id long, user string, ts timestamp",
        )
        right = spark.createDataFrame(
            [("u", _ts("2024-01-01 09:00:00"), {"a": "1"})],
            "user string, ts timestamp, attrs map<string,string>",
        )
        out = asof_join(left, right, on="user", right_cols=["attrs"]).collect()
        assert out[0]["asof_attrs"] == {"a": "1"}

    def test_session_late_straggler_does_not_corrupt_state(self, spark, tmp_path_factory):
        """A cross-drain event far OLDER than the open session becomes its
        own closed session; a mildly-late event merges without moving the
        session end backwards."""
        from datetime import datetime, timedelta

        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            run_sessionize,
        )

        base = tmp_path_factory.mktemp("sess_late")
        src, out, ckpt = str(base / "src"), str(base / "out"), str(base / "ckpt")
        t0 = datetime(2024, 1, 1, 9, 0, 0)
        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")

        def ev(eid, minutes, value):
            return (eid, t0 + timedelta(minutes=minutes), 1, "x", value, "{}")

        spark.createDataFrame([ev(1, 60, 1.0), ev(2, 70, 2.0)], schema) \
            .coalesce(1).write.mode("overwrite").parquet(src)
        run_sessionize(spark, src, ckpt, out).awaitTermination()

        # drain 2: one straggler from BEFORE the session (own session),
        # one mildly-late merge (65min), one closer far ahead
        spark.createDataFrame(
            [ev(3, 0, 3.0), ev(4, 65, 4.0), ev(5, 200, 5.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        run_sessionize(spark, src, ckpt, out).awaitTermination()

        rows = {(r["n_events"], r["sum_value"]):
                (r["session_start"], r["session_end"])
                for r in spark.read.parquet(out).collect()}
        assert (1, 3.0) in rows          # straggler closed alone
        assert (3, 7.0) in rows          # 60,70 + merged 65
        s, e = rows[(3, 7.0)]
        assert (e - s).total_seconds() == 600 and s.minute == 0


class TestCompaction:
    def test_compacts_small_files_preserving_rows(self, spark, tmp_path_factory):
        from medical_vector_database_ocr_ner_spark.sources.compact import (
            compact_dir,
        )

        path = str(tmp_path_factory.mktemp("compact") / "tbl")
        df = spark.createDataFrame([(i, f"v{i}") for i in range(5000)],
                                   "key long, val string")
        df.repartition(40).write.mode("overwrite").parquet(path)  # 40 shards

        before = {r["key"] for r in spark.read.parquet(path).collect()}
        res = compact_dir(spark, path, target_bytes=10 * 1024 * 1024)
        assert res["compacted"] and res["files_before"] >= 40
        assert res["files_after"] < res["files_before"]

        after_df = spark.read.parquet(path)
        assert {r["key"] for r in after_df.collect()} == before

    def test_noop_when_already_compact(self, spark, tmp_path_factory):
        from medical_vector_database_ocr_ner_spark.sources.compact import (
            compact_dir,
        )

        path = str(tmp_path_factory.mktemp("compact2") / "tbl")
        spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
        res = compact_dir(spark, path)
        assert not res["compacted"] and res["files_after"] == 1


class TestHostilePagesSparkPath:
    def test_hostile_payloads_quarantine_not_crash(self, spark):
        """Hostile payloads through the FULL extraction DAG: executables
        quarantine with a reject reason, pathological HTML (2000-deep
        nesting, non-UTF8 bytes, control chars, 50k tokens) extracts
        without crashing, and every emitted span indexes its text."""
        from datetime import datetime

        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )

        ts = datetime(2024, 1, 1)
        rows = [
            ("https://h.example/mz", ts, b"MZ\x90\x00payload", "", "en"),
            ("https://h.example/elf", ts, b"\x7fELF\x02\x01", "", "en"),
            ("https://h.example/deep", ts,
             b"<div>" * 2000
             + b"core content: Metformin 500mg prescribed twice daily for "
             + b"diabetes mellitus treatment and recovery"
             + b"</div>" * 2000,
             "", "en"),
            ("https://h.example/nonutf8", ts,
             b"<p>pre " + bytes(range(128, 256)) + b" post</p>", "", "en"),
            ("https://h.example/ctrl", ts,
             b"<p>a\x00b\x07c\x1fd normal text here</p>", "", "en"),
            ("https://h.example/huge", ts,
             b"<p>" + b"tok " * 50000 + b"</p>", "", "en"),
            ("https://h.example/empty", ts, b"", "", "en"),
            ("https://h.example/../evil", ts, b"<p>x</p>", "", "en"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, "
                  "lang string"
        )
        docs = extract_documents(pages).collect()
        assert len(docs) == len(rows)

        by_url = {r["url"].rsplit("/", 1)[-1]: r for r in docs}
        assert by_url["mz"]["status"] == "failed"
        assert "executable" in by_url["mz"]["error_message"]
        assert by_url["elf"]["status"] == "failed"
        assert by_url["evil"]["status"] == "failed"  # malicious url pattern

        deep = by_url["deep"]
        assert deep["status"] == "completed"
        assert "Metformin" in deep["extracted_text"]
        for r in docs:
            if r["status"] != "completed":
                continue
            text = r["extracted_text"]
            assert "\x00" not in text
            for e in r["entities"]:
                assert text[e["start"]:e["end"]] == e["text"], r["url"]


class TestMergeSwapAside:
    def test_crashed_swap_aside_invisible_to_readers(self, spark, tmp_path):
        """ADVICE r1: a crash between the second rename and the aside
        rmtree must not surface duplicate rows — the dot-prefixed aside
        name falls outside read_merge_table's 'bucket=*' glob."""
        import shutil

        from medical_vector_database_ocr_ner_spark.sources.merge import (
            read_merge_table, write_merge_table,
        )

        path = str(tmp_path / "mt")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(50)], "key int, val string"
        )
        write_merge_table(df, path, "key", n_buckets=4)
        before = read_merge_table(spark, path).count()
        assert before == 50

        # simulate the crash window: old bucket copy left aside on disk
        import os

        bucket = next(d for d in os.listdir(path) if d.startswith("bucket="))
        shutil.copytree(
            os.path.join(path, bucket),
            os.path.join(path, f".old-{bucket}-deadbeef"),
        )
        assert read_merge_table(spark, path).count() == 50  # no duplicates


class TestWebtextWave:
    """Round-3 webtext training-pipeline queries (gopher flags, chunk
    dedup, salted host stats, length outliers) — oracle-gated for values;
    these tests pin the operator-level properties the gate can't see."""

    def test_host_stats_salted_equals_direct_groupby(self, spark, pages_df):
        """The two-stage salted aggregation must be row-identical to the
        naive single groupBy on the skewed fixture."""
        from pyspark.sql import functions as F

        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_host_stats_salted,
        )

        host = F.regexp_extract("url", r"https?://([^/]+)/", 1)
        direct = (
            pages_df.groupBy(host.alias("host"))
            .agg(
                F.count("*").alias("n_pages"),
                F.sum(F.octet_length("html")).alias("total_html_bytes"),
                F.count_distinct("lang").alias("n_langs"),
            )
        )
        got = q_host_stats_salted(spark, "/root/testdata/sf0.001")
        want = {r["host"]: (r["n_pages"], r["total_html_bytes"], r["n_langs"])
                for r in direct.collect()}
        # fixture pages_df is the n=200 table; q uses sf0.001 → n=200 too
        res = {r["host"]: (r["n_pages"], r["total_html_bytes"], r["n_langs"])
               for r in got.collect()}
        assert res == want

    def test_chunk_dedup_flags_copied_docs(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_chunk_dedup_docs,
        )

        words = " ".join(f"w{i}" for i in range(32))  # 4 exact 8-word chunks
        rows = [
            (1, words, "en", "s", len(words)),
            (2, words, "en", "s", len(words)),          # full copy of 1
            (3, "totally different words here now", "en", "s", 33),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf_dir = str(tmp_path)
        df.write.parquet(f"{sf_dir}/documents.parquet")
        out = {r["doc_id"]: r for r in q_chunk_dedup_docs(spark, sf_dir).collect()}
        assert out[1]["n_chunks"] == 4 and out[1]["dup_frac"] == 1.0
        assert out[2]["dup_frac"] == 1.0
        assert out[3]["dup_chunks"] == 0 and out[3]["dup_frac"] == 0.0

    def test_gopher_flags_rejects_repetitive_doc(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_gopher_quality_flags,
        )

        good = " ".join(f"word{i % 37} token{i % 11}" for i in range(40))
        spam = " ".join("buy now" for _ in range(50))  # one dominant 2-gram
        short = "too short"
        rows = [
            (1, good, "en", "s", len(good)),
            (2, spam, "en", "s", len(spam)),
            (3, short, "en", "s", len(short)),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf_dir = str(tmp_path)
        df.write.parquet(f"{sf_dir}/documents.parquet")
        out = {r["doc_id"]: r for r in q_gopher_quality_flags(spark, sf_dir).collect()}
        assert out[1]["keep"] is True
        assert out[2]["keep"] is False          # top2_frac ≈ 0.5 > 0.2
        assert out[2]["top2_frac"] > 0.2
        assert out[3]["keep"] is False          # n_words below bound

    def test_decontamination_flags_shared_shingle(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_test_set_decontamination,
        )

        secret = "alpha beta gamma delta epsilon"  # the shared 5-gram
        rows = [
            (0, f"{secret} zeta eta theta", "en", "s", 40),       # test doc (0%97==0)
            (1, f"prefix words {secret} suffix words", "en", "s", 40),  # leaks
            (2, "completely clean training text with many words", "en", "s", 40),
            (3, "tiny", "en", "s", 4),                            # <5 words: never flagged
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf_dir = str(tmp_path)
        df.write.parquet(f"{sf_dir}/documents.parquet")
        out = {r["doc_id"]: r["contaminated"]
               for r in q_test_set_decontamination(spark, sf_dir).collect()}
        assert 0 not in out                  # test split excluded from output
        assert out == {1: True, 2: False, 3: False}

    def test_latest_snapshot_keeps_recrawl(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_latest_snapshot_per_url,
        )

        out = q_latest_snapshot_per_url(spark, "/root/testdata/sf0.001")
        rows = out.collect()
        # one row per url, and every url whose page number is %3==0 kept
        # the one-hour-later recrawl
        assert len(rows) == len({r["url"] for r in rows}) == 200
        import re

        def page_no(url):
            m = re.search(r"(\d+)$", url)
            return int(m.group(1)) if m else None  # some urls lack a suffix

        recrawled = [r for r in rows if r["lang"] == "recrawl"]
        assert recrawled and all(page_no(r["url"]) % 3 == 0 for r in recrawled)
        n_expected = sum(
            1 for r in rows
            if page_no(r["url"]) is not None and page_no(r["url"]) % 3 == 0
        )
        assert len(recrawled) == n_expected

    def test_rare_token_fraction_bounds(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_rare_token_fraction,
        )

        rows = q_rare_token_fraction(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 500
        assert all(0.0 <= r["rare_frac"] <= 1.0 for r in rows)
        assert all(r["rare_tokens"] <= r["n_tokens"] for r in rows)

    def test_page_triage_native_counts(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_page_triage_native,
        )

        rows = q_page_triage_native(spark, "/root/testdata/sf0.001").collect()
        # only '<'-prefixed (html) payloads are triaged; pdf/binary skip
        assert 0 < len(rows) < 200
        by_url = {r["url"]: r for r in rows}
        sample = by_url["https://host0.example/page/0"]
        # the generator's nav has 5 anchors + 3 aside links + footer links;
        # exact count is pinned by the oracle — here assert invariants
        assert sample["n_anchor"] >= 5 and sample["n_script"] >= 1
        for r in rows:
            assert 0 < r["text_chars"] < r["html_chars"]
            assert 0.0 < r["markup_frac"] < 1.0
            assert r["prose_keep"] == (r["text_chars"] >= 200)

    def test_url_canonical_collapses_variants(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_url_canonical_dupes,
        )

        rows = q_url_canonical_dupes(spark, "/root/testdata/sf0.001").collect()
        import re

        def page_no(u):
            m = re.search(r"(\d+)$", u)
            return int(m.group(1)) if m else None

        # every canonical key is lowercase-https with no query/fragment
        for r in rows:
            assert r["canon_url"].startswith("https://")
            assert "?" not in r["canon_url"] and "#" not in r["canon_url"]
        dupes = {r["canon_url"]: r["n_variants"] for r in rows
                 if r["n_variants"] > 1}
        assert dupes and all(v == 2 for v in dupes.values())
        assert all(
            page_no(u) is not None and page_no(u) % 5 == 0 for u in dupes
        )

    def test_pii_scrub_injects_and_redacts(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_pii_scrub_docs,
        )

        rows = q_pii_scrub_docs(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 500
        for r in rows:
            if r["doc_id"] % 7 == 0:
                # exactly one injected email + one injected phone found
                assert r["n_emails"] == 1 and r["n_phones"] == 1
            else:
                assert r["n_emails"] == 0 and r["n_phones"] == 0
            assert len(r["scrub_hash"]) == 32

    def test_pii_scrub_redaction_is_complete(self, spark):
        # drive the same expressions on a hostile literal frame: multiple
        # PII hits per row must ALL be redacted (replace-all semantics)
        from pyspark.sql import functions as F
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            PII_EMAIL_RE,
            PII_PHONE_RE,
        )

        df = spark.createDataFrame(
            [("a@b.co and c.d@e-f.org plus 555-0001 then 555-9999",)],
            ["text"],
        )
        out = df.select(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
                PII_PHONE_RE,
                "[PHONE]",
            ).alias("s")
        ).collect()[0]["s"]
        assert out == "[EMAIL] and [EMAIL] plus [PHONE] then [PHONE]"

    def test_boilerplate_strip_flags_injected_lines(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_boilerplate_line_strip,
        )

        rows = q_boilerplate_line_strip(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) == 500
        for r in rows:
            expected = (1 if r["doc_id"] % 3 == 0 else 0) + (
                1 if r["doc_id"] % 4 == 0 else 0
            )
            # organic 10-word chunks from the tiny fixture vocab can also
            # cross the 2%-of-docs threshold; injected footers are a floor
            assert r["n_boiler"] >= expected
            assert r["n_lines"] > r["n_boiler"]
            assert len(r["kept_hash"]) == 32

    def test_domain_blocklist_removes_every_13th_host(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_domain_blocklist_filter,
        )

        rows = q_domain_blocklist_filter(
            spark, "/root/testdata/sf0.001"
        ).collect()
        import re

        assert rows
        for r in rows:
            m = re.match(r"host(\d+)\.", r["host"])
            assert m and int(m.group(1)) % 13 != 0
            assert r["n_kept"] > 0

    def test_token_shard_packing_respects_budget(self, spark):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_token_shard_packing,
        )

        rows = q_token_shard_packing(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert sum(r["n_docs"] for r in rows) == 500
        by_bucket = {}
        for r in rows:
            assert 0 <= r["bucket"] < 32
            by_bucket.setdefault(r["bucket"], []).append(r)
        for bucket, shards in by_bucket.items():
            shards.sort(key=lambda r: r["local_shard"])
            # local shards are contiguous from 0
            assert [s["local_shard"] for s in shards] == list(
                range(len(shards))
            )
            # greedy start-offset rule: every shard except possibly the
            # bucket's last holds > budget - max_doc tokens, and none
            # exceeds budget by more than one document's tokens
            for s in shards[:-1]:
                assert s["shard_tokens"] > 4096 - 200
            for s in shards:
                assert s["shard_tokens"] <= 4096 + 200

