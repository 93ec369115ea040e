"""Webtext wave V (round 5): driver-facing probe through the custom
Python DataSource, the IVF nprobe/recall sweep, the left-outer
stream-stream interval join, and the eviction-bound guard the round-4
VERDICT asked to make real (ADVICE r4: stream_join.py docstring claimed
a guard that did not exist; pygen rejected n=0 reads)."""

import datetime

import pytest

from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
    _PGP_N,
    _PGP_SEED,
    q_ivf_nprobe_sweep,
    q_pages_gen_probe,
)


class TestPagesGenProbe:
    def test_matches_pure_python_replay(self, spark):
        """The probe aggregate through the full DataSource machinery
        equals a no-Spark replay of the generator's pure row function —
        the same construction-spec idea the DuckDB oracle uses, checked
        here without the driver in the loop."""
        from medical_vector_database_ocr_ner_spark.sources.pygen import _row

        acc = {}
        for i in range(_PGP_N):
            url, _ts, html, lang = _row(_PGP_SEED, i)
            a = acc.setdefault(
                lang, {"n": 0, "hosts": set(), "b": 0, "min_url": url}
            )
            a["n"] += 1
            a["hosts"].add(url.split("/")[2])
            a["b"] += len(html)
            a["min_url"] = min(a["min_url"], url)

        rows = q_pages_gen_probe(spark, "unused-sf-dir").collect()
        got = {
            r["lang"]: (
                r["n_pages"], r["n_hosts"], r["sum_html_bytes"], r["min_url"]
            )
            for r in rows
        }
        assert got == {
            lang: (a["n"], len(a["hosts"]), a["b"], a["min_url"])
            for lang, a in acc.items()
        }
        assert sum(v[0] for v in got.values()) == _PGP_N

    def test_n_zero_read_is_valid_empty_relation(self, spark):
        """ADVICE r4 (pygen.py:85): partitions() returned [] for n=0 and
        the planner rejected the read. An n=0 read is a valid empty
        relation — schema intact, zero rows."""
        from medical_vector_database_ocr_ner_spark.sources.pygen import (
            register,
        )

        register(spark)
        df = (
            spark.read.format("pages_gen")
            .option("n", 0).option("numPartitions", 4).load()
        )
        assert [f.name for f in df.schema.fields] == [
            "url", "warc_ts", "html", "lang"
        ]
        assert df.count() == 0

    @pytest.mark.parametrize("n_parts", [0, -2])
    def test_non_positive_num_partitions_names_the_option(self, spark,
                                                          n_parts):
        """numPartitions <= 0 used to surface as a ZeroDivisionError from
        the ceil-div in partitions(); it must be a ValueError that names
        the option."""
        from medical_vector_database_ocr_ner_spark.sources.pygen import (
            register,
        )

        register(spark)
        df = (
            spark.read.format("pages_gen")
            .option("n", 10).option("numPartitions", n_parts).load()
        )
        with pytest.raises(Exception, match="numPartitions") as info:
            df.count()
        assert "ValueError" in str(info.value)


class TestIvfNprobeSweep:
    def test_recall_monotone_and_complete_at_full_probe(self, spark,
                                                        sf001_dir):
        """recall@10 is non-decreasing in nprobe, and nprobe=8 over an
        8-centroid index probes every partition, so it must recover the
        brute-force truth set exactly (recall 100%)."""
        rows = sorted(
            q_ivf_nprobe_sweep(spark, sf001_dir).collect(),
            key=lambda r: r["nprobe"],
        )
        assert [r["nprobe"] for r in rows] == [1, 2, 4, 8]
        recalls = [r["recall_pct"] for r in rows]
        assert all(a <= b for a, b in zip(recalls, recalls[1:]))
        assert rows[-1]["n_overlap"] == 10 and rows[-1]["recall_pct"] == 100
        assert all(r["k"] == 10 for r in rows)


class TestIntervalJoinOuter:
    SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")

    @staticmethod
    def _ev(i, user, minute, etype):
        return (
            i,
            datetime.datetime(2026, 1, 1, 0, 0) +
            datetime.timedelta(minutes=minute),
            user, etype, 1.0,
        )

    def _frame(self, spark):
        ev = self._ev
        # user 3's error at 40 has NO same-user event in [40, 50) other
        # than itself — with events restricted to clicks it is UNMATCHED
        rows = [ev(1, 1, 10, "error"), ev(2, 1, 9, "click"),
                ev(3, 1, 10, "click"), ev(4, 1, 19, "click"),
                ev(5, 1, 20, "click"), ev(6, 3, 40, "error"),
                ev(7, 2, 41, "click")]
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_batch_outer_emits_null_for_unmatched_error(self, spark):
        from medical_vector_database_ocr_ner_spark.streaming.stream_join import (
            interval_join, interval_join_outer,
        )

        df = self._frame(spark)
        errors = df.where("event_type = 'error'")
        clicks = df.where("event_type = 'click'")
        inner = {(r["err_id"], r["evt_id"])
                 for r in interval_join(errors, clicks).collect()}
        outer = [(r["err_id"], r["evt_id"])
                 for r in interval_join_outer(errors, clicks).collect()]
        # matched pairs identical to inner; error 6 appears exactly once
        # with a null event side
        assert {p for p in outer if p[1] is not None} == inner
        assert outer.count((6, None)) == 1
        assert (1, 3) in inner and (1, 4) in inner
        assert (1, 2) not in inner and (1, 5) not in inner

    def test_streaming_outer_plan_builds_with_watermarks(self, spark,
                                                         tmp_path):
        """Spark REJECTS an outer stream-stream join without watermarks
        + an event-time bound; asserting the streaming plan analyzes
        proves both are wired through the outer variant."""
        import os

        from medical_vector_database_ocr_ner_spark.streaming.stream_join import (
            interval_join_outer,
        )

        src = os.path.join(str(tmp_path), "sjo_src")
        self._frame(spark).coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(self.SCHEMA).parquet(src)
        j = interval_join_outer(
            stream.where("event_type = 'error'"),
            stream.where("event_type = 'click'"),
        )
        assert j.isStreaming
        # analysis succeeds (watermarks present on both sides) — an
        # unwatermarked outer join fails right here at plan time
        j._jdf.queryExecution().analyzed()

    def test_refuses_to_build_without_eviction_bound(self, spark):
        """ADVICE r4 (stream_join.py:17): the docstring promised a guard
        that did not exist. Now it does — empty window or watermark is a
        hard error on BOTH variants, batch and streaming alike."""
        from medical_vector_database_ocr_ner_spark.streaming.stream_join import (
            interval_join, interval_join_outer,
        )

        df = self._frame(spark)
        e, c = df.where("event_type='error'"), df
        for fn in (interval_join, interval_join_outer):
            with pytest.raises(ValueError, match="unbounded"):
                fn(e, c, window="")
            with pytest.raises(ValueError, match="never evicted"):
                fn(e, c, watermark="  ")


class TestStaleGreens:
    """tools/stale_greens.py — staleness is computed, not remembered
    (round-4 VERDICT #2)."""

    def test_stale_set_sits_in_driver_window(self):
        """Every registry entry whose current (source, oracle)
        fingerprint has no driver-green record must be inside the
        50-row driver window, so the next correctness run re-verifies
        it. This pins the rotation to the tool's output: editing a
        green query without rotating it in fails here."""
        import sys

        sys.path.insert(0, ".")
        from medical_vector_database_ocr_ner_spark.plans.queries import (
            DRIVER_PRIORITY,
        )
        from tools.stale_greens import fingerprints, load_record

        fps = fingerprints()
        rec = load_record()
        needs_row = {
            n for n in fps
            if n not in rec or rec[n]["hash"] != fps[n]
        }
        window = set(DRIVER_PRIORITY[:50])
        assert needs_row <= window, (
            f"stale/never-green entries outside the driver window: "
            f"{sorted(needs_row - window)}"
        )

    def test_fingerprint_is_path_independent(self):
        """The fingerprint must not move with the checkout location —
        golden-parquet oracles embed an absolute path at import time
        and the tool normalizes it."""
        from tools.stale_greens import fingerprints

        from medical_vector_database_ocr_ner_spark.plans.queries import (
            QUERIES,
        )

        fps = fingerprints()
        golden_backed = [
            n for n, s in QUERIES.items()
            if s.oracle and "read_parquet" in s.oracle
        ]
        assert golden_backed, "expected golden-parquet oracles"
        for n in golden_backed:
            assert "/root/repo" not in str(fps[n])  # hash, not a path


class TestSimhashProductionTune:
    """VERDICT r4 #5: the driver query proves the 16-bit/4-band PLAN; this
    measures the production tune — the widest 8-bit-banded shape the
    60-bit token hash supports (56-bit signatures, 7 bands x 8 bits) —
    on the 20k-page fixture, so the tuning claim is measured, not argued."""

    N_PAGES = 20_000
    BANDS, BAND_BITS = 7, 8

    def _occupancy(self, spark):
        """Bucket occupancy over the REAL pipeline input: the 20k-page
        fixture run through extract_documents (the pages table's raw
        `text` column is sparse by design — html is the payload), then
        56-bit simhash, then 8-bit banding. Returns (occupancy df,
        n_docs)."""
        from pyspark.sql import functions as F

        from medical_vector_database_ocr_ner_spark.operators.dedup import (
            simhash,
        )
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            extract_documents,
        )
        from medical_vector_database_ocr_ner_spark.sources.pages import (
            pages_path,
        )

        pages = spark.read.parquet(pages_path(self.N_PAGES))
        docs = (
            extract_documents(pages)
            .where("status = 'completed' AND extracted_text <> ''")
            .select("url", F.col("extracted_text").alias("text"))
        )
        sig = simhash(docs, "text", "url", bits=self.BANDS * self.BAND_BITS)
        banded = sig.select(
            "url",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {self.BANDS - 1}), b -> "
                    f"struct(cast(b as int) as band, (simhash div "
                    f"shiftleft(1L, b * {self.BAND_BITS})) % "
                    f"{1 << self.BAND_BITS} as bval))"
                )
            ).alias("bk"),
        ).select("bk.band", "bk.bval")
        return banded.groupBy("band", "bval").count(), docs.count()

    def test_occupancy_law_and_candidate_bound(self, spark):
        """Measured law (and the reason the old 'expected bucket
        occupancy O(1)' docstring claim was replaced): MEAN occupancy is
        n / 2^band_bits per band — O(1) needs band_bits ~ log2 n — and
        the MAX is far above the mean, because simhash bits on natural
        language are not uniform: common tokens dominate the sign votes,
        so high bands concentrate (measured here: the hottest bucket
        holds several percent of the corpus). The operative scale bound
        survives anyway — banded candidate pairs stay 1-2 orders of
        magnitude under all-pairs — but a production deployment needs a
        hot-bucket mitigation (cap + exact re-check or salting, as
        operators/dedup.py's embedding near-dup already does), not just
        wider bands. Manku et al. WWW'07 reach the same conclusion via
        permuted tables over sorted fingerprint blocks."""
        from pyspark.sql import functions as F

        occ, n_docs = self._occupancy(spark)
        occ = occ.cache()
        try:
            stats = occ.groupBy("band").agg(
                F.sum("count").alias("n"),
                F.count("*").alias("n_buckets"),
                F.max("count").alias("max_occ"),
                (F.sum("count") / F.count("*")).alias("mean_occ"),
            ).collect()
            expected_mean = n_docs / (1 << self.BAND_BITS)
            for r in stats:
                assert r["n"] == n_docs  # every doc in every band
                # mean within 2x of the uniform-hash expectation (some
                # buckets may be empty, pushing the mean up slightly)
                assert expected_mean <= r["mean_occ"] <= 2 * expected_mean
                # skew is REAL on natural language (see docstring) —
                # bound it loosely: no bucket may collect a majority
                assert r["max_occ"] <= 0.15 * n_docs, (
                    f"band {r['band']} max occupancy {r['max_occ']}"
                )
            # candidate pairs = sum_buckets C(occ,2), vs C(n,2) all-pairs.
            # RAW banding on natural language buys only ~8x (hot buckets
            # dominate the quadratic term); a hot-bucket cap of 200 —
            # members routed to a fallback (band-bit extension or exact
            # re-check, as the embedding near-dup operator does) — takes
            # the admitted share under 2%. Measured r5 at n=19,604:
            # raw 12.95%, cap200 1.48% with 179 hot buckets.
            all_pairs = n_docs * (n_docs - 1) / 2
            raw = occ.agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).collect()[0][0]
            assert raw < all_pairs / 5, (
                f"raw banding admits {raw:.0f} of {all_pairs:.0f} pairs"
            )
            capped = occ.where(F.col("count") <= 200).agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
            ).collect()[0][0]
            n_hot = occ.where(F.col("count") > 200).count()
            assert capped < all_pairs / 50, (
                f"capped banding admits {capped:.0f} of {all_pairs:.0f}"
            )
            print(f"\nproduction-tune occupancy (n={n_docs}, "
                  f"{self.BANDS}x{self.BAND_BITS}-bit bands): "
                  f"mean={stats[0]['mean_occ']:.1f} "
                  f"max={max(r['max_occ'] for r in stats)} "
                  f"raw candidates={raw:.0f} ({100*raw/all_pairs:.2f}%) "
                  f"cap200 candidates={capped:.0f} "
                  f"({100*capped/all_pairs:.2f}%, {n_hot} hot buckets)")
        finally:
            occ.unpersist()

    def test_plan_shape_no_nested_loop(self, spark):
        """The banding is a Generate over a literal array — the plan must
        carry no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
        plan = self._occupancy(spark)[0]._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Generate" in plan and "explode" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestWaveW:
    """Wave W invariants beyond the oracle hash: the outer rows really
    exercise null extension, and the hot-bucket split really shrinks the
    quadratic term."""

    def test_error_context_has_true_outer_rows(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_error_context_outer,
        )

        rows = q_error_context_outer(spark, sf001_dir).collect()
        zero = [r for r in rows if r["n_ctx"] == 0]
        assert zero, "fixture produced no context-free errors"
        assert all(r["first_ctx_ts"] is None for r in zero)
        matched = [r for r in rows if r["n_ctx"] > 0]
        assert all(r["first_ctx_ts"] <= r["last_ctx_ts"] for r in matched)

    def test_hot_bucket_split_shrinks_candidates(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            _HSB_CAP, q_simhash_hot_bucket_split,
        )

        rows = q_simhash_hot_bucket_split(spark, sf001_dir).collect()
        assert {r["band"] for r in rows} == {0, 1, 2, 3}
        assert any(r["n_hot"] > 0 for r in rows), "cap never triggered"
        for r in rows:
            assert r["cand_after"] <= r["cand_before"]
            assert r["max_occ_after"] <= r["max_occ_before"]
            if r["n_hot"]:
                assert r["cand_after"] < r["cand_before"]
            else:
                # nothing split => nothing may change
                assert r["max_occ_after"] == r["max_occ_before"]
                assert r["cand_after"] == r["cand_before"]
            assert r["n_hot"] <= r["n_buckets"]
        assert _HSB_CAP == 40  # oracle embeds the cap; move both together


class TestStaleGreensRecord:
    def test_record_then_check_roundtrip(self, tmp_path, monkeypatch):
        """record marks a green entry fresh at its CURRENT fingerprint;
        a red/no-oracle row is never recorded; check flips exactly when
        the record disagrees with the live fingerprint."""
        import json
        import sys

        sys.path.insert(0, ".")
        from tools import stale_greens as sg

        fps = sg.fingerprints()
        names = sorted(fps)[:3]
        correctness = {
            names[0]: {"rows_match": True, "schema_match": True,
                       "hash_match": True, "err": None},
            names[1]: {"rows_match": True, "schema_match": True,
                       "hash_match": False, "err": "hash_mismatch"},
            names[2]: {"rows_match": None, "schema_match": None,
                       "hash_match": None, "err": "no_oracle"},
        }
        cpath = tmp_path / "CORRECTNESS_r99.json"
        cpath.write_text(json.dumps(correctness))
        rpath = tmp_path / "green_hashes.json"
        monkeypatch.setattr(sg, "RECORD_PATH", str(rpath))
        # the dirty-tree refusal has its own tests below; this one is
        # about the record itself, whatever state the checkout is in
        monkeypatch.setattr(sg, "dirty_paths", lambda root=sg.REPO_ROOT: [])

        sg.cmd_record(99, str(cpath))
        rec = json.loads(rpath.read_text())
        assert set(rec) == {names[0]}          # only the green row
        assert rec[names[0]] == {"hash": fps[names[0]], "round": 99}

        # tamper the recorded hash -> the entry must flip to stale
        rec[names[0]]["hash"] = "0" * 16
        rpath.write_text(json.dumps(rec))
        stale = {n for n in fps
                 if n in json.loads(rpath.read_text())
                 and json.loads(rpath.read_text())[n]["hash"] != fps[n]}
        assert stale == {names[0]}


    def test_record_refuses_a_dirty_tree(self, tmp_path, monkeypatch):
        """A fingerprint taken while the package, tools/ or tests/ hold
        uncommitted edits would mark unverified code green: record must
        refuse, name the dirty paths and leave the record untouched."""
        import sys

        import pytest

        sys.path.insert(0, ".")
        from tools import stale_greens as sg

        rpath = tmp_path / "green_hashes.json"
        rpath.write_text("{}")
        monkeypatch.setattr(sg, "RECORD_PATH", str(rpath))
        monkeypatch.setattr(sg, "dirty_paths",
                            lambda root=sg.REPO_ROOT: ["tests/test_x.py"])
        with pytest.raises(SystemExit, match="tests/test_x.py"):
            sg.cmd_record(99, str(tmp_path / "unread.json"))
        assert rpath.read_text() == "{}"

    def test_dirty_paths_sees_only_the_guarded_trees(self, tmp_path):
        """Edits and untracked files under the package, tools/ or tests/
        count as dirty; edits elsewhere and to the record itself do not."""
        import subprocess
        import sys

        sys.path.insert(0, ".")
        from tools import stale_greens as sg

        def git(*args):
            subprocess.run(
                ["git", "-c", "user.name=t", "-c", "user.email=t@example.org",
                 "-c", "commit.gpgsign=false", *args],
                cwd=tmp_path, check=True, capture_output=True,
            )

        files = ["README.md", "tools/green_hashes.json", "tools/t.py",
                 "tests/test_t.py", *(f"{d}/m.py" for d in sg.GUARDED_DIRS)]
        for f in files:
            (tmp_path / f).parent.mkdir(parents=True, exist_ok=True)
            (tmp_path / f).write_text("x = 1\n")
        git("init", "-q")
        git("add", "-A")
        git("commit", "-q", "-m", "seed")
        assert sg.dirty_paths(str(tmp_path)) == []

        (tmp_path / "README.md").write_text("edited\n")
        (tmp_path / "tools/green_hashes.json").write_text("{}\n")
        assert sg.dirty_paths(str(tmp_path)) == []

        (tmp_path / "tests/test_t.py").write_text("x = 2\n")
        (tmp_path / "medical_vector_database_ocr_ner_spark/new.py").write_text("")
        assert sorted(sg.dirty_paths(str(tmp_path))) == [
            "medical_vector_database_ocr_ner_spark/new.py", "tests/test_t.py"]


class TestWaveX:
    """Wave X invariants beyond the oracle hash: the LSH s-curve must
    bend the right way, and the mix-shift arithmetic must be exact."""

    def test_lsh_s_curve_bends_correctly(self, spark, sf001_dir):
        """or4 (4 bands x 1 row) dominates and4 (1 band x 4 rows) on
        recall and is dominated on precision — the defining property of
        banding; and4's candidate set is a subset of or4's, so its count
        can never exceed it."""
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_minhash_lsh_recall,
        )

        rows = {r["config"]: r
                for r in q_minhash_lsh_recall(spark, sf001_dir).collect()}
        assert set(rows) == {"and4", "or4"}
        a, o = rows["and4"], rows["or4"]
        assert a["n_truth"] == o["n_truth"] > 0
        assert a["n_cand"] <= o["n_cand"]
        assert a["n_hit"] <= o["n_hit"]
        assert o["recall_bp"] >= a["recall_bp"]
        if a["n_cand"] and o["n_cand"]:
            assert a["precision_bp"] >= o["precision_bp"]
        # hits can never exceed either side of the comparison
        for r in (a, o):
            assert r["n_hit"] <= r["n_truth"]
            assert r["n_cand"] is None or r["n_hit"] <= r["n_cand"]

    @staticmethod
    def _scans_up_front(spark, monkeypatch, documents=None):
        """Resolve every table the registry reads BEFORE the measured
        block: spark.read.parquet infers the schema with a Spark job of
        its own, which is not the query's doing."""
        from medical_vector_database_ocr_ner_spark.plans import (
            queries,
            queries_ext,
        )

        read = queries._t
        cache = {}

        def cached(spark_, sf, name):
            if name == "documents" and documents is not None:
                return documents
            if (sf, name) not in cache:
                cache[(sf, name)] = read(spark_, sf, name)
            return cache[(sf, name)]

        monkeypatch.setattr(queries, "_t", cached)
        monkeypatch.setattr(queries_ext, "_t", cached)
        return cached

    def test_lsh_recall_builds_without_a_job(self, spark, sf001_dir,
                                            monkeypatch):
        """minhash_lsh_recall is one lazy plan: building it launches no
        Spark job (it used to run five driver-side counts and rebuild
        the table with createDataFrame)."""
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_minhash_lsh_recall,
        )

        cached = self._scans_up_front(spark, monkeypatch)
        cached(spark, sf001_dir, "documents")
        sc = spark.sparkContext
        group = "lazy-minhash-lsh-recall"
        sc.setJobGroup(group, "plan build only")
        try:
            df = q_minhash_lsh_recall(spark, sf001_dir)
            launched = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert launched == []
        assert {r["config"] for r in df.collect()} == {"and4", "or4"}

    def test_lsh_recall_reports_empty_candidate_sets(self, spark,
                                                     monkeypatch):
        """With no near-duplicate pairs both configs still report, with
        zero counts and null ratios where the denominator is zero."""
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_minhash_lsh_recall,
        )

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
            "doc_id bigint, text string",
        )
        self._scans_up_front(spark, monkeypatch, documents=docs)
        rows = {r["config"]: r.asDict()
                for r in q_minhash_lsh_recall(spark, "unused").collect()}
        assert set(rows) == {"and4", "or4"}
        for r in rows.values():
            assert (r["n_truth"], r["n_cand"], r["n_hit"]) == (0, 0, 0)
            assert r["recall_bp"] is None and r["precision_bp"] is None

    def test_host_mix_shift_arithmetic(self, spark, sf001_dir):
        from medical_vector_database_ocr_ner_spark.plans.queries_ext import (
            q_host_mix_shift,
        )

        rows = q_host_mix_shift(spark, sf001_dir).collect()
        assert 0 < len(rows) <= 20
        deltas = [abs(r["delta_bp"]) for r in rows]
        assert deltas == sorted(deltas, reverse=True)  # ordered panel
        for r in rows:
            assert r["delta_bp"] == r["share_b_bp"] - r["share_a_bp"]
            assert 0 <= r["share_a_bp"] <= 10000
            assert 0 <= r["share_b_bp"] <= 10000
            assert r["n_a"] > 0 or r["n_b"] > 0
