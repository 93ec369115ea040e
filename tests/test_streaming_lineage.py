"""Streaming (ST1/ST4) and lineage/resume (north_rule) tests."""

import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tmpdir_clean(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _make_requests(spark, out_dir):
    """FIXTURES.md §5: few clients, one exceeding the per-minute limit."""
    rows = []
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1, 12, 0, 0)
    for i in range(120):  # hot client: 120 req in minute 0 → over 60/min
        rows.append(("hot", base + timedelta(seconds=i % 60, microseconds=i), "search"))
    for i in range(30):  # calm client: spread over 30 minutes
        rows.append(("calm", base + timedelta(minutes=i), "upload"))
    df = spark.createDataFrame(rows, "client_id string, ts timestamp, endpoint string")
    df.repartition(2).write.mode("overwrite").parquet(out_dir)
    return df


class TestRateLimit:
    def test_batch_windows(self, spark, tmpdir_clean):
        from medical_vector_database_ocr_ner_spark.streaming.rate_limit import (
            rate_limit_windows,
        )

        src = os.path.join(tmpdir_clean, "req")
        df = _make_requests(spark, src)
        minute, hour = rate_limit_windows(df)
        m = {(r["client_id"], str(r["window_start"])): r for r in minute.collect()}
        hot = [v for (c, _), v in m.items() if c == "hot"]
        assert len(hot) == 1 and hot[0]["n_requests"] == 120 and hot[0]["over_limit"]
        calm = [v for (c, _), v in m.items() if c == "calm"]
        assert len(calm) == 30 and all(not v["over_limit"] for v in calm)
        h = {r["client_id"]: r for r in hour.collect()}
        assert h["hot"]["n_requests"] == 120 and not h["hot"]["over_limit"]

    def test_streaming_matches_batch(self, spark, tmpdir_clean):
        """Append-mode windows emit only once the watermark passes them —
        exactly the reference's 2h-purge semantics. Drive it: drain the real
        requests, then drain a late sentinel 3h ahead that pushes the
        watermark past every real window."""
        from datetime import datetime

        from medical_vector_database_ocr_ner_spark.streaming.rate_limit import (
            rate_limit_windows, run_rate_limit_stream,
        )

        src = os.path.join(tmpdir_clean, "req")
        ckpt = os.path.join(tmpdir_clean, "ckpt")
        out = os.path.join(tmpdir_clean, "out")
        df = _make_requests(spark, src)

        q = run_rate_limit_stream(spark, src, ckpt, out)
        q.awaitTermination(120)
        # nothing finalized yet: watermark hasn't passed any window
        # (state still held, matching the not-yet-purged dict entries)
        sentinel = spark.createDataFrame(
            [("flusher", datetime(2024, 1, 1, 16, 0, 0), "stats")],
            "client_id string, ts timestamp, endpoint string",
        )
        sentinel.write.mode("append").parquet(src)
        q2 = run_rate_limit_stream(spark, src, ckpt, out)
        q2.awaitTermination(120)

        got = spark.read.parquet(out).where("client_id != 'flusher'")
        want, _ = rate_limit_windows(df)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestIncrementalIngest:
    def test_ingest_then_idempotent_reingest(self, spark, tmpdir_clean, pages_parquet):
        from medical_vector_database_ocr_ner_spark.streaming.ingest import (
            incremental_ingest,
        )

        src = os.path.join(tmpdir_clean, "pages")
        os.makedirs(src)
        for f in os.listdir(pages_parquet):
            shutil.copy(os.path.join(pages_parquet, f),
                        os.path.join(src, "a-" + f))
        out = os.path.join(tmpdir_clean, "out")
        ckpt = os.path.join(tmpdir_clean, "ckpt")

        q = incremental_ingest(spark, src, out, ckpt)
        q.awaitTermination(300)
        docs1 = spark.read.parquet(os.path.join(out, "documents"))
        emb1 = spark.read.parquet(os.path.join(out, "embeddings"))
        n_docs1, n_emb1 = docs1.count(), emb1.count()
        assert n_docs1 == 200
        assert n_emb1 == emb1.select("vec_id").distinct().count()

        # drop the SAME files again under new names: checkpointed source sees
        # new files, but the content-hash upsert must add zero embeddings
        for f in os.listdir(pages_parquet):
            shutil.copy(os.path.join(pages_parquet, f),
                        os.path.join(src, "b-" + f))
        q2 = incremental_ingest(spark, src, out, ckpt)
        q2.awaitTermination(300)
        emb2 = spark.read.parquet(os.path.join(out, "embeddings"))
        assert emb2.count() == n_emb1  # no duplicate embeddings
        assert emb2.select("vec_id").distinct().count() == n_emb1
        docs2 = spark.read.parquet(os.path.join(out, "documents"))
        assert docs2.count() == 2 * n_docs1  # documents log is append-only


class TestLineageResume:
    def test_full_run_then_zero_recompute(self, spark, pages_df, tmpdir_clean):
        from medical_vector_database_ocr_ner_spark.plans.lineage import (
            read_documents, read_manifest, run_with_lineage,
        )

        out = os.path.join(tmpdir_clean, "lineage")
        r1 = run_with_lineage(spark, pages_df, out, n_buckets=16, run_id="r1")
        assert r1["processed_buckets"] > 0 and r1["skipped_buckets"] == 0
        docs1 = read_documents(spark, out)
        assert docs1.count() == 200

        # resume: everything committed → zero recompute (north_rule)
        r2 = run_with_lineage(spark, pages_df, out, n_buckets=16, run_id="r2")
        assert r2["processed_buckets"] == 0
        assert r2["skipped_buckets"] == r1["processed_buckets"]
        assert read_documents(spark, out).count() == 200
        m = read_manifest(spark, out + "/manifest")
        assert m.where(F.col("run_id") == "r2").count() == 0

    def test_partial_manifest_resumes_only_missing(self, spark, pages_df, tmpdir_clean):
        from medical_vector_database_ocr_ner_spark.plans.lineage import (
            read_documents, read_manifest, run_with_lineage,
        )

        out = os.path.join(tmpdir_clean, "lineage")
        run_with_lineage(spark, pages_df, out, n_buckets=16, run_id="r1")
        full = {r["url"]: r for r in read_documents(spark, out).collect()}
        manifest_dir = os.path.join(out, "manifest")

        # simulate a crash after half the buckets committed: rewrite the
        # manifest keeping only even buckets
        m = spark.read.parquet(manifest_dir).cache()
        m.count()
        kept = m.where(F.col("bucket") % 2 == 0)
        kept.write.mode("overwrite").parquet(os.path.join(out, "manifest2"))
        shutil.rmtree(manifest_dir)
        shutil.move(os.path.join(out, "manifest2"), manifest_dir)
        n_kept = kept.count()
        m.unpersist()

        r2 = run_with_lineage(spark, pages_df, out, n_buckets=16, run_id="r2")
        assert r2["skipped_buckets"] == n_kept
        assert r2["processed_buckets"] > 0

        # final output identical to the uninterrupted run (byte-level fields)
        docs2 = {r["url"]: r for r in read_documents(spark, out).collect()}
        assert set(docs2) == set(full)
        for url, row in docs2.items():
            assert row["extracted_text"] == full[url]["extracted_text"], url
            assert row["content_hash"] == full[url]["content_hash"], url
        # re-processed buckets carry r2 metrics; untouched keep r1
        m2 = read_manifest(spark, manifest_dir)
        assert m2.select("bucket").distinct().count() == 16
        assert m2.where(F.col("run_id") == "r2").count() == r2["processed_buckets"]

    def test_metrics_content(self, spark, pages_df, tmpdir_clean):
        from medical_vector_database_ocr_ner_spark.plans.lineage import (
            read_manifest, run_with_lineage,
        )

        out = os.path.join(tmpdir_clean, "lineage")
        run_with_lineage(spark, pages_df, out, n_buckets=8, run_id="r1")
        m = read_manifest(spark, out + "/manifest")
        rows = m.collect()
        assert sum(r["n_docs"] for r in rows) == 200
        assert all(r["n_ok"] + r["n_err"] == r["n_docs"] for r in rows)
        assert all(r["url_min"] <= r["url_max"] for r in rows)
        assert all(r["wall_ms"] >= 0 for r in rows)

    def test_run_leaves_session_overwrite_mode(self, spark, pages_df, tmpdir_clean):
        """The documents write asks for dynamic partition overwrite as a
        writer option: after a lineage run, a static-mode session's
        overwrite of a partitioned table still replaces every partition."""
        from medical_vector_database_ocr_ner_spark.plans.lineage import (
            run_with_lineage,
        )
        from medical_vector_database_ocr_ner_spark.sources.partitioned import (
            write_pages_partitioned,
        )

        key = "spark.sql.sources.partitionOverwriteMode"
        spark.conf.set(key, "static")
        try:
            run_with_lineage(spark, pages_df, os.path.join(tmpdir_clean, "lin"),
                             n_buckets=8)
            assert spark.conf.get(key) == "static"
            path = os.path.join(tmpdir_clean, "pages_by_date")
            write_pages_partitioned(pages_df, path)
            write_pages_partitioned(pages_df.orderBy("url").limit(10), path)
            assert spark.read.parquet(path).count() == 10
        finally:
            spark.conf.unset(key)


class TestStreamingDedup:
    def test_in_horizon_duplicates_dropped(self, spark, tmpdir_clean):
        """ST2 streaming form: the same payload re-crawled within the
        watermark horizon is dropped in-flight by
        dropDuplicatesWithinWatermark — one output row per distinct
        content hash, state bounded by the horizon."""
        from datetime import datetime, timedelta

        from medical_vector_database_ocr_ner_spark.streaming.dedup import (
            run_dedup_stream,
        )

        src = os.path.join(tmpdir_clean, "pages_src")
        out = os.path.join(tmpdir_clean, "deduped")
        ckpt = os.path.join(tmpdir_clean, "ckpt")

        base = datetime(2024, 1, 1, 12, 0, 0)
        payloads = [b"<p>alpha</p>", b"<p>beta</p>", b"<p>gamma</p>"]
        rows = []
        for i in range(9):  # each payload appears 3x within one hour
            rows.append(
                (
                    f"https://h{i}.example.com/p",
                    base + timedelta(minutes=7 * i),
                    payloads[i % 3],
                    "",
                    "en",
                )
            )
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        df.repartition(3).write.mode("overwrite").parquet(src)

        q = run_dedup_stream(spark, src, out, ckpt)
        q.awaitTermination()

        res = spark.read.parquet(out)
        hashes = [r["content_hash"] for r in res.collect()]
        assert len(hashes) == 3 and len(set(hashes)) == 3


class TestStatefulSessionization:
    def test_closed_sessions_and_checkpoint_recovery(self, spark, tmpdir_clean):
        """applyInPandasWithState sessionization: drain 1 emits exactly the
        sessions already closed by a later event; drain 2 (new files, same
        checkpoint) closes the previously-open sessions using RECOVERED
        state — the cross-restart statefulness the operator exists for."""
        from datetime import datetime, timedelta

        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            run_sessionize,
        )

        src = os.path.join(tmpdir_clean, "events_src")
        out = os.path.join(tmpdir_clean, "sessions")
        ckpt = os.path.join(tmpdir_clean, "ckpt")
        base = datetime(2024, 1, 1, 9, 0, 0)

        def ev(eid, user, minutes, value):
            return (eid, base + timedelta(minutes=minutes), user, "click",
                    value, "{}")

        schema = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        # user 1: session A (0,5,10min) then >30min gap → session B (50min)
        # user 2: one session only (0,3min) — must stay OPEN after drain 1
        batch1 = [ev(1, 1, 0, 1.0), ev(2, 1, 5, 2.0), ev(3, 1, 10, 3.0),
                  ev(4, 1, 50, 4.0), ev(5, 2, 0, 5.0), ev(6, 2, 3, 6.0)]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)

        q = run_sessionize(spark, src, ckpt, out)
        q.awaitTermination()
        got1 = {(r["user_id"], r["n_events"], r["sum_value"])
                for r in spark.read.parquet(out).collect()}
        assert got1 == {(1, 3, 6.0)}  # only user 1's session A closed

        # drain 2: a later event for each user closes the open sessions
        batch2 = [ev(7, 1, 100, 7.0), ev(8, 2, 100, 8.0)]
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append").parquet(src)
        q2 = run_sessionize(spark, src, ckpt, out)
        q2.awaitTermination()
        got2 = {(r["user_id"], r["n_events"], r["sum_value"])
                for r in spark.read.parquet(out).collect()}
        assert got2 == {(1, 3, 6.0), (1, 1, 4.0), (2, 2, 11.0)}

        # session boundaries are the event times, not clock grid
        rows = {(r["user_id"], r["n_events"]):
                (r["session_start"], r["session_end"])
                for r in spark.read.parquet(out).collect()}
        s, e = rows[(1, 3)]
        assert (e - s).total_seconds() == 600


class TestSessionTimeoutBranch:
    def test_timeout_flushes_open_session(self):
        """Continuous-mode branch (use_timeout=True): a timed-out group
        emits its open session exactly once and clears state — exercised
        directly since availableNow drains cannot fire processing-time
        timeouts without hanging the query."""
        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            _make_sessionize,
        )

        class StubState:
            def __init__(self, value):
                self._v = value
                self.removed = False
                self.updated = None

            @property
            def exists(self):
                return self._v is not None

            @property
            def get(self):
                return self._v

            @property
            def hasTimedOut(self):
                return True

            def remove(self):
                self.removed = True

            def update(self, v):
                self.updated = v

            def setTimeoutDuration(self, ms):
                raise AssertionError("must not re-arm a timed-out group")

        fn = _make_sessionize(use_timeout=True)
        st = StubState((1_700_000_000_000_000, 1_700_000_600_000_000, 3, 6.0))
        out = list(fn((7,), iter([]), st))
        assert st.removed and st.updated is None
        row = out[0].iloc[0]
        assert row["user_id"] == 7 and row["n_events"] == 3
        assert row["sum_value"] == 6.0
        assert (row["session_end"] - row["session_start"]).total_seconds() == 600

    def test_timeout_with_no_state_emits_nothing(self):
        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            _make_sessionize,
        )

        class EmptyState:
            exists = False
            get = None
            hasTimedOut = True

            def remove(self):
                pass

        fn = _make_sessionize(use_timeout=True)
        out = list(fn((7,), iter([]), EmptyState()))
        assert len(out[0]) == 0


class TestStragglerSessions:
    """ADVICE r1: several stragglers older than the recovered session but
    within the gap of EACH OTHER must close as one merged session (the
    lag-based batch analog), not one session per event."""

    class Stub:
        def __init__(self, value):
            self._v = value
            self.updated = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        hasTimedOut = False

        def update(self, v):
            self.updated = v

        def remove(self):
            raise AssertionError("must not remove on a data batch")

    @staticmethod
    def _batch(ts_us_values):
        import pandas as pd

        return iter([pd.DataFrame({
            "ts": pd.to_datetime([t * 1000 for t in ts_us_values]),
            "value": [float(i + 2) for i in range(len(ts_us_values))],
        })])

    T0 = 1_700_000_000_000_000
    MIN = 60 * 10**6

    def test_two_stragglers_merge_into_one_session(self):
        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            _make_sessionize,
        )

        fn = _make_sessionize(use_timeout=False)
        state = self.Stub((self.T0 + 100 * self.MIN,
                           self.T0 + 100 * self.MIN, 1, 1.0))
        out = list(fn((7,), self._batch(
            [self.T0, self.T0 + 5 * self.MIN]), state))
        closed = out[0]
        assert len(closed) == 1  # ONE 2-event session, not two singletons
        row = closed.iloc[0]
        assert row["n_events"] == 2 and row["sum_value"] == 5.0
        assert (row["session_end"] - row["session_start"]).total_seconds() \
            == 300
        # open 100-min session untouched
        assert state.updated == (self.T0 + 100 * self.MIN,
                                 self.T0 + 100 * self.MIN, 1, 1.0)

    def test_straggler_within_gap_of_open_session_extends_it(self):
        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            _make_sessionize,
        )

        fn = _make_sessionize(use_timeout=False)
        state = self.Stub((self.T0 + 100 * self.MIN,
                           self.T0 + 100 * self.MIN, 1, 1.0))
        # 0 and 5min merge and close; 75min is within the 30-min gap of the
        # open session's start → extends it downward (batch-analog split)
        out = list(fn((7,), self._batch(
            [self.T0, self.T0 + 5 * self.MIN, self.T0 + 75 * self.MIN]),
            state))
        closed = out[0]
        assert len(closed) == 1 and closed.iloc[0]["n_events"] == 2
        assert state.updated == (self.T0 + 75 * self.MIN,
                                 self.T0 + 100 * self.MIN, 2, 5.0)


class TestBuiltinSessionWindow:
    """The BUILT-IN session_window operator (streaming/session_window.py):
    three-way equivalence — built-in stream == built-in batch == the
    custom applyInPandasWithState sessionizer — on the same events."""

    SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")

    def _events(self, spark):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1, 9, 0, 0)

        def ev(eid, user, minutes, value):
            return (eid, base + timedelta(minutes=minutes), user, "click",
                    value)

        # user 1: session A (0,5,10) then >30min gap → session B (50)
        # user 2: one session (0,3)
        # user 3: two events EXACTLY 30min apart — the inclusive-boundary
        # case: one session, not two
        rows = [ev(1, 1, 0, 1.0), ev(2, 1, 5, 2.0), ev(3, 1, 10, 3.0),
                ev(4, 1, 50, 4.0), ev(5, 2, 0, 5.0), ev(6, 2, 3, 6.0),
                ev(7, 3, 0, 7.5), ev(8, 3, 30, 0.5)]
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_stream_matches_batch_matches_stateful(self, spark,
                                                   tmpdir_clean):
        from datetime import datetime

        from medical_vector_database_ocr_ner_spark.streaming.session_window import (
            run_session_window_stream, session_window_stats,
        )

        src = os.path.join(tmpdir_clean, "sw_src")
        out = os.path.join(tmpdir_clean, "sw_out")
        ckpt = os.path.join(tmpdir_clean, "sw_ckpt")
        df = self._events(spark)
        df.coalesce(1).write.mode("overwrite").parquet(src)

        q = run_session_window_stream(spark, src, ckpt, out)
        q.awaitTermination(120)
        # append-mode gate: nothing final until the watermark passes;
        # push it with a sentinel 10h ahead (rate_limit test pattern)
        sentinel = spark.createDataFrame(
            [(99, datetime(2024, 1, 1, 20, 0, 0), 999, "flush", 0.0)],
            self.SCHEMA,
        )
        sentinel.write.mode("append").parquet(src)
        q2 = run_session_window_stream(spark, src, ckpt, out)
        q2.awaitTermination(120)

        got = spark.read.parquet(out).where("user_id != 999")
        want = session_window_stats(df)
        key = ["user_id", "session_start", "session_last", "n_events",
               "sum_value_milli"]
        assert sorted(tuple(r[k] for k in key) for r in got.collect()) == \
            sorted(tuple(r[k] for k in key) for r in want.collect())

        # inclusive boundary: user 3's exact-gap pair is ONE session
        u3 = [r for r in want.collect() if r["user_id"] == 3]
        assert len(u3) == 1 and u3[0]["n_events"] == 2

        # custom stateful sessionizer agrees on every closed session
        # (it reports session_end == last event ts == session_last)
        from medical_vector_database_ocr_ner_spark.streaming.sessions import (
            run_sessionize,
        )

        src2 = os.path.join(tmpdir_clean, "st_src")
        out2 = os.path.join(tmpdir_clean, "st_out")
        ckpt2 = os.path.join(tmpdir_clean, "st_ckpt")
        schema6 = self.SCHEMA + ", props string"
        spark.createDataFrame(
            [tuple(r) + ("{}",) for r in self._events(spark).collect()]
            + [(99, datetime(2024, 1, 1, 20, 0, 0), 1, "flush", 0.0, "{}"),
               (100, datetime(2024, 1, 1, 20, 0, 0), 2, "flush", 0.0, "{}"),
               (101, datetime(2024, 1, 1, 20, 0, 0), 3, "flush", 0.0, "{}")],
            schema6,
        ).coalesce(1).write.mode("overwrite").parquet(src2)
        qs = run_sessionize(spark, src2, ckpt2, out2)
        qs.awaitTermination()
        stateful = {
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], int(r["sum_value"] * 1000))
            for r in spark.read.parquet(out2).collect()
        }
        builtin = {
            (r["user_id"], r["session_start"], r["session_last"],
             r["n_events"], r["sum_value_milli"])
            for r in want.collect()
        }
        assert builtin <= stateful  # every built-in session, same bounds


class TestStreamStreamIntervalJoin:
    """Watermarked stream-stream interval join (streaming/stream_join.py):
    stream == batch == python recount; inner matches are final on
    emission, no watermark flush needed."""

    SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")

    def _events(self, spark):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1, 9, 0, 0)

        def ev(eid, user, minutes, etype):
            return (eid, base + timedelta(minutes=minutes), user, etype,
                    0.0)

        # user 1: error at 10; clicks at 9 (before: OUT), 10 (boundary:
        # IN), 19 (IN), 20 (exactly +10min: OUT, half-open)
        # user 2: error at 0 with no clicks in range; click at 30 (OUT)
        # user 1: second error at 15 — overlapping windows both match 19
        rows = [ev(1, 1, 10, "error"), ev(2, 1, 9, "click"),
                ev(3, 1, 10, "click"), ev(4, 1, 19, "click"),
                ev(5, 1, 20, "click"), ev(6, 2, 0, "error"),
                ev(7, 2, 30, "click"), ev(8, 1, 15, "error")]
        return rows

    def test_stream_matches_batch_matches_recount(self, spark,
                                                  tmpdir_clean):
        from datetime import timedelta

        from medical_vector_database_ocr_ner_spark.streaming.stream_join import (
            interval_join, run_interval_join_stream,
        )

        rows = self._events(spark)
        src = os.path.join(tmpdir_clean, "sj_src")
        out = os.path.join(tmpdir_clean, "sj_out")
        ckpt = os.path.join(tmpdir_clean, "sj_ckpt")
        df = spark.createDataFrame(rows, self.SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(src)

        q = run_interval_join_stream(spark, src, ckpt, out)
        q.awaitTermination(120)
        got = {
            (r["err_id"], r["evt_id"])
            for r in spark.read.parquet(out).collect()
        }

        # python recount: the join semantics from first principles.
        # NOTE the error event itself is an event — it self-matches at
        # evt_ts == err_ts (the streaming dedup of self-matches is a
        # POLICY choice; the operator reports the raw interval join)
        expected = set()
        for eid, ets, eu, etype, _ in rows:
            if etype != "error":
                continue
            for cid, cts, cu, _, _ in rows:
                if cu == eu and ets <= cts < ets + timedelta(minutes=10):
                    expected.add((eid, cid))
        assert got == expected
        # the designed cases: boundary inclusion/exclusion + overlap
        assert (1, 3) in got and (1, 4) in got      # 10 and 19 in
        assert (1, 2) not in got and (1, 5) not in got  # 9 and 20 out
        assert (8, 4) in got                         # overlapping window
        assert not any(e == 6 and c == 7 for e, c in got)

        # batch twin: THE SAME function on static frames
        batch = interval_join(
            df.where("event_type = 'error'"), df
        )
        assert {
            (r["err_id"], r["evt_id"]) for r in batch.collect()
        } == expected

    def test_streaming_state_requires_interval_bound(self, spark):
        # the join condition carries the time bound — assert the
        # streaming plan builds (watermark + interval => bounded state);
        # an unbounded equality-only stream-stream join is the anti-
        # pattern this module's API shape prevents
        from medical_vector_database_ocr_ner_spark.streaming.stream_join import (
            interval_join,
        )

        # static-plan sanity only: the interval predicate is part of the
        # join condition (visible in the analyzed plan), not a post-filter
        df = spark.createDataFrame(self._events(spark), self.SCHEMA)
        j = interval_join(df.where("event_type='error'"), df)
        plan = j._jdf.queryExecution().analyzed().toString()
        assert "evt_ts" in plan and "err_ts" in plan
