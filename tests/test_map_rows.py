"""``operators.extraction.map_rows``: the one mapInPandas stage that runs
every per-row Python pass (extraction, image and audio decode)."""

import importlib.util

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

MEDIA_DDL = ("media_id string, kind string, payload binary, "
             "meta struct<source_url: string, fetched_at: timestamp>")


def _make_counting_decoder_factory(path):
    """A closure factory (shipped by value) that records each call, then
    decodes every payload to fixed dimensions."""

    def factory():
        with open(path, "a") as f:
            f.write("init\n")
        return lambda payload: {"width": 1, "height": 2, "channels": 3}

    return factory


class TestMapRows:
    def test_pass_through_untouched_and_fields_in_schema_order(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            map_rows,
        )

        rows = [
            ("https://bücher.example/ä?q=日本", None, b"\x00\xff\x80binary", "é"),
            ("https://x.example/", None, b"", None),
            ("https://y.example/", None, None, "ok"),
        ]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, blob binary, note string"
        )
        # computed fields sit before, between and after the passed-through ones
        schema = StructType([
            StructField("n_bytes", IntegerType()),
            StructField("url", StringType()),
            StructField("tag", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("blob", BinaryType()),
            StructField("note", StringType()),
            StructField("state", StringType()),
        ])

        def row(state, blob, note):
            return len(blob or b""), f"{note}|{len(blob or b'')}", state

        out = map_rows(df, schema, ("blob", "note"), row, lambda: "s0")
        assert out.columns == schema.names
        got = sorted(tuple(r) for r in out.collect())
        want = sorted(
            (len(b or b""), u, f"{n}|{len(b or b'')}", None,
             None if b is None else bytearray(b), n, "s0")
            for u, _, b, n in rows
        )
        assert got == want

    def test_empty_input_gives_no_rows_with_document_schema(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.extraction import (
            DOCUMENT_SCHEMA, _extract_row, extract_documents, map_rows,
        )
        from medical_vector_database_ocr_ner_spark.core.models import DEFAULT_SEAM

        routed = spark.createDataFrame(
            [], "url string, warc_ts timestamp, lang string, kind string, "
                "html binary, reject_reason string",
        )
        out = map_rows(routed, DOCUMENT_SCHEMA, ("kind", "html", "reject_reason"),
                       _extract_row, DEFAULT_SEAM.resolve)
        assert out.schema == DOCUMENT_SCHEMA
        assert out.collect() == []

        pages = spark.createDataFrame(
            [], "url string, warc_ts timestamp, html binary, lang string"
        )
        assert extract_documents(pages, num_partitions=2).collect() == []

    def test_image_decoder_factory_once_per_partition(self, spark, tmp_path):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            image_features,
        )

        marker = tmp_path / "inits.log"
        media = spark.range(40, numPartitions=2).select(
            F.format_string("m%d", "id").alias("media_id"),
            F.lit("image").alias("kind"),
            F.lit(b"CUSTOM").alias("payload"),
            F.struct(F.lit("u").alias("source_url"),
                     F.lit(None).cast("timestamp").alias("fetched_at"))
            .alias("meta"),
        )
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        try:
            got = image_features(
                media, _make_counting_decoder_factory(str(marker))
            ).collect()
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

        assert {(r["width"], r["height"], r["channels"], r["n_bytes"])
                for r in got} == {(1, 2, 3, 6)}
        assert len(got) == 40
        # 2 partitions of 4 batches each: once per partition, not per batch
        assert marker.read_text().count("init") == 2

    def test_quarantine_rows_exact(self, spark):
        from medical_vector_database_ocr_ner_spark.operators.multimodal import (
            audio_features, image_features,
        )

        junk = b"\xff\xd8\xffnot really a jpeg"
        media = spark.createDataFrame(
            [("i1", "image", junk, ("u", None)),
             ("i2", "image", None, ("u", None)),
             ("a1", "audio", junk, ("u", None)),
             ("a2", "audio", None, ("u", None))],
            MEDIA_DDL,
        )
        image_error = (
            "NotImplementedError: undecodable image payload"
            if importlib.util.find_spec("PIL")
            else "NotImplementedError: image decode requires PIL (not in container)"
        )
        assert sorted(tuple(r) for r in image_features(media).collect()) == [
            ("i1", None, None, None, len(junk), image_error),
            ("i2", None, None, None, 0, image_error),
        ]
        audio_error = ("NotImplementedError: audio decode requires soundfile "
                       "(not in container)")
        assert sorted(tuple(r) for r in audio_features(media).collect()) == [
            ("a1", None, None, None, audio_error),
            ("a2", None, None, None, audio_error),
        ]

        def long_error_factory():
            def decode(payload):
                raise ValueError("x" * 600)
            return decode

        (row,) = image_features(media.where("media_id = 'i1'"),
                                long_error_factory).collect()
        assert row["error"] == ("ValueError: " + "x" * 600)[:500]
        assert row["n_bytes"] == len(junk)
