"""functions/columns.url_host_col, url_page_no_col and url_page_id_col:
the url building blocks every crawl query in plans/queries_ext keys on."""

from __future__ import annotations

from pyspark.sql import functions as F

from medical_vector_database_ocr_ner_spark.functions.columns import (
    url_host_col,
    url_page_id_col,
    url_page_no_col,
)


def _one(spark, urls, col):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r[0] for r in df.select(col).collect()]


class TestUrlHost:
    def test_host_forms(self, spark):
        urls = [
            "https://host3.example/page/7",
            "https://host3.example",        # no path
            "http://host3.example/a/b",     # http scheme
            "host3.example/page/7",         # no scheme
            "ftp://host3.example/page/1",   # not http(s)
            "https://host3.example:8080/x?q=1",
        ]
        assert _one(spark, urls, url_host_col("url")) == [
            "host3.example",
            "host3.example",
            "host3.example",
            "",
            "",
            "host3.example:8080",
        ]

    def test_accepts_a_column(self, spark):
        got = _one(spark, ["https://h1.example/x"], url_host_col(F.col("url")))
        assert got == ["h1.example"]


class TestUrlPageNo:
    def test_trailing_digits(self, spark):
        urls = [
            "https://host3.example/page/42",
            "https://host3.example/page/007",
            "https://host3.example/doc/3.pdf",   # digits not at the end
            "https://host3.example/page/abc",    # non-numeric tail
            "https://host3.example",
        ]
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert _one(spark, urls, url_page_no_col("url")) == [
            42, 7, None, None, None
        ]

    def test_filters_without_raising_under_ansi(self, spark):
        """A NULL page number drops out of a modulo filter; it must not
        abort the query with CAST_INVALID_INPUT."""
        df = spark.createDataFrame(
            [(u,) for u in ("https://h.example/doc/9.pdf",
                            "https://h.example/page/x",
                            "https://h.example/page/9")],
            "url string",
        )
        kept = df.where(url_page_no_col("url") % 3 == 0).collect()
        assert [r["url"] for r in kept] == ["https://h.example/page/9"]


class TestUrlPageId:
    def test_digits_before_optional_pdf_suffix(self, spark):
        urls = [
            "https://host3.example/page/42",
            "https://host3.example/doc/3.pdf",   # a pdf keeps its page id
            "https://host3.example/doc/3.pdfx",  # not the .pdf suffix
            "https://host3.example/page/abc",
            "https://host3.example",
        ]
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert _one(spark, urls, url_page_id_col("url")) == [
            42, 3, None, None, None
        ]


class TestSameAsInlineForms:
    """The expressions the crawl queries inlined before the helpers
    existed give the same value on every url of the 2,000-page fixture and
    of the pages_gen probe's generator, so moving to the helpers leaves
    every oracle hash where it was."""

    def test_fixture_and_generator_urls(self, spark):
        from medical_vector_database_ocr_ner_spark.sources import pygen
        from medical_vector_database_ocr_ner_spark.sources.pages import (
            pages_path,
        )

        fixture = spark.read.parquet(pages_path(2000)).select("url")
        gen = spark.createDataFrame(
            [(pygen._row(42, i)[0],) for i in range(2000)], "url string"
        )
        urls = fixture.unionByName(gen)
        diff = urls.where(
            (url_host_col("url")
             != F.regexp_extract("url", r"^https?://([^/]+)", 1))
            | (url_host_col("url")
               != F.regexp_extract("url", r"https?://([^/]+)/", 1))
            | ~url_page_no_col("url").eqNullSafe(
                F.regexp_extract("url", r"([0-9]+)$", 1).try_cast("bigint")
            )
        )
        assert urls.count() == 4000
        assert diff.count() == 0
        # the fixture holds urls with and without a page number, so the
        # NULL branch is part of the comparison
        nulls = fixture.where(url_page_no_col("url").isNull()).count()
        assert 0 < nulls < 2000
