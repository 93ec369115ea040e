"""Reference dot product for the differential test of ``similarity.dot``.

This is the Column-lambda form the package used before ``dot`` rendered
SQL text: ``F.aggregate`` over ``F.zip_with`` with Python lambdas, and the
literal query vector built as ``F.array`` of one ``F.lit`` per element. It
is kept here, unchanged, as the oracle: ``similarity.dot`` of a
``vec_sql`` literal must give bit-identical scores (or the same null) for
every input.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_lit(vec_col, query_vec: list[float]):
    return dot(vec_col, F.array(*[F.lit(float(x)) for x in query_vec]))
