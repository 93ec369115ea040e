"""Local stand-in for the driver's correctness gate: runs every
plans.queries entry on Spark AND its DuckDB oracle at sf0.01, compares
row-count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, ".")


def canon(v):
    """Bit-faithful canonicalization: floats keep full precision and their
    float-ness (3.0 != 3) so a DuckDB HUGEINT→float64 rendering can never
    silently match a Spark BIGINT — the round-1 driver/local divergence."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # +0.0 folds -0.0 into 0.0 (engines may
        # produce either sign from different summation orders; they
        # compare equal and must hash equal)
    if isinstance(v, int):
        return str(v)
    return str(v)


# coarse type classes: DuckDB HUGEINT (int128) gets its own class so the
# local gate flags what the driver's canonicalizer flags (VERDICT r1).
def duck_type_class(tname: str) -> str:
    t = tname.upper()
    if "HUGEINT" in t:
        return "int128"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        return "float" if t in ("FLOAT", "DOUBLE", "REAL") else "decimal"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "time"
    if t in ("VARCHAR", "TEXT"):
        return "str"
    return "other"


def spark_type_class(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s == "boolean":
        return "bool"
    if s.startswith("timestamp") or s == "date":
        return "time"
    if s == "string":
        return "str"
    return "other"


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), digest


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from medical_vector_database_ocr_ner_spark.plans.queries import QUERIES
    from medical_vector_database_ocr_ner_spark.session import get_spark

    # no console progress bar: it writes "[Stage N:>…]" and carriage
    # returns to stderr, which land inside the "ok" lines when stdout and
    # stderr share a file
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # The driver runs Spark 4's default ANSI-on session. The gate MUST run
    # the same config — round 3 shipped three CAST_INVALID_INPUT failures
    # because a non-ANSI builder session measured "97/97 green".
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    print(f"spark.sql.ansi.enabled = {ansi}")
    if ansi != "true":
        print("FAIL gate must run under ANSI mode (driver config)")
        sys.exit(1)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    unknown = only - set(QUERIES)
    if unknown:
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        sys.exit(1)

    failures = []
    n_run = 0
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sn, shash = table_hash(scols, srows)
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only {sn} rows ({time.time()-t0:.1f}s)")
            if sn == 0:
                failures.append(name)
                print(f"FAIL {name}: 0 rows on rows-only query")
            continue
        try:
            otypes = {
                r[0]: duck_type_class(r[1])
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM ({spec.oracle})"
                ).fetchall()
            }
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            on, ohash = table_hash(ocols, orows)
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        stypes = {f.name: spark_type_class(f.dataType) for f in sdf.schema.fields}
        type_mismatch = {
            c: (stypes.get(c), otypes.get(c))
            for c in set(stypes) | set(otypes)
            if stypes.get(c) != otypes.get(c)
        }
        status = "ok  "
        if sorted(scols) != sorted(ocols):
            status = "FAIL"
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(ocols)}")
        elif type_mismatch:
            status = "FAIL"
            print(f"FAIL {name}: type class mismatch (spark, duck): {type_mismatch}")
        elif (sn, shash) != (on, ohash):
            status = "FAIL"
            print(f"FAIL {name}: spark n={sn} h={shash}  duck n={on} h={ohash}")
            sset = set("\x1f".join(canon(v) for v in r) for r in srows)
            oset = set("\x1f".join(canon(v) for v in r) for r in orows)
            for d in list(sset - oset)[:3]:
                print("   spark-only:", d.replace("\x1f", " | ")[:160])
            for d in list(oset - sset)[:3]:
                print("   duck-only: ", d.replace("\x1f", " | ")[:160])
        if status == "FAIL":
            failures.append(name)
        else:
            print(f"ok   {name}: {sn} rows hash={shash} ({time.time()-t0:.1f}s)")

    skipped = len(QUERIES) - n_run
    tail = f" ({skipped} not selected)" if skipped else ""
    print(f"\n{n_run - len(set(failures))}/{n_run} queries match{tail}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
