"""Replicates the driver's correctness gate: every queries() entry with an
oracle_sql() runs on Spark AND DuckDB at sf0.01; rows must match exactly
(order-insensitive, columns sorted by name) — the same comparison the
driver hashes into CORRECTNESS_r{N}.json."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module", autouse=True)
def restore_session_conf(spark):
    """The queries tune the shared session (``_tune``: AQE off, 16 shuffle
    partitions, UTC); restore it so later test files run under
    ``get_spark``'s settings whatever ran before them."""
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    # the driver canonicalizes at 6 decimals; 9 here made the
                    # test STRICTER than the gate it simulates and flaked when
                    # a Spark-vs-DuckDB float-sum-order difference (~1e-10)
                    # straddled a 9th-decimal rounding boundary (jaccard's
                    # adamic_adar sum, round-5 full-suite run)
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


def test_every_oracle_has_a_query():
    q = entrymod.queries()
    missing = [n for n in ORACLE_NAMES if n not in q]
    assert not missing


def test_registry_fits_driver_snapshot():
    """The driver's correctness snapshot records exactly the first 50
    registry entries (observed rounds 2-3). Keep the registry at <=50 so
    every registered query gets a CORRECTNESS row — if this fails, merge
    queries instead of dropping coverage (round-3 verdict task 2)."""
    assert len(entrymod.queries()) <= 50


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 20
    assert set(df.columns) == {"node", "rank"}


NO_ORACLE = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", NO_ORACLE)
def test_no_oracle_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0  # schema-stable, executable


def test_xxh64_matches_spark(spark):
    """The pure-Python XXH64 port (functions/xxh64.py) is bit-exact vs
    Spark's xxhash64 on the int/long paths the oracle replays rely on
    (LSH plane literals, generator draws)."""
    from pyspark.sql import functions as F

    from arkouda_njit_spark.functions.xxh64 import spark_xxhash64

    cases = [
        [("int", 3), ("int", 1), ("int", 42)],
        [("int", 0), ("int", 0), ("int", 1042)],
        [("int", -7), ("int", 5)],
        [("long", 123456789), ("int", 42)],
        [("long", -1), ("int", 42), ("int", 7)],
        [("long", 2**62), ("int", -3)],
        [("int", 63), ("int", 5), ("int", 3042)],
    ]

    def lit(kind, v):
        c = F.lit(v)
        return c.cast("long") if kind == "long" else c.cast("int")

    exprs = [
        F.xxhash64(*[lit(k, v) for k, v in fields]).alias(f"h{i}")
        for i, fields in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, fields in enumerate(cases):
        assert row[f"h{i}"] == spark_xxhash64(*fields), fields
