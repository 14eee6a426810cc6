"""Scalar-function semantics, incl. the reference's Q1-Q3/Q6 corners
(SURVEY.md §1.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions import scalars


def test_count_if_counts_true_rows_only(spark):
    """Q3: reference's count(bool) counts non-nulls; ours counts trues."""
    df = spark.createDataFrame([(1,), (5,), (None,), (10,)], "x int")
    row = df.agg(
        scalars.count_if(F.col("x") > 4).alias("n"),
        F.count(F.col("x") > 4).alias("ref_buggy"),
    ).head()
    assert row["n"] == 2
    assert row["ref_buggy"] == 3  # documents the bug we fixed


def test_clean_email(spark):
    df = spark.createDataFrame([("  User.duplicate@EXAMPLE.com ",)], "e string")
    assert df.select(scalars.clean_email(F.col("e")).alias("c")).head()["c"] == "user@example.com"


def test_clean_phone_q6_semantics(spark):
    """Q6: strips non-digits, drops leading 1, wraps 10 digits in parens."""
    df = spark.createDataFrame(
        [("+1 (555) 123-4567",), ("555.123.4567",), ("12345",)], "p string"
    )
    out = [r["c"] for r in df.select(scalars.clean_phone(F.col("p")).alias("c")).collect()]
    assert out == ["(5551234567)", "(5551234567)", "12345"]


def test_standardize_state(spark):
    df = spark.createDataFrame([("california",), ("TX",), ("WA",)], "s string")
    out = [r["c"] for r in df.select(scalars.standardize_state(F.col("s")).alias("c")).collect()]
    assert out == ["CA", "TX", "WA"]


def test_uniform_deterministic_and_in_range(spark):
    df = spark.range(1000).select(scalars.uniform("tag", F.col("id")).alias("u"))
    rows = df.agg(
        F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("mean")
    ).head()
    assert 0.0 <= rows["lo"] and rows["hi"] < 1.0
    assert 0.4 < rows["mean"] < 0.6  # roughly uniform
    # Stable under repartitioning (unlike F.rand(seed)).
    a = sorted(r["u"] for r in df.collect())
    b = sorted(
        r["u"]
        for r in spark.range(1000)
        .repartition(7)
        .select(scalars.uniform("tag", F.col("id")).alias("u"))
        .collect()
    )
    assert a == b


def test_uuid_and_monotonic_ids(spark):
    """H2 surface (CM:48-49): uuid() for event/session ids. The engine
    exposes it as-is (nondeterministic — the medallion generator uses
    sha2-derived ids instead so the oracle can match, SURVEY.md §7.1)."""
    from pyspark.sql import functions as F

    rows = (
        spark.range(1000)
        .select(F.expr("uuid()").alias("u"), F.monotonically_increasing_id().alias("m"))
        .collect()
    )
    assert len({r["u"] for r in rows}) == 1000
    assert len({r["m"] for r in rows}) == 1000


def test_string_fns_without_duckdb_counterpart(spark):
    """overlay / initcap / soundex exist in Spark but not DuckDB, so the
    q112 oracle can't cover them — pin their semantics here."""
    from pyspark.sql import functions as F

    r = spark.sql(
        "SELECT overlay('hello' PLACING 'XX' FROM 2) AS o,"
        "       initcap('heLLo woRLD') AS i,"
        "       soundex('Robert') AS s1, soundex('Rupert') AS s2"
    ).head()
    assert r["o"] == "hXXlo"
    assert r["i"] == "Hello World"
    assert r["s1"] == "R163" and r["s1"] == r["s2"]  # classic soundex pair


def test_floor_round_midpoints_match_duckdb(spark):
    """floor_round is the rounding rule every oracled score relies on:
    on positive and negative halves it must equal DuckDB's spelling of
    the same op chain (queries.S_FLOOR) bit-for-bit — Spark's HALF_UP
    round() does not (it rounds -0.0000005 away from zero)."""
    import duckdb

    from spark_lakehouse_medallion_pipeline_spark.queries import S_FLOOR

    xs = [5e-7, -5e-7, 1.2345665, -1.2345665, 1.5e-6, -1.5e-6, 0.1234565, 2.0000005, 0.0]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    got = [
        r["r"]
        for r in df.orderBy("i").select(scalars.floor_round(F.col("x"), 6).alias("r")).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(xs)))
    want = [r[0] for r in con.sql(f"SELECT {S_FLOOR('x', 6)} FROM t ORDER BY i").fetchall()]
    assert [x.hex() for x in got] == [x.hex() for x in want]
    assert got[1] == 0.0 and got[0] == 1e-6
    half_up = df.filter(F.col("i") == 1).select(F.round("x", 6).alias("r")).head()["r"]
    assert half_up == -1e-6
