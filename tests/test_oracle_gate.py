"""Regression tests for the local oracle gate's typed-value check.

Round 3 shipped a driver hash-red row (q95) whose values were equal but
whose oracle returned DuckDB HUGEINT (int128) from an un-cast
SUM(BIGINT) window — invisible to the old stringifying comparator.
These tests pin the dtype gate that now catches that class locally.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))

from oracle_check import arrow_kind, dtype_problems, spark_kind  # noqa: E402


def _duck_schema(sql: str):
    return duckdb.connect().execute(sql).fetch_arrow_table().schema


def test_uncast_hugeint_oracle_is_flagged():
    # The exact pre-fix q95 shape: cumsum-derived integer division with no
    # cast -> HUGEINT, which the driver hashes differently from int64.
    sch = _duck_schema(
        "SELECT SUM(x) // 512 AS pack_id, SUM(x) % 512 AS pack_offset "
        "FROM (SELECT 1000::BIGINT AS x)"
    )
    probs = dtype_problems([("pack_id", "bigint"), ("pack_offset", "bigint")], sch)
    assert len(probs) == 2
    assert all("decimal" in p for p in probs)


def test_cast_bigint_oracle_is_clean():
    sch = _duck_schema(
        "SELECT CAST(SUM(x) // 512 AS BIGINT) AS pack_id "
        "FROM (SELECT 1000::BIGINT AS x)"
    )
    assert dtype_problems([("pack_id", "bigint")], sch) == []


def test_int_widths_hash_alike():
    # Spark int vs DuckDB BIGINT normalize to the same value under the
    # driver hash; the gate must not false-flag width-only differences.
    sch = _duck_schema("SELECT 1::BIGINT AS a, 2::INTEGER AS b")
    assert dtype_problems([("a", "int"), ("b", "bigint")], sch) == []


def test_float_vs_int_is_flagged():
    sch = _duck_schema("SELECT 1.5::DOUBLE AS a")
    assert dtype_problems([("a", "bigint")], sch) == [
        "dtype[a]: spark=bigint(int) duckdb=double(float)"
    ]


def test_kind_collapse_tables():
    assert spark_kind("decimal(38,0)") == "decimal"
    assert spark_kind("timestamp_ntz") == "datetime"
    assert spark_kind("array<bigint>") == "complex"
    import pyarrow as pa

    assert arrow_kind(pa.decimal128(38, 0)) == "decimal"
    assert arrow_kind(pa.large_string()) == "str"
    assert arrow_kind(pa.list_(pa.int64())) == "complex"
