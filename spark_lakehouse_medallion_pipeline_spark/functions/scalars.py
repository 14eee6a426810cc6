"""Scalar-function layer (SURVEY.md §2a tables T/H/M/D, C1/C2).

Almost everything the reference uses is a built-in pyspark.sql.functions
call; the helpers here exist where the reference's *intended* semantics
differ from what it literally wrote (SURVEY.md §1.4 Q1-Q3), or where a
cleaning rule is reused across the medallion and the LLM-data operators.

All helpers are pure Column expressions — JVM-side, whole-stage-codegen
friendly, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def count_if(pred: Column) -> Column:
    """Conditional count with the reference's *intended* semantics.

    The reference writes ``count(col(x) > 0)`` (CM:389,395,396,401) which
    counts non-null evaluations, not true ones (SURVEY.md Q3). The intended
    aggregate is a predicate count; expressed as a sum-of-indicator so it
    stays a plain partial-aggregable expression (map-side combine works).
    """
    return F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0)))


def uniform(tag: str, *cols: Column) -> Column:
    """Deterministic pseudo-uniform double in [0, 1) derived from columns.

    Replaces the reference's ~30 ``rand()`` calls (CM:46-121) for the
    deterministic generator: ``xxhash64`` of the key columns plus a
    distinct tag gives an i.i.d.-enough stream per tag that is stable
    under any partitioning / parallelism — unlike F.rand(seed), which
    changes with partition layout. Pure JVM expression.
    """
    h = F.xxhash64(F.lit(tag), *cols)
    # Map int64 -> [0,1): shift into non-negative space then scale.
    return (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)


def floor_round(col: Column, k: int) -> Column:
    """FLOOR(x*10^k + 0.5)/10^k — the cross-engine-stable round every
    oracled score uses. Spark round() is BigDecimal HALF_UP on the
    shortest decimal repr, DuckDB round() is C-style on the binary value,
    so the two can disagree on the SAME double; this op chain, spelled
    identically in the oracle (queries.S_FLOOR), cannot."""
    s = float(10**k)
    return F.floor(col * s + F.lit(0.5)) / F.lit(s)


# Exact-cents money rule: 2-decimal doubles are aggregated as exact
# integer hundredths and rebuilt with one division, so a total does not
# depend on summation order (round(sum(double), 2) does). SQL twins:
# queries.SC / S_MONEY / S_MEAN, spelled op-for-op.


def cents(col: Column) -> Column:
    """2-decimal double -> exact integer hundredths."""
    return F.round(col * 100).cast("long")


def sum_cents(col: Column) -> Column:
    return F.sum(cents(col))


def money(sum_cents_col: Column) -> Column:
    """Exact cent-sum -> double dollars (single division, bit-stable)."""
    return sum_cents_col.cast("double") / F.lit(100.0)


def mean_cents(col: Column) -> Column:
    """Exact-cents average: (sum_cents / n) / 100 — identical op chain in
    the oracle."""
    return sum_cents(col).cast("double") / F.count(F.lit(1)) / F.lit(100.0)


def hex_bigint(digest: Column, start: int, n: int = 15) -> Column:
    """The ``n`` hex digits of ``digest`` from 1-based ``start``, read as
    a bigint — the portable hash every md5-based sketch, sample and
    pairing uses. DuckDB twin: ``('0x' || substr(h, start, n))::BIGINT``,
    digit-for-digit. n=15 (60 bits) keeps the value a non-negative signed
    int64 in every engine; an md5 digest yields two independent 60-bit
    hashes at start=2 and start=18. Takes the digest, not the input, so
    one md5 can feed both halves."""
    return F.conv(F.substring(digest, start, n), 16, 10).cast("bigint")


def clean_email(email: Column) -> Column:
    """lower/trim + strip the ``.duplicate`` marker (CM:194)."""
    return F.regexp_replace(F.lower(F.trim(email)), r"\.duplicate", "")


def clean_phone(phone: Column) -> Column:
    """Strip non-digits then rewrite ``1?(\\d{10})`` -> ``($1)`` —
    capture-group semantics preserved exactly (CM:195-199, SURVEY.md Q6:
    yields e.g. ``(5551234567)``)."""
    digits = F.regexp_replace(phone, "[^0-9]", "")
    return F.regexp_replace(digits, r"^1?(\d{10})$", "($1)")


def standardize_state(state_raw: Column) -> Column:
    """Mixed code/name -> 2-letter code (CM:202-206)."""
    up = F.upper(state_raw)
    return (
        F.when(up.isin("CA", "CALIFORNIA"), "CA")
        .when(up.isin("TX", "TEXAS"), "TX")
        .when(up.isin("NY", "NEW YORK"), "NY")
        .otherwise(up)
    )


def standardize_city(city_raw: Column) -> Column:
    """NYC variants -> 'New York' (CM:208-210)."""
    return F.when(F.upper(city_raw).isin("NEW YORK", "NYC"), "New York").otherwise(
        city_raw
    )
