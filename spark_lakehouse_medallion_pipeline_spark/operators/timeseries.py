"""Time-windowed operators over event streams (SURVEY.md §2b X14-X15).

Every windowed aggregate has one body here. The batch queries (q20,
q22, q47) call these functions directly; the streaming forms in
spark_lakehouse_medallion_pipeline_spark.streaming.jobs apply a
watermark to the readStream and call the same functions. All window
totals are exact cents (functions.scalars.money over sum_cents), so a
total does not depend on summation order and batch, stream and the
DuckDB oracle agree bit for bit on bounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import money, sum_cents


def tumbling_window_agg(
    events: DataFrame, ts_col: str = "ts", size: str = "1 hour"
) -> DataFrame:
    """Tumbling window rollup via F.window (X14). Output keyed by
    window_start so the oracle can compute date_trunc equivalents.
    Batch only: countDistinct is not supported on streams."""
    return (
        events.groupBy(F.window(F.col(ts_col), size).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(sum_cents(F.col("value"))).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value", "n_users")
    )


def sliding_window_agg(
    events: DataFrame, ts_col: str = "ts", size: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding window rollup (each event lands in size/slide windows);
    slide == size is a tumbling window without the distinct-user count."""
    return (
        events.groupBy(F.window(F.col(ts_col), size, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(sum_cents(F.col("value"))).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_window_agg(
    events: DataFrame, key_col: str = "user_id", ts_col: str = "ts", gap: str = "30 minutes"
) -> DataFrame:
    """Native session windows (F.session_window, X15). Spark-specific
    operator — the SQL-expressible lag+cumsum equivalent lives in
    operators.relational.sessionize and is what the oracle checks."""
    return (
        events.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(sum_cents(F.col("value"))).alias("session_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join (backward): for each left row, the latest right row with
    right_ts <= left_ts on the same key.

    Spark lacks a native as-of join; the scalable composition is the
    union-and-carry-forward pattern: tag both sides, union, sort within
    key by time, and carry the last right value forward with a window —
    ONE shuffle on the key (vs. a range-join explosion). DuckDB's native
    ASOF JOIN provides the oracle.
    """
    from pyspark.sql import Window

    l_tag = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in right_cols]).alias("s")).schema["s"].dataType
        ).alias("_rvals"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s")).schema["s"].dataType
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rvals"),
    )
    unioned = l_tag.unionByName(r_tag)
    # Right rows sort before left rows at equal timestamps => "<=" semantics.
    # _rvals is the final tiebreaker: with duplicate (key, right_ts) rows
    # carrying different payloads, plain (ts, side) ordering would carry an
    # arbitrary one (and flake oracle hashes across partitionings) — the
    # struct comparison pins last() to the greatest payload. Requires
    # right_cols to be orderable types (atomics/structs/arrays, not maps),
    # which Spark enforces at analysis time.
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), F.col("_is_left"), F.col("_rvals"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("_last_r", F.last("_rvals", ignorenulls=True).over(w))
    out = carried.filter(F.col("_is_left") == 1).select(
        F.col("_lrow.*"), F.col("_last_r").alias("_matched")
    )
    for c in right_cols:
        out = out.withColumn(f"asof_{c}", F.col(f"_matched.{c}"))
    return out.drop("_matched")


def interval_join_bucketed(
    left: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "window_start",
    end_col: str = "window_end",
) -> DataFrame:
    """Range (interval-overlap) join, bucketed: rows of ``left`` matched to
    every interval with start <= ts < end.

    The naive plan for a non-equi join is a broadcast-nested-loop or
    cartesian product — O(|left| x |intervals|), dead at scale. Here both
    sides are mapped to hour buckets (intervals explode to the hours they
    cover), the join is a plain hash equi-join on the bucket, and the
    exact half-open predicate refines inside the bucket. Cost is
    O(|left| + |intervals| x hours_covered) shuffle + a hash join —
    the standard time-binning interval-join design.
    """
    # Zero-length / inverted intervals match nothing by the half-open
    # semantics — drop them BEFORE sequence(), which throws on
    # stop < start instead of yielding an empty array.
    b_iv = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col(start_col)),
                # end is exclusive: an interval ending exactly on an hour
                # boundary does not cover that hour's bucket.
                F.date_trunc("hour", F.col(end_col) - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    b_left = left.withColumn("_bkt", F.date_trunc("hour", F.col(ts_col)))
    return (
        b_left.join(b_iv, "_bkt")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_bkt")
    )


def scd2_intervals(
    changes: DataFrame,
    key: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Build a slowly-changing-dimension TYPE 2 history from a change
    log: each (key, ts, attrs) change opens a validity interval
    [valid_from, valid_to) closed by the key's NEXT change; the latest
    change per key stays open (valid_to NULL, is_current true) — the
    standard warehouse dimension-versioning layout.

    One window shuffle (lead over the key partition); no self-join. At
    100 TB the change log is processed exactly as written; pair with a
    partitioned write on valid_from date for pruned point-in-time
    lookups."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts_col)
    nxt = F.lead(F.col(ts_col)).over(w)
    return changes.select(
        F.col(key),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def asof_join_backward_tolerance(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_seconds: int,
) -> DataFrame:
    """As-of join (backward) with a staleness bound: matches older than
    ``tolerance_seconds`` are nulled out — the feature-freshness contract
    of a point-in-time feature store (a price from last week must NOT
    leak into a trade enriched 'as of' now). Same single-shuffle
    union-and-carry-forward plan as asof_join_backward; the tolerance is
    a scan-local post-filter on the carried timestamp, so it adds no
    exchange."""
    carry = right_cols if right_ts in right_cols else [*right_cols, right_ts]
    carried = asof_join_backward(left, right, key, left_ts, right_ts, carry)
    # Python-side multiply: a lit(int)*lit(int) product past 2^31 overflows
    # Spark's checked int32 multiply before it ever widens.
    tol_us = F.lit(int(tolerance_seconds) * 1_000_000).cast("long")
    fresh = (
        F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(f"asof_{right_ts}"))
        <= tol_us
    )
    out = carried
    for c in right_cols:
        out = out.withColumn(
            f"asof_{c}", F.when(fresh, F.col(f"asof_{c}"))
        )
    return out.withColumn(f"asof_{right_ts}", F.when(fresh, F.col(f"asof_{right_ts}")))


def gap_fill_interpolate(
    df: DataFrame,
    key_cols: list[str],
    idx_col: str,
    val_col: str,
) -> DataFrame:
    """Dense resample + linear interpolation: for each key, emit one row
    per integer index in [min(idx), max(idx)] of that key's observations,
    carrying the observed value where present and the linear
    interpolation between the two nearest observations where missing —
    the time-series regularization step (sensor gaps, missing trading
    days) done relationally.

    Values are integer units in, integer MILLI-units out (observed rows
    are val*1000 too): the interpolation is exact integer arithmetic
    (prev*1000 + ((next-prev)*1000*dt) div span), so results are
    bit-identical across engines — no float slope, no rounding drift.

    Scale shape: the spine is generated per key from a map-side-combined
    (min, max) aggregate — never a driver-side date range; one shuffle
    on the key serves the spine join and all four carry windows. Each
    key's series is ranked within one task — the same per-key
    partitioning every window operator here uses.

    Contract: one observation per (key, idx) — duplicate observations
    would fan out through the spine join (pre-aggregate first, as q155
    does); a NULL in ``val_col`` is treated as a gap at that index.
    """
    from pyspark.sql import Window

    keys = [F.col(k) for k in key_cols]
    bounds = df.groupBy(*keys).agg(
        F.min(idx_col).alias("_lo"), F.max(idx_col).alias("_hi")
    )
    spine = bounds.select(
        *keys, F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias(idx_col)
    )
    joined = spine.join(df, [*key_cols, idx_col], "left")

    w_back = (
        Window.partitionBy(*keys)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(idx_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(val_col)
    obs_idx = F.when(v.isNotNull(), F.col(idx_col))
    stepped = (
        joined.withColumn("_pv", F.last(v, ignorenulls=True).over(w_back))
        .withColumn("_pi", F.last(obs_idx, ignorenulls=True).over(w_back))
        .withColumn("_nv", F.first(v, ignorenulls=True).over(w_fwd))
        .withColumn("_ni", F.first(obs_idx, ignorenulls=True).over(w_fwd))
    )
    interp = F.col("_pv") * 1000 + F.expr(
        f"((_nv - _pv) * 1000 * ({idx_col} - _pi)) div (_ni - _pi)"
    )
    return stepped.select(
        *key_cols,
        idx_col,
        F.when(v.isNotNull(), v * 1000)
        .otherwise(
            F.when(F.col("_pi").isNotNull() & F.col("_ni").isNotNull(), interp)
        )
        .alias(f"{val_col}_milli"),
        v.isNull().alias("interpolated"),
    )
