"""Time-series operators (X14-X15): windows, sessions, as-of join."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import relational, timeseries


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_backward_small(spark):
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:05"), "A"),
            (2, _ts("2024-01-01 10:00:10"), "A"),
            (3, _ts("2024-01-01 09:59:00"), "A"),
            (4, _ts("2024-01-01 10:00:07"), "B"),
        ],
        "trade_id long, ts timestamp, sym string",
    )
    quotes = spark.createDataFrame(
        [
            (_ts("2024-01-01 10:00:00"), "A", 100.0),
            (_ts("2024-01-01 10:00:07"), "A", 101.0),
            (_ts("2024-01-01 10:00:06"), "B", 50.0),
        ],
        "ts timestamp, sym string, px double",
    )
    out = timeseries.asof_join_backward(
        trades, quotes, key="sym", left_ts="ts", right_ts="ts", right_cols=["px"]
    )
    got = {r["trade_id"]: r["asof_px"] for r in out.collect()}
    assert got == {1: 100.0, 2: 101.0, 3: None, 4: 50.0}
    # ties: left at exactly a quote time takes that quote ("<=")
    assert got[2] == 101.0


def test_session_window_native_matches_lag_cumsum(events):
    """F.session_window and the SQL-expressible lag+cumsum sessionizer must
    produce identical session partitions (same per-user session sizes)."""
    native = timeseries.session_window_agg(events, "user_id", "ts", "30 minutes")
    manual = relational.sessionize(events, "user_id", "ts", 1800)
    manual_agg = manual.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    a = sorted(
        (r["user_id"], r["n_events"]) for r in native.collect()
    )
    b = sorted((r["user_id"], r["n_events"]) for r in manual_agg.collect())
    assert a == b


def test_tumbling_and_sliding_cover_all_events(events):
    n = events.count()
    tumb = timeseries.tumbling_window_agg(events, size="1 hour")
    assert tumb.agg(F.sum("n_events")).head()[0] == n
    slid = timeseries.sliding_window_agg(events, size="2 hours", slide="1 hour")
    # every event appears in exactly size/slide = 2 sliding windows
    assert slid.agg(F.sum("n_events")).head()[0] == 2 * n


def test_window_totals_exact_cents_in_any_row_order(spark):
    """0.1, 0.2 and 2.675 in one window: round(sum(double), 2) returns
    2.97 or 2.98 depending on the add order; the exact-cents total is
    2.98 in every order, for every window kind."""
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 0.1),
        (1, _ts("2024-01-01 10:10:00"), 0.2),
        (1, _ts("2024-01-01 10:20:00"), 2.675),
    ]
    exact = (10 + 20 + 268) / 100.0
    aggs = {
        "tumbling": (timeseries.tumbling_window_agg, "total_value"),
        "sliding": (timeseries.sliding_window_agg, "total_value"),
        "session": (timeseries.session_window_agg, "session_value"),
    }
    for name, (agg, col) in aggs.items():
        totals = []
        for order in (rows, rows[::-1]):
            ev = spark.createDataFrame(
                order, "user_id long, ts timestamp, value double"
            ).coalesce(1)
            totals.append({r[col] for r in agg(ev).collect()})
        assert totals[0] == totals[1] == {exact}, (name, totals)


def test_sessionize_gap_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00")),
            (1, _ts("2024-01-01 10:10:00")),  # same session (gap 10 min)
            (1, _ts("2024-01-01 11:00:00")),  # new session (gap 50 min)
            (2, _ts("2024-01-01 10:00:00")),
        ],
        "user_id long, ts timestamp",
    )
    out = relational.sessionize(df, "user_id", "ts", 1800)
    sessions = {(r["user_id"], r["ts"].isoformat()): r["session_id"] for r in out.collect()}
    assert sessions[(1, "2024-01-01T10:00:00")] == sessions[(1, "2024-01-01T10:10:00")]
    assert sessions[(1, "2024-01-01T11:00:00")] == 2
    assert sessions[(2, "2024-01-01T10:00:00")] == 1


def test_interval_join_bucketed_boundaries(spark):
    """Half-open [start, end): start row joins, end row doesn't; an
    interval ending exactly on an hour boundary must not cover that
    hour's bucket (and must still catch rows just inside)."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.operators import timeseries

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00"),  # == start -> in
            (2, "2024-01-01 10:59:59"),  # just inside -> in
            (3, "2024-01-01 11:00:00"),  # == end -> out
            (4, "2024-01-01 08:59:59"),  # before -> out
        ],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [("2024-01-01 09:00:00", "2024-01-01 11:00:00")], "s string, e string"
    ).select(
        F.col("s").cast("timestamp").alias("window_start"),
        F.col("e").cast("timestamp").alias("window_end"),
    )
    got = sorted(
        r["event_id"]
        for r in timeseries.interval_join_bucketed(events, iv, "ts").collect()
    )
    assert got == [1, 2]


def test_asof_join_tied_right_timestamps_deterministic(spark):
    """Duplicate (key, right_ts) rows with different payloads must carry a
    DETERMINISTIC value (the greatest payload struct) regardless of input
    order or partitioning — tied ticks were a latent hash-flake."""
    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0))], "k long, lts timestamp"
    )
    tied = [
        (1, datetime(2024, 1, 1, 11, 0, 0), v) for v in (30.0, 10.0, 20.0)
    ]
    for perm in (tied, tied[::-1], [tied[1], tied[2], tied[0]]):
        right = spark.createDataFrame(
            perm, "k long, rts timestamp, price double"
        ).repartition(4)
        got = timeseries.asof_join_backward(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_cols=["price"],
        ).collect()
        assert len(got) == 1 and got[0]["asof_price"] == 30.0


def test_gap_fill_interpolate_known_series(spark):
    df = spark.createDataFrame(
        [("a", 0, 10), ("a", 3, 40), ("a", 5, 30), ("b", 7, 5)],
        "k string, m long, v long",
    )
    got = {
        (r["k"], r["m"]): (r["v_milli"], r["interpolated"])
        for r in timeseries.gap_fill_interpolate(df, ["k"], "m", "v").collect()
    }
    assert got[("a", 0)] == (10_000, False)
    assert got[("a", 1)] == (20_000, True)   # 10 + 30*(1/3)
    assert got[("a", 2)] == (30_000, True)
    assert got[("a", 3)] == (40_000, False)
    assert got[("a", 4)] == (35_000, True)   # negative slope 40 -> 30
    assert got[("a", 5)] == (30_000, False)
    assert got[("b", 7)] == (5_000, False)   # single point: spine of one
    assert len(got) == 7
