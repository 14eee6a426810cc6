"""Property-based checks (hypothesis) for the hand-composed operators
whose edge cases live at bucket/time boundaries — each compared against
a naive reference implementation on randomized inputs.

Few examples, no deadline: every example is a Spark job.
"""

from __future__ import annotations
import pytest

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = datetime(2024, 1, 1)

offsets = st.integers(min_value=0, max_value=72 * 3600)  # seconds in 3 days


@pytest.mark.slow
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts=st.lists(offsets, min_size=1, max_size=30),
    ivs=st.lists(st.tuples(offsets, st.integers(1, 8 * 3600)), min_size=1, max_size=6),
)
def test_interval_join_matches_naive(spark, ts, ivs):
    from spark_lakehouse_medallion_pipeline_spark.operators import timeseries

    events = spark.createDataFrame(
        [(i, BASE + timedelta(seconds=s)) for i, s in enumerate(ts)],
        "event_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (j, BASE + timedelta(seconds=s), BASE + timedelta(seconds=s + d))
            for j, (s, d) in enumerate(ivs)
        ],
        "iv_id long, window_start timestamp, window_end timestamp",
    )
    got = sorted(
        (r["event_id"], r["iv_id"])
        for r in timeseries.interval_join_bucketed(events, intervals, "ts").collect()
    )
    naive = sorted(
        (r["event_id"], r["iv_id"])
        for r in events.join(
            intervals,
            (F.col("ts") >= F.col("window_start")) & (F.col("ts") < F.col("window_end")),
        ).collect()
    )
    assert got == naive


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), offsets), min_size=1, max_size=25),
    rights=st.lists(
        st.tuples(st.integers(0, 2), offsets, st.integers(0, 999)),
        min_size=1,
        max_size=25,
    ),
)
def test_asof_join_matches_naive(spark, lefts, rights):
    """asof_join_backward == argmax over right rows with right_ts <= ts,
    including equal timestamps and keys with no right rows at all."""
    from spark_lakehouse_medallion_pipeline_spark.operators import timeseries

    left = spark.createDataFrame(
        [(i, k, BASE + timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "lid long, key int, ts timestamp",
    )
    # Dedup right on (key, ts): at equal times the carried value is
    # whichever sorts last — make it unique so the naive argmax is
    # well-defined.
    seen = {}
    for k, s, v in rights:
        seen[(k, s)] = v
    right = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=s), v) for (k, s), v in seen.items()],
        "key int, rts timestamp, val int",
    )
    got = {
        r["lid"]: r["asof_val"]
        for r in timeseries.asof_join_backward(
            left, right, "key", "ts", "rts", ["val"]
        ).collect()
    }
    naive = {}
    rrows = right.collect()
    for lrow in left.collect():
        cands = [r for r in rrows if r["key"] == lrow["key"] and r["rts"] <= lrow["ts"]]
        naive[lrow["lid"]] = (
            max(cands, key=lambda r: r["rts"])["val"] if cands else None
        )
    assert got == naive


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    changes=st.lists(
        st.tuples(
            st.integers(0, 5),          # key
            st.integers(0, 100),        # seq
            st.sampled_from(["I", "U", "D"]),
            st.integers(0, 999),        # payload value
        ),
        min_size=1,
        max_size=25,
    )
)
def test_apply_cdc_idempotent_and_matches_naive(spark, changes):
    """apply_cdc == naive python fold by (key, max seq); applying the
    same batch twice equals applying it once (idempotence — retried
    batches must be safe)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.relational import apply_cdc

    base_rows = [(k, -1) for k in range(3)]  # keys 0..2 pre-exist
    base = spark.createDataFrame(base_rows, "k long, v long")
    # de-dup (key, seq) pairs: CDC streams have unique sequence numbers
    seen = {}
    for k, seq, op, v in changes:
        seen[(k, seq)] = (k, seq, op, v)
    log = list(seen.values())
    ch = spark.createDataFrame(log, "k long, seq long, op string, v long")
    ch = ch.select("k", "v", "seq", "op")

    def naive():
        state = dict(base_rows)
        winners = {}
        for k, seq, op, v in log:
            if k not in winners or seq > winners[k][0]:
                winners[k] = (seq, op, v)
        for k, (seq, op, v) in winners.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = v
        return sorted(state.items())

    once = apply_cdc(base, ch, key="k", seq_col="seq")
    assert sorted((r["k"], r["v"]) for r in once.collect()) == naive()
    twice = apply_cdc(once, ch, key="k", seq_col="seq")
    assert sorted((r["k"], r["v"]) for r in twice.collect()) == naive()


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts=st.lists(
        st.tuples(st.integers(0, 3), offsets), min_size=1, max_size=30
    )
)
def test_scd2_intervals_partition_timeline(spark, ts):
    """SCD2 output per key: half-open intervals are ordered, disjoint,
    contiguous (each valid_to == next valid_from), and exactly one open
    (is_current) row per key."""
    from spark_lakehouse_medallion_pipeline_spark.operators.timeseries import scd2_intervals

    rows = sorted({(k, BASE + timedelta(seconds=s)) for k, s in ts})
    df = spark.createDataFrame(
        [(k, t, 1) for k, t in rows], "k long, ts timestamp, attr long"
    )
    out = scd2_intervals(df, key="k", ts_col="ts", attr_cols=["attr"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in ivs) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]  # contiguous
            assert a["valid_from"] < a["valid_to"]   # non-degenerate


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=6), min_size=2, max_size=25
    ),
    d=st.sampled_from([1, 2]),
)
def test_fuzzy_pairs_match_naive_levenshtein(spark, names, d):
    """Deletion-neighborhood blocking == naive quadratic levenshtein for
    random short strings over a 2-letter alphabet (dense collisions,
    empty strings, exact duplicates — the adversarial regime for the
    recall proof)."""
    from spark_lakehouse_medallion_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        list(enumerate(names)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.fuzzy_pairs(df, max_dist=d).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and _lev(a, b) <= d
    }
    assert got == want


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_portable_hash_duckdb_semantics(spark, strings):
    """The cross-engine contract every portable-hash oracle (q162, q164,
    q165) rests on: DuckDB's ('0x' || substr(md5(s), off, 15))::BIGINT
    and Spark's scalars.hex_bigint(md5(s), off) both equal the
    mathematical int(md5_hex[off-1 : off+14], 16) for BOTH digest
    halves, over arbitrary unicode."""
    import hashlib

    import duckdb

    from spark_lakehouse_medallion_pipeline_spark.functions.scalars import hex_bigint

    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in strings])
    rows = con.sql(
        "SELECT s, ('0x' || substr(md5(s), 2, 15))::BIGINT,"
        " ('0x' || substr(md5(s), 18, 15))::BIGINT FROM t"
    ).fetchall()
    d = F.md5(F.col("s"))
    rows += [
        tuple(r)
        for r in spark.createDataFrame([(s,) for s in strings], "s string")
        .select("s", hex_bigint(d, 2), hex_bigint(d, 18))
        .collect()
    ]
    assert len(rows) == 2 * len(strings)
    for s, hi, lo in rows:
        hx = hashlib.md5(s.encode("utf-8")).hexdigest()
        assert hi == int(hx[1:16], 16)
        assert lo == int(hx[17:32], 16)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=12
    ),
    n_merges=st.integers(1, 3),
)
def test_bpe_train_matches_reference(spark, words, n_merges):
    """bpe_train vs a direct Python reference BPE (Sennrich 2016) on
    random 2-letter corpora — the alphabet maximizes left==right merges
    and overlapping runs, exactly the greedy edge cases the run-parity
    window formula must reproduce."""
    from spark_lakehouse_medallion_pipeline_spark.operators import text as T

    def ref_bpe(word_list, k):
        from collections import Counter

        freq = Counter(word_list)
        segs = {w: list(w) for w in freq}
        merges = []
        for rank in range(1, k + 1):
            pairs = Counter()
            for w, f in freq.items():
                s = segs[w]
                for i in range(len(s) - 1):
                    pairs[(s[i], s[i + 1])] += f
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append((rank, best[0], best[1], pairs[best]))
            for w in segs:
                s, out, i = segs[w], [], 0
                while i < len(s):
                    if (
                        i + 1 < len(s)
                        and s[i] == best[0]
                        and s[i + 1] == best[1]
                    ):
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                segs[w] = out
        return merges, {w: " ".join(s) for w, s in segs.items()}

    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    merges, segmented = T.bpe_train(docs, n_merges=n_merges)
    exp_merges, exp_segs = ref_bpe(words, n_merges)
    assert merges == exp_merges
    got = {r["word"]: r["segmentation"] for r in segmented.collect()}
    assert got == exp_segs
