"""Unit tests for MergeTree-family merge semantics, partial-agg states,
sequenceMatch, and streaming adapters (reference parity cases from
DataStreams/*SortedBlockInputStream.h)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions import (
    state as S,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.operators.sequence_match import (
    sequence_count,
    sequence_match,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
    compact_collapsing,
    compact_replacing,
    compact_summing,
    read_mergetree,
    write_mergetree,
)


def test_collapsing_cancels_pairs(spark):
    rows = [
        # pk=1: +1/-1 pair cancels, extra +1 (id=3) survives
        (1, 1, 1, 10.0),
        (1, 2, -1, 10.0),
        (1, 3, 1, 20.0),
        # pk=2: exact pair cancels -> group dropped
        (2, 4, 1, 5.0),
        (2, 5, -1, 5.0),
        # pk=3: net negative -> earliest -1 survives
        (3, 6, -1, 7.0),
    ]
    df = spark.createDataFrame(rows, "pk int, id int, sign int, v double")
    out = compact_collapsing(df, pk=["pk"], sign="sign", order="id").collect()
    by_pk = {r["pk"]: r for r in out}
    assert set(by_pk) == {1, 3}
    assert by_pk[1]["id"] == 3 and by_pk[1]["sign"] == 1
    assert by_pk[3]["id"] == 6 and by_pk[3]["sign"] == -1


def test_replacing_keeps_max_version(spark):
    df = spark.createDataFrame(
        [(1, 1, "old"), (1, 3, "new"), (1, 2, "mid"), (2, 1, "only")],
        "pk int, ver int, payload string",
    )
    out = compact_replacing(df, pk=["pk"], version="ver").collect()
    got = {r["pk"]: r["payload"] for r in out}
    assert got == {1: "new", 2: "only"}


def test_summing_sums_metrics_keeps_first_other(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 1, "a"), (1, 5.0, 2, "b"), (2, 1.0, 3, "c")],
        "pk int, m double, n int, other string",
    )
    out = compact_summing(df, pk=["pk"], metrics=["m", "n"]).collect()
    got = {r["pk"]: (r["m"], r["n"]) for r in out}
    assert got == {1: (15.0, 3), 2: (1.0, 3)}


def test_uniq_state_merge_accuracy(spark):
    df = spark.createDataFrame(
        [(i % 5, i % 1000) for i in range(5000)], "part int, uid int"
    )
    states = df.groupBy("part").agg(S.uniqState("uid").alias("st"))
    est = states.agg(S.uniqMerge("st").alias("u")).first()["u"]
    assert abs(est - 1000) / 1000 < 0.05  # HLL within 5%


def test_avg_state_merge_exact(spark):
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(100)], "part int, v double"
    )
    states = df.groupBy("part").agg(S.avgState("v").alias("st"))
    merged = states.agg(S.avgMerge("st").alias("a")).first()["a"]
    assert merged == sum(range(100)) / 100


def test_sequence_match_and_count(spark):
    rows = [
        # user 1: view(1) purchase(2) view(3) purchase(4) -> match, count 2
        (1, 1, "view"), (1, 2, "purchase"), (1, 3, "view"), (1, 4, "purchase"),
        # user 2: purchase before view -> no match
        (2, 1, "purchase"), (2, 2, "view"),
        # user 3: view only -> no match
        (3, 1, "view"),
    ]
    df = spark.createDataFrame(rows, "uid int, t int, et string")
    conds = [F.col("et") == "view", F.col("et") == "purchase"]
    out = (
        df.groupBy("uid")
        .agg(
            sequence_match("(?1).*(?2)", F.col("t"), conds).alias("m"),
            sequence_count("(?1).*(?2)", F.col("t"), conds).alias("c"),
        )
        .collect()
    )
    got = {r["uid"]: (r["m"], r["c"]) for r in out}
    assert got == {1: (1, 2), 2: (0, 0), 3: (0, 0)}


def test_sequence_match_reference_00222(spark):
    """Full port of the reference's sequence-family golden test
    (dbms/tests/queries/0_stateless/00222_sequence_aggregate_function_family.sql):
    42 pattern cases over the 12-event fixture, including the
    time-constrained (?t<=n)/(?t>n) forms run by the exact-NFA tier."""
    data = [0, 0, 0, 0, 1, 2, 0, 0, 0, 0, 1, 1]
    df = spark.createDataFrame(
        [(t, d) for t, d in enumerate(data)], "time int, data int"
    )
    conds = [F.col("data") == i for i in range(4)]
    ts = F.col("time").cast("timestamp")
    cases = [  # (pattern, expected match, expected count)
        ("", 1, 12), (".", 1, 12), (".*", 1, 12),
        ("(?1)", 1, 8), ("(?2)", 1, 3), ("(?3)", 1, 1), ("(?4)", 0, 0),
        ("(?1)(?1)", 1, 4), ("(?1)(?1)(?1)", 1, 2),
        ("(?1)(?1)(?1)(?1)", 1, 2), ("(?1)(?1)(?1)(?1)(?1)", 0, 0),
        ("(?1)(?1)(?1)(?1)(?2)", 1, 2),
        ("(?1)(?t>10)(?2)", 1, 1), ("(?1)(?t>11)(?2)", 0, 0),
        ("(?1)(?t<11)(?2)", 1, 2), ("(?1)(?t<3)(?3)", 1, 1),
        ("(?1)(?t<=2)(?3)", 1, 1), ("(?1)(?t<2)(?3)", 0, 0),
        ("(?2)(?t>=7)(?2)", 1, 1), ("(?2)(?t>7)(?2)", 0, 0),
        ("(?2)(?3)(?1)", 1, 1),
    ]
    # regex-tier and NFA-tier aggregates can't share one .agg() call
    # (Spark forbids mixing grouped-agg pandas UDFs with built-ins)
    for tier in (False, True):
        aggs = []
        idx = [i for i, (p, _, _) in enumerate(cases) if ("(?t" in p) == tier]
        for i in idx:
            p = cases[i][0]
            aggs.append(sequence_match(p, ts, conds).alias(f"m{i}"))
            aggs.append(sequence_count(p, ts, conds).alias(f"c{i}"))
        row = df.agg(*aggs).collect()[0]
        for i in idx:
            p, em, ec = cases[i]
            assert row[f"m{i}"] == em, f"sequenceMatch({p!r})"
            assert row[f"c{i}"] == ec, f"sequenceCount({p!r})"


def test_mergetree_write_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 2}-15 00:00:00", i * 1.0) for i in range(100)],
        "pk int, d string, v double",
    ).withColumn("d", F.col("d").cast("timestamp"))
    path = str(tmp_path / "mt")
    write_mergetree(df, path, date_col="d", order_by=["pk"], mode="overwrite")
    # month partitions exist on disk (partition pruning works at scan)
    parts = {os.path.basename(p) for p in glob.glob(f"{path}/_partition=*")}
    assert parts == {"_partition=202401", "_partition=202402"}
    back = read_mergetree(spark, path)
    assert back.count() == 100
    assert set(back.columns) == {"pk", "d", "v"}
    # partition pruning: filter on the derived month only scans one dir
    pruned = spark.read.parquet(path).filter(F.col("_partition") == "202401")
    assert pruned.count() == 50


def test_streaming_materialized_view(spark, tmp_path):
    """MaterializedView fan-out on a real (rate-limited file) stream."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.streaming import (
        MaterializedView,
        attach_views,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, k long, v double"
    ).write.parquet(src)

    agg_path = str(tmp_path / "mv_agg")
    raw_path = str(tmp_path / "mv_raw")
    views = [
        MaterializedView(
            lambda b: b.groupBy("k").agg(F.sum("v").alias("s")), agg_path
        ),
        MaterializedView(lambda b: b.filter(F.col("v") > 10), raw_path),
    ]
    stream = spark.readStream.schema("id long, k long, v double").parquet(src)
    q = attach_views(
        stream, views, checkpoint=str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    agg = spark.read.parquet(agg_path)
    assert agg.agg(F.sum("s")).first()[0] == sum(range(30))
    raw = spark.read.parquet(raw_path)
    assert raw.count() == 19  # v in (10, 30)


def test_timed_fast_path_matches_nfa_on_random_sequences():
    """r12: the vectorized single-time-constraint fast path must equal
    the reference NFA on arbitrary (times, masks) sequences — all four
    comparison kinds, overlapping conditions, ties, empty matches.
    Both sides run the shipped group kernel (the UDF's body)."""
    import random

    import numpy as np

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.operators.sequence_match import (
        _single_tcons_shape,
        parse_pattern,
        timed_group_result,
    )

    rng = random.Random(1234)
    kinds = [("<=", "tle"), ("<", "tl"), (">=", "tge"), (">", "tg")]
    n_checked = 0
    for trial in range(4000):
        op, kind = kinds[trial % 4]
        thr = rng.choice([0, 1, 3, 10, 50])
        pattern = f"(?1)(?t{op}{thr})(?2)"
        actions = parse_pattern(pattern)
        fast = _single_tcons_shape(actions, count=False)
        assert fast == (0, kind, thr, 1)
        n = rng.randrange(0, 30)
        # unsorted input: the kernel sorts by (ts, mask); masks allow
        # overlap (event may satisfy both conditions) and neither
        times = np.array([rng.randrange(0, 60) for _ in range(n)], dtype=np.int64)
        masks = np.array([rng.randrange(0, 4) for _ in range(n)], dtype=np.int64)
        want = timed_group_result(actions, None, False, times, masks)
        got = timed_group_result(actions, fast, False, times, masks)
        assert got == want, (pattern, times, masks, got, want)
        n_checked += 1
    assert n_checked == 4000


def test_timed_null_timestamps_skipped_by_both_paths(spark):
    """A NULL timestamp reaches the UDF as NaN; both the closed form
    and the NFA skip that row (the reference's Null combinator), so
    they agree — a NaN cast to int64 must never pair with an event."""
    import numpy as np

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.operators.sequence_match import (
        _single_tcons_shape,
        parse_pattern,
        sequence_count,
        sequence_match,
        timed_group_result,
    )

    nan = float("nan")
    for pattern, t, m, want in [
        ("(?1)(?t<=5)(?2)", [0.0, nan, 4.0], [1, 2, 2], 1),
        ("(?1)(?t>=5)(?2)", [0.0, nan], [1, 2], 0),
        ("(?1)(?t>5)(?2)", [nan, 0.0, 9.0], [1, 1, 2], 1),
        ("(?1)(?t<5)(?2)", [nan, nan], [1, 2], 0),
    ]:
        actions = parse_pattern(pattern)
        fast = _single_tcons_shape(actions, count=False)
        assert fast is not None
        args = (np.array(t), np.array(m, dtype=np.int64))
        assert timed_group_result(actions, fast, False, *args) == want
        assert timed_group_result(actions, None, False, *args) == want
        assert timed_group_result(actions, None, True, *args) == want

    # end to end: the match UDF takes the closed form, count the NFA
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "a"),
            (1, None, "b"),
            (1, "2024-01-01 00:00:04", "b"),
            (2, "2024-01-01 00:00:00", "a"),
            (2, None, "b"),
            (3, None, "a"),
            (3, None, "b"),
        ],
        "uid int, ts string, ev string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    conds = [F.col("ev") == "a", F.col("ev") == "b"]
    for pattern, want in [
        ("(?1)(?t<=5)(?2)", {1: 1, 2: 0, 3: 0}),
        ("(?1)(?t>=5)(?2)", {1: 0, 2: 0, 3: 0}),
    ]:
        rows = df.groupBy("uid").agg(
            sequence_match(pattern, F.col("ts"), conds).alias("m"),
            sequence_count(pattern, F.col("ts"), conds).alias("c"),
        ).collect()
        assert {r.uid: (r.m, r.c) for r in rows} == {
            u: (w, w) for u, w in want.items()
        }, pattern


def test_timed_fast_path_not_taken_for_other_shapes():
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.operators.sequence_match import (
        _single_tcons_shape,
        parse_pattern,
    )

    # count mode, multi-constraint, star between, bare funnel: all NFA
    assert _single_tcons_shape(parse_pattern("(?1)(?t<=5)(?2)"), True) is None
    assert (
        _single_tcons_shape(parse_pattern("(?1)(?t<=5)(?2)(?t<=5)(?3)"), False)
        is None
    )
    assert (
        _single_tcons_shape(parse_pattern("(?1).*(?2)"), False) is None
    )
