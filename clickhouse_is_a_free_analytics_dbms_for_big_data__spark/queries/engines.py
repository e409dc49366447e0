"""Queries exercising table-engine merge semantics (§2.1), partial
aggregation states, sequenceMatch funnels, and running* shims."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import state as S
from ..operators.running import running_accumulate, running_difference
from ..operators.sequence_match import sequence_count, sequence_match
from ..sources.mergetree import (
    compact_collapsing,
    compact_summing,
    graphite_rollup,
)
from .core import _dec, _t
from .registry import plan_cache as _plan_cache
from .registry import query


@query(
    "summing_mergetree",
    """
    SELECT user_id, event_type,
           CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) AS value,
           COUNT(*) AS merged_rows
    FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type
    """,
    doc="SummingMergeTree merge semantics: sum metric columns per PK "
    "(DataStreams/SummingSortedBlockInputStream.h:22).",
    tags=("mergetree",),
)
def summing_mergetree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # metric fed as its exact scaled-long image: SUM(decimal(18,2))
    # uses a decimal(28,2) buffer = one BigDecimal alloc per row
    # update, while the long sums as a primitive add (the r9
    # exact-sum lesson applied to the SummingMergeTree path; the
    # descale below reproduces SUM(CAST(x AS DECIMAL(18,2))) exactly —
    # events.value is bounded, so the scaled sum stays in int64 far
    # past this table's scale; use exact_sum_scaled's hi/lo split
    # where per-key row counts can reach ~1e13)
    from ..operators.exact_sum import scaled_long

    (ev,) = _t(spark, sf_dir, "events")
    with_cnt = ev.select(
        "user_id",
        "event_type",
        scaled_long(F.col("value")).alias("value"),
        F.lit(1).alias("merged_rows"),
    )
    compacted = compact_summing(
        with_cnt, pk=["user_id", "event_type"], metrics=["value", "merged_rows"]
    )
    return compacted.select(
        "user_id",
        "event_type",
        (
            F.col("value").cast("decimal(36,0)")
            * F.lit("0.01").cast("decimal(3,2)")
        ).cast("double").alias("value"),
        F.col("merged_rows").cast("bigint").alias("merged_rows"),
    ).orderBy("user_id", "event_type")


@query(
    "collapsing_mergetree",
    """
    WITH signed AS (
        SELECT user_id, event_id, value,
               CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS sign
        FROM events WHERE event_type IN ('click', 'error')
    ), grouped AS (
        SELECT user_id, SUM(sign) AS net,
               ARG_MAX(CASE WHEN sign > 0 THEN event_id END,
                       CASE WHEN sign > 0 THEN event_id END) AS pos_id,
               ARG_MIN(CASE WHEN sign < 0 THEN event_id END,
                       CASE WHEN sign < 0 THEN event_id END) AS neg_id
        FROM signed GROUP BY user_id
    )
    SELECT s.user_id, s.event_id, s.value, s.sign
    FROM signed s JOIN grouped g
      ON s.user_id = g.user_id
     AND s.event_id = CASE WHEN g.net > 0 THEN g.pos_id ELSE g.neg_id END
    WHERE g.net <> 0
    ORDER BY s.user_id
    """,
    doc="CollapsingMergeTree: +1/-1 sign rows cancel per PK; survivor is "
    "the latest +1 (net>0) or earliest -1 (net<0) "
    "(DataStreams/CollapsingSortedBlockInputStream.h:23).",
    tags=("mergetree",),
)
def collapsing_mergetree(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    signed = ev.filter(F.col("event_type").isin("click", "error")).select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", -1).otherwise(1).alias("sign"),
    )
    out = compact_collapsing(signed, pk=["user_id"], sign="sign", order="event_id")
    return out.orderBy("user_id")


@query(
    "aggregating_state_merge",
    """
    SELECT user_id,
           CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) AS total,
           CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) / COUNT(value) AS avg_v,
           COUNT(DISTINCT event_type) AS types
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="AggregatingMergeTree / -State+-Merge combinators: partial states "
    "per (user, day) part merged to final per-user aggregates "
    "(AggregateFunctionState.h, DataTypeAggregateFunction.h). uniq uses "
    "countDistinct here for oracle-exactness; the HLL-sketch state path "
    "is tested in tests/test_engines.py.",
    tags=("mergetree", "state"),
)
def aggregating_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    # Phase 1 (part-level, the "insert"): states per (user_id, day)
    parts = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        S.sumState(_dec("value")).alias("sum_state"),
        S.avgState(F.col("value").cast("double")).alias("avg_state"),
        S.groupArrayState("event_type").alias("types_state"),
    )
    # Phase 2 (merge, the "background merge"): final values per user
    merged = parts.groupBy("user_id").agg(
        S.sumMerge("sum_state").cast("double").alias("total"),
        S.avgMerge("avg_state").alias("avg_v_raw"),
        F.size(
            F.array_distinct(S.groupArrayMerge("types_state"))
        ).cast("bigint").alias("types"),
    )
    # avg via decimal-exact sum/count for oracle parity
    cnts = ev.groupBy("user_id").agg(F.count("value").alias("__n"))
    return (
        merged.join(cnts, "user_id")
        .select(
            "user_id",
            "total",
            (F.col("total") / F.col("__n")).alias("avg_v"),
            "types",
        )
        .orderBy("user_id")
    )


@query(
    "graphite_rollup_downsample",
    """
    SELECT event_type,
           make_timestamp(((epoch_ms(ts) // 1000) // 3600) * 3600 * 1000000)
               AS ts_bucket,
           -- exact half-up rounding at 6 decimals on the rational
           -- sum/n, in integer arithmetic: ROUND() on the double ties
           -- engine-dependently at the 6th digit (sf1 finding)
           CAST((2 * CAST(SUM(value::DECIMAL(28,2)) * 1000000 AS HUGEINT)
                 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000
               AS value
    FROM events
    GROUP BY event_type, ts_bucket ORDER BY event_type, ts_bucket
    """,
    doc="GraphiteMergeTree rollup: age-based downsampling to 1h buckets "
    "(GraphiteRollupSortedBlockInputStream.h:125; single retention rule "
    "so the oracle is expressible).",
    tags=("mergetree", "rollup"),
)
def graphite_rollup_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    rolled = graphite_rollup(
        ev.select("event_type", "ts", "value"),
        ts="ts",
        value="value",
        keys=["event_type"],
        retentions=[(0, 3600)],
        agg="avg_exact2",
        avg_round=6,  # exact integer-domain rounding (see operator doc)
    )
    return rolled.select(
        "event_type",
        F.col("ts").alias("ts_bucket"),
        "value",
    ).orderBy("event_type", "ts_bucket")


@query(
    "sequence_match_funnel",
    """
    SELECT CAST(SUM(matched) AS BIGINT) AS users_converted FROM (
        SELECT user_id,
               CASE WHEN MIN(CASE WHEN event_type = 'view' THEN ts END)
                         < MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                    THEN 1 ELSE 0 END AS matched
        FROM events GROUP BY user_id
    )
    """,
    doc="sequenceMatch('(?1).*(?2)') funnel: users with a view followed "
    "by a purchase (AggregateFunctionSequenceMatch.h:145).",
    tags=("funnel",),
)
@_plan_cache
def sequence_match_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        sequence_match(
            "(?1).*(?2)",
            F.col("ts"),
            [F.col("event_type") == "view", F.col("event_type") == "purchase"],
        ).alias("matched")
    )
    return per_user.agg(
        F.sum("matched").cast("bigint").alias("users_converted")
    )


@query(
    "argmax_quantile_state_merge",
    """
    WITH am AS (
      SELECT user_id, event_type AS top_event FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_type DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    q AS (
      SELECT user_id,
             list_sort(array_agg(value))[
               CAST(LEAST(FLOOR(COUNT(*) * 0.5), COUNT(*) - 1) AS INT) + 1
             ] AS med
      FROM events GROUP BY user_id
    )
    SELECT am.user_id, am.top_event, q.med
    FROM am JOIN q USING (user_id) ORDER BY user_id
    """,
    doc="Generic -State/-Merge beyond the basic five: argMaxState/Merge "
    "(AggregateFunctionsArgMinMax.h; deterministic value tie-break) and "
    "quantileExactState/Merge (AggregateFunctionQuantileExact.h "
    "nth_element rule) through the two-phase part-merge shape of "
    "AggregatingMergeTree.",
    tags=("mergetree", "state"),
)
def argmax_quantile_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    parts = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        S.argMaxState("event_type", F.col("value")).alias("am_state"),
        S.quantileExactState(F.col("value")).alias("q_state"),
    )
    return (
        parts.groupBy("user_id")
        .agg(
            S.argMaxMerge("am_state").alias("top_event"),
            S.quantileExactMerge("q_state", 0.5).alias("med"),
        )
        .orderBy("user_id")
    )


@query(
    "sequence_state_merge",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    p AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    c AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'purchase'
                              AND prev = 'view') AS pairs
      FROM p GROUP BY user_id
    )
    SELECT u.user_id, CAST(COALESCE(c.pairs, 0) AS INT) AS pairs
    FROM users u LEFT JOIN c USING (user_id) ORDER BY user_id
    """,
    doc="sequenceCount as a mergeable state: day-level event lists "
    "(sequenceState) merged per user and counted with the same greedy "
    "automaton (AggregateFunctionSequenceMatch.h merge() concatenates "
    "then sorts events — identical result to the single-pass count).",
    tags=("funnel", "state"),
)
def sequence_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    conds = [
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    ]
    parts = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        S.sequenceState(F.col("ts"), conds).alias("seq_state")
    )
    return (
        parts.groupBy("user_id")
        .agg(S.sequenceCountMerge("(?1).*(?2)", "seq_state").alias("pairs"))
        .orderBy("user_id")
    )


@query(
    "sequence_count_pairs",
    # greedy non-overlapping (?1).*(?2) counting IS relationally
    # expressible: restricted to view/purchase events in time order,
    # the automaton (view arms, purchase fires and re-arms —
    # AggregateFunctionSequenceMatch.h:157 restarts after each match)
    # fires exactly once per view->purchase adjacency, i.e. per 1-run
    # immediately followed by a 2-run — a LAG window count
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    p AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    c AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'purchase'
                              AND prev = 'view') AS pairs
      FROM p GROUP BY user_id
    )
    SELECT u.user_id, CAST(COALESCE(c.pairs, 0) AS INT) AS pairs
    FROM users u LEFT JOIN c USING (user_id) ORDER BY user_id
    """,
    doc="sequenceCount('(?1).*(?2)') — non-overlapping view->purchase "
    "pairs per user (AggregateFunctionSequenceMatch.h:157). Oracle: "
    "the same greedy automaton as a relational list fold.",
    tags=("funnel",),
)
def sequence_count_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            sequence_count(
                "(?1).*(?2)",
                F.col("ts"),
                [
                    F.col("event_type") == "view",
                    F.col("event_type") == "purchase",
                ],
            ).alias("pairs")
        )
        .orderBy("user_id")
    )


@query(
    "running_difference_shim",
    """
    SELECT user_id, event_id,
           ROUND(COALESCE(value - LAG(value) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id), 0), 6) AS diff
    FROM events WHERE user_id < 10 ORDER BY user_id, event_id
    """,
    doc="runningDifference as a deterministic Window shim "
    "(FunctionsMiscellaneous.cpp runningDifference; SURVEY §2.5).",
    tags=("running",),
)
def running_difference_shim(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    small = ev.filter(F.col("user_id") < 10)
    out = running_difference(
        small,
        col="value",
        order_by=[F.col("ts"), F.col("event_id")],
        partition_by=["user_id"],
        out="diff",
    )
    return out.select(
        "user_id", "event_id", F.round("diff", 6).alias("diff")
    ).orderBy("user_id", "event_id")


@query(
    "running_accumulate_shim",
    """
    SELECT user_id, event_id,
           CAST(SUM(value::DECIMAL(18,2)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM events WHERE user_id < 10 ORDER BY user_id, event_id
    """,
    doc="runningAccumulate as a cumulative-sum Window shim "
    "(FunctionsMiscellaneous.cpp runningAccumulate).",
    tags=("running",),
)
def running_accumulate_shim(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    small = ev.filter(F.col("user_id") < 10).withColumn(
        "value_dec", _dec("value")
    )
    out = running_accumulate(
        small,
        col="value_dec",
        order_by=[F.col("ts"), F.col("event_id")],
        partition_by=["user_id"],
        out="running_total",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("running_total").cast("double").alias("running_total"),
    ).orderBy("user_id", "event_id")


@query(
    "uniq_state_merge_hll",
    # the mergeable-state contract is checked as an invariant: merging
    # per-day HLL states must land within 3% of the exact global
    # distinct (itself engine-agnostic; the lgConfigK=14 sketch's
    # standard error is ~0.8%, so 3% is a wide margin); sketch values
    # are not compared
    """
    SELECT count(DISTINCT user_id) AS exact_u,
           CASE WHEN abs(approx_count_distinct(user_id)
                         - count(DISTINCT user_id)) * 1.0
                     / count(DISTINCT user_id) <= 0.03
                THEN 1 ELSE 0 END AS merged_within_3pct
    FROM events
    """,
    doc="uniqState/uniqMerge via Spark HLL sketches — mergeable distinct "
    "states per day merged across days (AggregateFunctionUniq.h state "
    "contract). Oracle checks the exact count + the merged-sketch "
    "accuracy invariant (sketches are engine-specific).",
    tags=("state", "approx"),
)
def uniq_state_merge_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    parts = ev.groupBy(F.to_date("ts").alias("day")).agg(
        S.uniqState("user_id").alias("u_state")
    )
    merged = parts.agg(S.uniqMerge("u_state").alias("m")).select("m")
    exact = ev.agg(F.countDistinct("user_id").alias("e")).select("e")
    return merged.crossJoin(exact).select(
        F.col("e").alias("exact_u"),
        F.when(F.abs(F.col("m") - F.col("e")) / F.col("e") <= 0.03, F.lit(1))
        .otherwise(F.lit(0))
        .alias("merged_within_3pct"),
    )


def _lc_demo_path(sf_dir: str, name: str) -> str:
    import os

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        f"{name}_{sf}",
    )


def _atomic_publish(staging: str, path: str) -> None:
    """Publish a freshly-built table directory with a rename swap so a
    concurrent reader of ``path`` never sees a torn table
    (optimize_table's staging swap, shared)."""
    import os
    import shutil

    backup = f"{path}.__old_{os.getpid()}__"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


@query(
    "mt_low_cardinality_group",
    # oracle computes the same top-10 straight from events — the LC
    # write/encode/late-decode pipeline must be value-invisible
    """
    SELECT 'phrase_' || CAST(event_id % 199 AS VARCHAR) AS phrase,
           COUNT(*) AS c
    FROM events
    GROUP BY phrase ORDER BY c DESC, phrase LIMIT 10
    """,
    doc="LowCardinality string column: dictionary-encoded at "
    "MergeTree-write time (the descendant of the reference's "
    "LowCardinality idea — ColumnString keys are the whole cost of a "
    "string GROUP BY), aggregated on the int CODES, decoded on the "
    "GROUP rows via broadcast dict join (late materialization; "
    "measured r9: 26% faster than decode-first on the same stored "
    "table at 1M rows).",
    tags=("mergetree", "lowcardinality"),
)
def mt_low_cardinality_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.mergetree import lc_decode, read_mergetree, write_mergetree

    (ev,) = _t(spark, sf_dir, "events")
    proj = ev.select(
        F.to_date("ts").alias("d"),
        "user_id",
        F.concat(
            F.lit("phrase_"), (F.col("event_id") % 199).cast("string")
        ).alias("phrase"),
    )
    path = _lc_demo_path(sf_dir, "lc_demo")
    staging = f"{path}.__build_{os.getpid()}__"
    write_mergetree(
        proj, staging, "d", ["user_id"], mode="overwrite",
        low_cardinality=["phrase"],
    )
    _atomic_publish(staging, path)
    coded = read_mergetree(spark, path, decode_lc=False)
    agg = coded.groupBy("phrase").agg(F.count(F.lit(1)).alias("c"))
    return (
        lc_decode(agg, spark, path, "phrase")
        .orderBy(F.desc("c"), "phrase")
        .limit(10)
    )


@query(
    "mt_low_cardinality_append",
    # oracle computes straight from events — incremental LC ingestion
    # (overwrite + append with per-part dict unification) must be
    # value-invisible.  Batch 1 = even event_ids (phrases mod 199),
    # batch 2 = odd event_ids (phrases mod 241): the second batch both
    # overlaps the existing dict (residues < 199) and introduces
    # genuinely new values (199-240), exercising the code-stable merge.
    """
    SELECT 'phrase_' || CAST(event_id % (CASE WHEN event_id % 2 = 0
                                              THEN 199 ELSE 241 END)
                             AS VARCHAR) AS phrase,
           COUNT(*) AS c
    FROM events
    GROUP BY phrase ORDER BY c DESC, phrase LIMIT 15
    """,
    doc="LowCardinality APPEND mode: the second insert merges its "
    "vocabulary into the stored dictionary (existing values keep "
    "their codes — no rewrite of old parts; new values take codes "
    "after the current max), the analog of the reference's per-part "
    "dictionary unification on merge (MergeTreeData.h parts are "
    "self-describing).  Aggregates on codes across BOTH parts, "
    "decodes late.",
    tags=("mergetree", "lowcardinality"),
)
def mt_low_cardinality_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.mergetree import lc_decode, read_mergetree, write_mergetree

    (ev,) = _t(spark, sf_dir, "events")

    def proj(df: DataFrame, modulus: int) -> DataFrame:
        return df.select(
            F.to_date("ts").alias("d"),
            "user_id",
            F.concat(
                F.lit("phrase_"), (F.col("event_id") % modulus).cast("string")
            ).alias("phrase"),
        )

    path = _lc_demo_path(sf_dir, "lc_append_demo")
    staging = f"{path}.__build_{os.getpid()}__"
    write_mergetree(
        proj(ev.filter(F.col("event_id") % 2 == 0), 199),
        staging, "d", ["user_id"], mode="overwrite",
        low_cardinality=["phrase"],
    )
    write_mergetree(
        proj(ev.filter(F.col("event_id") % 2 == 1), 241),
        staging, "d", ["user_id"], mode="append",
        low_cardinality=["phrase"],
    )
    _atomic_publish(staging, path)
    coded = read_mergetree(spark, path, decode_lc=False)
    agg = coded.groupBy("phrase").agg(F.count(F.lit(1)).alias("c"))
    return (
        lc_decode(agg, spark, path, "phrase")
        .orderBy(F.desc("c"), "phrase")
        .limit(15)
    )


@query(
    "sessionize_events",
    # gaps-and-islands twin of Spark's session_window: a session break
    # is a gap >= 12 hours (session_window merges strictly-closer
    # events; the window end is exclusive)
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 12 HOUR
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), per_session AS (
        SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(MAX(n) AS BIGINT) AS max_session_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
    doc="Gap-based sessionization via Spark's native session_window "
    "(gap 12h): per-user session count / largest session / total. "
    "The reference emulates sessions with minute-rollup GROUP BYs "
    "(hits q19/q43); session_window is the Spark-first form — in "
    "streaming the same operator runs watermarked with bounded state "
    "(streaming/stateful.py streaming_sessionize).",
    tags=("session", "window"),
)
@_plan_cache
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(
            F.session_window(F.col("ts"), "12 hours"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n").alias("max_session_events"),
            F.sum("n").alias("total_events"),
        )
        .orderBy("user_id")
    )


@query(
    "funnel_window_levels",
    # oracle replicates the greedy earliest-next chain with DuckDB's
    # native forward ASOF joins (p.ts <= b.ts picks the earliest
    # qualifying next stage); a broken chain probes from a far-future
    # sentinel and scores no further levels
    """
    WITH s1 AS (
        SELECT user_id, ts AS ts1 FROM events WHERE event_type = 'signup'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), pr AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), j2 AS (
        SELECT s1.user_id, ts1, c.ts AS ts2,
               COALESCE(c.ts, TIMESTAMP '9999-01-01') AS probe2
        FROM s1 ASOF LEFT JOIN c
          ON s1.user_id = c.user_id AND s1.ts1 <= c.ts
    ), j3 AS (
        SELECT j2.user_id, ts1, ts2, pr.ts AS ts3
        FROM j2 ASOF LEFT JOIN pr
          ON j2.user_id = pr.user_id AND j2.probe2 <= pr.ts
    ), lv AS (
        SELECT user_id,
               1 + CASE WHEN ts2 IS NOT NULL
                             AND ts2 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END
                 + CASE WHEN ts3 IS NOT NULL
                             AND ts3 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END AS level
        FROM j3
    ), mx AS (
        SELECT user_id, CAST(MAX(level) AS INTEGER) AS level
        FROM lv GROUP BY user_id
    )
    SELECT level, COUNT(*) AS users FROM mx GROUP BY level ORDER BY level
    """,
    doc="windowFunnel-style analytics: per-user max funnel depth "
    "signup -> click -> purchase with every chained event within 7 "
    "days of the signup; greedy earliest-next chain (optimal per "
    "start, max over starts) composed from forward ASOF joins — one "
    "narrow shuffle+sort per stage, never a cross product "
    "(operators/funnel.py).",
    tags=("funnel", "asof"),
)
def funnel_window_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import window_funnel

    (ev,) = _t(spark, sf_dir, "events")
    per_user = window_funnel(
        ev, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], 7 * 86400,
    )
    return (
        per_user.groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )


@query(
    "retention_cohort",
    """
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c0,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
        FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(c0) AS BIGINT) AS r1,
           CAST(SUM(c0 * c1) AS BIGINT) AS r2,
           CAST(SUM(c0 * c2) AS BIGINT) AS r3
    FROM per_user
    """,
    doc="retention(cond1..condN) cohort aggregate: r[0] = cond1 held "
    "for the key, r[i] = cond1 AND cond_{i+1} both held — ONE "
    "partial+final agg shuffle, no windows or joins "
    "(operators/funnel.py retention).",
    tags=("funnel",),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import retention

    (ev,) = _t(spark, sf_dir, "events")
    r = retention(
        ev, "user_id",
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )
    return r.agg(
        F.sum(F.col("r")[0]).cast("bigint").alias("r1"),
        F.sum(F.col("r")[1]).cast("bigint").alias("r2"),
        F.sum(F.col("r")[2]).cast("bigint").alias("r3"),
    )


@query(
    "funnel_strict_dedup",
    # oracle mirrors the construction: per chain step, a strict forward
    # ASOF to the earliest repeat of each already-matched stage; the
    # candidate survives only when no repeat lands strictly before it
    """
    WITH s1 AS (
        SELECT user_id, ts AS ts1 FROM events WHERE event_type = 'signup'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), pr AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), sdup AS (
        SELECT user_id, ts FROM events WHERE event_type = 'signup'
    ), j2 AS (
        SELECT s1.user_id, ts1, c.ts AS ts2r
        FROM s1 ASOF LEFT JOIN c
          ON s1.user_id = c.user_id AND s1.ts1 <= c.ts
    ), d2 AS (
        SELECT j2.user_id, ts1, ts2r, sdup.ts AS dup1
        FROM j2 ASOF LEFT JOIN sdup
          ON j2.user_id = sdup.user_id AND j2.ts1 < sdup.ts
    ), v2 AS (
        SELECT user_id, ts1,
               CASE WHEN ts2r IS NOT NULL
                         AND NOT COALESCE(dup1 < ts2r, FALSE)
                    THEN ts2r END AS ts2
        FROM d2
    ), p2 AS (
        SELECT user_id, ts1, ts2,
               COALESCE(ts2, TIMESTAMP '9999-01-01') AS probe2
        FROM v2
    ), j3 AS (
        SELECT p2.user_id, ts1, ts2, probe2, pr.ts AS ts3r
        FROM p2 ASOF LEFT JOIN pr
          ON p2.user_id = pr.user_id AND p2.probe2 <= pr.ts
    ), d31 AS (
        SELECT j3.user_id, ts1, ts2, probe2, ts3r, sdup.ts AS dup31
        FROM j3 ASOF LEFT JOIN sdup
          ON j3.user_id = sdup.user_id AND j3.probe2 < sdup.ts
    ), d32 AS (
        SELECT d31.user_id, ts1, ts2, ts3r, dup31, c2.ts AS dup32
        FROM d31 ASOF LEFT JOIN c AS c2
          ON d31.user_id = c2.user_id AND d31.probe2 < c2.ts
    ), v3 AS (
        SELECT user_id, ts1, ts2,
               CASE WHEN ts3r IS NOT NULL
                         AND NOT COALESCE(dup31 < ts3r, FALSE)
                         AND NOT COALESCE(dup32 < ts3r, FALSE)
                    THEN ts3r END AS ts3
        FROM d32
    ), lv AS (
        SELECT user_id,
               1 + CASE WHEN ts2 IS NOT NULL
                             AND ts2 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END
                 + CASE WHEN ts3 IS NOT NULL
                             AND ts3 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END AS level
        FROM v3
    ), mx AS (
        SELECT user_id, CAST(MAX(level) AS INTEGER) AS level
        FROM lv GROUP BY user_id
    )
    SELECT level, COUNT(*) AS users FROM mx GROUP BY level ORDER BY level
    """,
    doc="windowFunnel strict_dedup mode: a repeat of an already-matched "
    "stage strictly between ts_i and the next-stage candidate "
    "interrupts the chain (ClickHouse windowFunnel('strict_dedup')); "
    "one extra strict forward ASOF per (step, earlier stage) — "
    "O(stages²) narrow (key, ts) passes (operators/funnel.py).",
    tags=("funnel", "asof"),
)
def funnel_strict_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import window_funnel

    (ev,) = _t(spark, sf_dir, "events")
    per_user = window_funnel(
        ev, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], 7 * 86400,
        strict_dedup=True,
    )
    return (
        per_user.groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )


@query(
    "funnel_strict_order",
    # oracle replicates the consecutiveness contract directly with
    # LEAD(): stage i+1 must be the immediately next event in the
    # user's (ts, event_type)-ordered timeline, inside the 7-day window
    """
    WITH seq AS (
        SELECT user_id, ts, event_type,
               LEAD(event_type, 1) OVER w AS e1, LEAD(ts, 1) OVER w AS t1,
               LEAD(event_type, 2) OVER w AS e2, LEAD(ts, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ), lv AS (
        SELECT user_id,
               1 + CASE WHEN e1 = 'click' AND t1 <= ts + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END
                 + CASE WHEN e1 = 'click' AND t1 <= ts + INTERVAL 7 DAY
                             AND e2 = 'purchase'
                             AND t2 <= ts + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END AS level
        FROM seq WHERE event_type = 'signup'
    ), mx AS (
        SELECT user_id, CAST(MAX(level) AS INTEGER) AS level
        FROM lv GROUP BY user_id
    )
    SELECT level, COUNT(*) AS users FROM mx GROUP BY level ORDER BY level
    """,
    doc="windowFunnel strict_order mode: interleaving events break the "
    "chain (stage i+1 must be the IMMEDIATELY next event on the key's "
    "timeline) — consecutiveness reduces the operator to lead() checks "
    "over ONE per-key window sort, no ASOF chain at all "
    "(operators/funnel.py window_funnel_strict_order).",
    tags=("funnel",),
)
def funnel_strict_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import window_funnel_strict_order

    (ev,) = _t(spark, sf_dir, "events")
    per_user = window_funnel_strict_order(
        ev, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], 7 * 86400,
    )
    return (
        per_user.groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )


@query(
    "funnel_strict_increase",
    # oracle chains DuckDB forward ASOF joins with STRICT inequalities
    # (p.ts < b.ts): equal-timestamp events never chain
    """
    WITH s1 AS (
        SELECT user_id, ts AS ts1 FROM events WHERE event_type = 'signup'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), pr AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), j2 AS (
        SELECT s1.user_id, ts1, c.ts AS ts2,
               COALESCE(c.ts, TIMESTAMP '9999-01-01') AS probe2
        FROM s1 ASOF LEFT JOIN c
          ON s1.user_id = c.user_id AND s1.ts1 < c.ts
    ), j3 AS (
        SELECT j2.user_id, ts1, ts2, pr.ts AS ts3
        FROM j2 ASOF LEFT JOIN pr
          ON j2.user_id = pr.user_id AND j2.probe2 < pr.ts
    ), lv AS (
        SELECT user_id,
               1 + CASE WHEN ts2 IS NOT NULL
                             AND ts2 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END
                 + CASE WHEN ts3 IS NOT NULL
                             AND ts3 <= ts1 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END AS level
        FROM j3
    ), mx AS (
        SELECT user_id, CAST(MAX(level) AS INTEGER) AS level
        FROM lv GROUP BY user_id
    )
    SELECT level, COUNT(*) AS users FROM mx GROUP BY level ORDER BY level
    """,
    doc="windowFunnel strict_increase mode: chained stage timestamps "
    "must STRICTLY increase (ClickHouse windowFunnel('strict_increase') "
    "— equal-ts events never chain); same greedy earliest-next "
    "composition with strict forward ASOF joins.",
    tags=("funnel", "asof"),
)
def funnel_strict_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import window_funnel

    (ev,) = _t(spark, sf_dir, "events")
    per_user = window_funnel(
        ev, "user_id", "ts", "event_type",
        ["signup", "click", "purchase"], 7 * 86400,
        strict_increase=True,
    )
    return (
        per_user.groupBy("level")
        .agg(F.count(F.lit(1)).alias("users"))
        .orderBy("level")
    )
