"""The reference's own 43-query web-analytics benchmark
(dbms/benchmark/clickhouse/queries.sql, the BASELINE.md yardstick),
re-expressed over the synthetic ``events`` table.

The hits schema is derived deterministically from (event_id, user_id,
ts) with IDENTICAL arithmetic on both engines, so every query is
oracle-checkable; ``uniq`` runs as uniqExact (count distinct) in the
checked entries — the approx variant is covered by ``uniq_approx``.

All 43 queries.sql lines are covered.  Determinism pins (documented per
query): ``any()`` runs as ``min()``; LIMIT without ORDER BY gets a key
order; ORDER BY ties are broken with the unique ``WatchID``; thresholds
(HAVING counts, date windows) are scaled to the synthetic row count.
Q20 exercises the UInt64-full-range path (Decimal(20,0) UserID64 vs a
literal above Int64 max, SURVEY §7 hard part).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import Memo, source_sig
from ..sources.catalog import load_tables
from .registry import plan_cache as _plan_cache
from .registry import query

# ---- shared derived projection (Spark side) --------------------------------


@_plan_cache
def hits_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → hits-shaped wide projection (deterministic arithmetic).

    One ``selectExpr`` string per column instead of nested Column
    builders: the ~450 py4j round-trips of the DSL form cost ~0.3 s of
    driver time PER QUERY BUILD (measured r8 — the same finding as
    text.tokens_sql at r4), which every fresh bench run re-paid.  The
    expressions are semantically identical (same Catalyst tree).
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.selectExpr(
        # cast NTZ parquet ts to session-tz timestamp: the oracle's naive
        # TIMESTAMP hashes identically to TimestampType (q43 proves it),
        # while TIMESTAMP_NTZ serializes differently in the driver compare
        "CAST(ts AS timestamp) AS EventTime",
        "to_date(ts) AS EventDate",
        "user_id AS UserID",
        "user_id % 100 AS CounterID",
        "user_id % 50 AS RegionID",
        "CASE WHEN event_id % 16 = 0 THEN (event_id % 5) + 1 ELSE 0 END AS AdvEngineID",
        "event_id % 7 AS SearchEngineID",
        "CASE WHEN event_id % 5 = 0 THEN concat('phrase_', CAST(event_id % 199 AS string)) ELSE '' END AS SearchPhrase",
        "concat('http://example.com/page/', CAST(event_id % 1000 AS string)) AS URL",
        "concat('http://ref.example.org/', CAST(user_id % 300 AS string)) AS Referer",
        "800 + event_id % 400 AS ResolutionWidth",
        # % 1e9 BEFORE the Knuth multiply keeps the product inside
        # INT64 for any id scale (identity at the driver's scales,
        # where ids stay below 1e9; the sf1 build offsets ids past it)
        "pmod((user_id % 1000000000) * 2654435761, 4294967296) AS ClientIP",
        "CAST(event_id % 10 = 0 AS int) AS Refresh",
        "event_id % 13 - 6 AS TraficSourceID",
        "event_id % 9 AS MobilePhone",
        "CASE WHEN user_id % 4 = 0 THEN concat('model_', CAST(user_id % 23 AS string)) ELSE '' END AS MobilePhoneModel",
        "CASE WHEN event_id % 7 = 0 THEN concat('Яндекс страница ', CAST(event_id % 500 AS string)) "
        "ELSE concat('Page title ', CAST(event_id % 500 AS string)) END AS Title",
        "(event_id % 1000000000) * 2654435761 AS WatchID",
        "CAST(event_id % 17 = 0 AS int) AS DontCountHits",
        "CAST(event_id % 11 = 0 AS int) AS IsLink",
        "CAST(event_id % 33 = 0 AS int) AS IsDownload",
        "(event_id % 1000) * 2654435761 % 4294967296 AS URLHash",
        "(user_id % 300) * 2654435761 % 4294967296 AS RefererHash",
        "1000 + event_id % 800 AS WindowClientWidth",
        "600 + event_id % 600 AS WindowClientHeight",
        # full-range UInt64 analog: Decimal(20,0) beyond Int64 max (Q20);
        # the outer cast pins back to (20,0) — Spark widens decimal
        # addition to (21,0), which would hash-differently from the
        # oracle's DECIMAL(20,0)
        "CAST(CAST('12345678901234567800' AS decimal(20,0))"
        " + CAST(user_id % 100 AS decimal(20,0)) AS decimal(20,0)) AS UserID64",
    )


# identical projection for the DuckDB oracle (kept in lockstep with the
# Spark expressions above — both engines derive the same columns)
_HITS_CTE = """
    WITH hits AS (
      SELECT ts AS EventTime,
             CAST(ts AS DATE) AS EventDate,
             user_id AS UserID,
             user_id % 100 AS CounterID,
             user_id % 50 AS RegionID,
             CASE WHEN event_id % 16 = 0 THEN (event_id % 5) + 1 ELSE 0 END AS AdvEngineID,
             event_id % 7 AS SearchEngineID,
             CASE WHEN event_id % 5 = 0 THEN 'phrase_' || CAST(event_id % 199 AS VARCHAR) ELSE '' END AS SearchPhrase,
             'http://example.com/page/' || CAST(event_id % 1000 AS VARCHAR) AS URL,
             'http://ref.example.org/' || CAST(user_id % 300 AS VARCHAR) AS Referer,
             800 + event_id % 400 AS ResolutionWidth,
             (((user_id % 1000000000) * 2654435761) % 4294967296 + 4294967296) % 4294967296 AS ClientIP,
             CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS Refresh,
             event_id % 13 - 6 AS TraficSourceID,
             event_id % 9 AS MobilePhone,
             CASE WHEN user_id % 4 = 0 THEN 'model_' || CAST(user_id % 23 AS VARCHAR) ELSE '' END AS MobilePhoneModel,
             CASE WHEN event_id % 7 = 0 THEN 'Яндекс страница ' || CAST(event_id % 500 AS VARCHAR)
                  ELSE 'Page title ' || CAST(event_id % 500 AS VARCHAR) END AS Title,
             (event_id % 1000000000) * 2654435761 AS WatchID,
             CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END AS DontCountHits,
             CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS IsLink,
             CASE WHEN event_id % 33 = 0 THEN 1 ELSE 0 END AS IsDownload,
             (event_id % 1000) * 2654435761 % 4294967296 AS URLHash,
             (user_id % 300) * 2654435761 % 4294967296 AS RefererHash,
             1000 + event_id % 800 AS WindowClientWidth,
             600 + event_id % 600 AS WindowClientHeight,
             CAST(12345678901234567800 + (user_id % 100) AS DECIMAL(20,0)) AS UserID64
      FROM events
    )
"""


def _hq(name: str, oracle_body: str, doc: str):
    return query(name, _HITS_CTE + oracle_body, doc=doc, tags=("hits_bench",))


@_hq(
    "hits_q01_count",
    "SELECT COUNT(*) AS cnt FROM hits",
    "benchmark Q1: SELECT count() (queries.sql:1)",
)
@_plan_cache
def hits_q01(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(F.count(F.lit(1)).alias("cnt"))


@_hq(
    "hits_q02_filtered_count",
    "SELECT COUNT(*) AS cnt FROM hits WHERE AdvEngineID <> 0",
    "benchmark Q2: filtered count (queries.sql:2)",
)
@_plan_cache
def hits_q02(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("AdvEngineID") != 0)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_hq(
    "hits_q03_triple_agg",
    "SELECT CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a FROM hits",
    "benchmark Q3: sum + count + avg in one pass (queries.sql:3)",
)
@_plan_cache
def hits_q03(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(
        F.sum("AdvEngineID").alias("s"),
        F.count(F.lit(1)).alias("c"),
        F.avg("ResolutionWidth").alias("a"),
    )


@_hq(
    "hits_q05_uniq_users",
    "SELECT COUNT(DISTINCT UserID) AS u FROM hits",
    "benchmark Q5: uniq(UserID), exact form (queries.sql:5)",
)
@_plan_cache
def hits_q05(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(F.countDistinct("UserID").alias("u"))


@_hq(
    "hits_q07_minmax_date",
    "SELECT MIN(EventDate) AS lo, MAX(EventDate) AS hi FROM hits",
    "benchmark Q7: min/max EventDate (queries.sql:7)",
)
@_plan_cache
def hits_q07(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(
        F.min("EventDate").alias("lo"), F.max("EventDate").alias("hi")
    )


@_hq(
    "hits_q08_adv_group",
    """
    SELECT AdvEngineID, COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0
    GROUP BY AdvEngineID ORDER BY c DESC, AdvEngineID
    """,
    "benchmark Q8: small-cardinality GROUP BY ordered by count (queries.sql:8)",
)
@_plan_cache
def hits_q08(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("AdvEngineID") != 0)
        .groupBy("AdvEngineID")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "AdvEngineID")
    )


@_hq(
    "hits_q09_region_uniq",
    """
    SELECT RegionID, COUNT(DISTINCT UserID) AS u FROM hits
    GROUP BY RegionID ORDER BY u DESC, RegionID LIMIT 10
    """,
    "benchmark Q9: GROUP BY + uniq top-10 (queries.sql:9)",
)
@_plan_cache
def hits_q09(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("RegionID")
        .agg(F.countDistinct("UserID").alias("u"))
        .orderBy(F.desc("u"), "RegionID")
        .limit(10)
    )


@_hq(
    "hits_q13_phrase_top",
    """
    SELECT SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> ''
    GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10
    """,
    "benchmark Q13: hot-key string GROUP BY top-10 (queries.sql:13)",
)
@_plan_cache
def hits_q13(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .groupBy("SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q17_user_phrase",
    """
    SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
    GROUP BY UserID, SearchPhrase ORDER BY c DESC, UserID, SearchPhrase LIMIT 10
    """,
    "benchmark Q17: wide two-key GROUP BY (the heavy shape, queries.sql:17)",
)
@_plan_cache
def hits_q17(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("UserID", "SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "UserID", "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q19_minute_group",
    """
    SELECT UserID, minute(EventTime) AS m, SearchPhrase, COUNT(*) AS c FROM hits
    GROUP BY UserID, m, SearchPhrase ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10
    """,
    "benchmark Q19: three-key GROUP BY with time extraction (queries.sql:19)",
)
@_plan_cache
def hits_q19(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy(
            "UserID", F.minute("EventTime").alias("m"), "SearchPhrase"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "UserID", "m", "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q21_url_like",
    "SELECT COUNT(*) AS cnt FROM hits WHERE URL LIKE '%page/42%'",
    "benchmark Q21: substring scan (queries.sql:21)",
)
@_plan_cache
def hits_q21(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("URL").like("%page/42%"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_hq(
    "hits_q27_order_scan",
    """
    SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
    ORDER BY EventTime, SearchPhrase LIMIT 10
    """,
    "benchmark Q27: filter + ORDER BY scan, top-N pushdown (queries.sql:27)",
)
@_plan_cache
def hits_q27(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .orderBy("EventTime", "SearchPhrase")
        .select("SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q28_having",
    """
    SELECT CounterID, AVG(length(URL)) AS l, COUNT(*) AS c FROM hits
    GROUP BY CounterID HAVING COUNT(*) > 50 ORDER BY l DESC, CounterID LIMIT 25
    """,
    "benchmark Q28: HAVING on group count (queries.sql:28; threshold scaled "
    "to the synthetic row count)",
)
@_plan_cache
def hits_q28(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("CounterID")
        .agg(
            F.avg(F.length("URL")).alias("l"), F.count(F.lit(1)).alias("c")
        )
        .filter(F.col("c") > 50)
        .orderBy(F.desc("l"), "CounterID")
        .limit(25)
    )


@_hq(
    "hits_q30_ninety_sums",
    "SELECT "
    + ", ".join(f"CAST(SUM(ResolutionWidth + {i}) AS BIGINT) AS s{i}" for i in range(90))
    + " FROM hits",
    "benchmark Q30: 90 simultaneous sums — codegen-width stress (queries.sql:30)",
)
@_plan_cache
def hits_q30(spark, sf_dir):
    # F.expr strings: 90 py4j calls instead of 450 (sum+add+lit+alias
    # chains) — ~0.5 s of build time per bench run at r7, measured
    return hits_view(spark, sf_dir).agg(
        *[F.expr(f"sum(ResolutionWidth + {i}) AS s{i}") for i in range(90)]
    )


@_hq(
    "hits_q35_ip_keys",
    """
    SELECT ClientIP AS x, ClientIP - 1 AS x1, ClientIP - 2 AS x2,
           ClientIP - 3 AS x3, COUNT(*) AS c
    FROM hits GROUP BY ClientIP ORDER BY c DESC, x LIMIT 10
    """,
    "benchmark Q36: arithmetic-derived group keys (queries.sql:36; "
    "name kept from round 1 for bench continuity)",
)
@_plan_cache
def hits_q35(spark, sf_dir):
    x = F.col("ClientIP")
    return (
        hits_view(spark, sf_dir)
        .groupBy(
            x.alias("x"),
            (x - 1).alias("x1"),
            (x - 2).alias("x2"),
            (x - 3).alias("x3"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "x")
        .limit(10)
    )


@_hq(
    "hits_q39_ternary_src",
    """
    SELECT TraficSourceID, SearchEngineID, AdvEngineID,
           CASE WHEN SearchEngineID = 0 AND AdvEngineID = 0 THEN Referer ELSE '' END AS Src,
           URL AS Dst, COUNT(*) AS PageViews
    FROM hits WHERE CounterID = 34 AND Refresh = 0
    GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
    ORDER BY PageViews DESC, TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
    LIMIT 100
    """,
    "benchmark Q40: ternary source attribution over five keys (queries.sql:40 "
    "— the '?:' operator form; name kept from round 1 for bench continuity)",
)
@_plan_cache
def hits_q39(spark, sf_dir):
    src = F.when(
        (F.col("SearchEngineID") == 0) & (F.col("AdvEngineID") == 0),
        F.col("Referer"),
    ).otherwise(F.lit(""))
    return (
        hits_view(spark, sf_dir)
        .filter((F.col("CounterID") == 34) & (F.col("Refresh") == 0))
        .groupBy(
            "TraficSourceID",
            "SearchEngineID",
            "AdvEngineID",
            src.alias("Src"),
            F.col("URL").alias("Dst"),
        )
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(
            F.desc("PageViews"),
            "TraficSourceID",
            "SearchEngineID",
            "AdvEngineID",
            "Src",
            "Dst",
        )
        .limit(100)
    )


@_hq(
    "hits_q43_minute_rollup",
    """
    SELECT date_trunc('minute', EventTime) AS Minute, COUNT(*) AS PageViews
    FROM hits WHERE CounterID = 34 AND Refresh = 0
    GROUP BY Minute ORDER BY Minute
    """,
    "benchmark Q43: per-minute drill-down rollup (queries.sql:43)",
)
@_plan_cache
def hits_q43(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter((F.col("CounterID") == 34) & (F.col("Refresh") == 0))
        .groupBy(F.date_trunc("minute", F.col("EventTime")).alias("Minute"))
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy("Minute")
    )


# ---- round-2 additions: the remaining queries.sql lines --------------------

_DRILL = (
    "CounterID = 34 AND EventDate >= DATE '2024-01-05' "
    "AND EventDate <= DATE '2024-01-12'"
)


def _drill(df: DataFrame) -> DataFrame:
    """Shared Q37-Q43 drill-down filter (CounterID + date window, scaled
    to the synthetic January 2024 range)."""
    return df.filter(
        (F.col("CounterID") == 34)
        & (F.col("EventDate") >= F.lit("2024-01-05").cast("date"))
        & (F.col("EventDate") <= F.lit("2024-01-12").cast("date"))
    )


@_hq(
    "hits_q04_sum_uid",
    "SELECT CAST(SUM(UserID) AS BIGINT) AS s FROM hits",
    "benchmark Q4: sum over a key column (queries.sql:4)",
)
@_plan_cache
def hits_q04(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(F.sum("UserID").alias("s"))


@_hq(
    "hits_q06_uniq_phrase",
    "SELECT COUNT(DISTINCT SearchPhrase) AS u FROM hits",
    "benchmark Q6: uniq(SearchPhrase), exact form (queries.sql:6)",
)
@_plan_cache
def hits_q06(spark, sf_dir):
    return hits_view(spark, sf_dir).agg(F.countDistinct("SearchPhrase").alias("u"))


@_hq(
    "hits_q10_region_multi",
    """
    SELECT RegionID, CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c,
           AVG(ResolutionWidth) AS a, COUNT(DISTINCT UserID) AS u
    FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10
    """,
    "benchmark Q10: four aggregates incl. distinct per region (queries.sql:10)",
)
@_plan_cache
def hits_q10(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("RegionID")
        .agg(
            F.sum("AdvEngineID").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.avg("ResolutionWidth").alias("a"),
            F.countDistinct("UserID").alias("u"),
        )
        .orderBy(F.desc("c"), "RegionID")
        .limit(10)
    )


@_hq(
    "hits_q11_phone_model",
    """
    SELECT MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits
    WHERE MobilePhoneModel <> '' GROUP BY MobilePhoneModel
    ORDER BY u DESC, MobilePhoneModel LIMIT 10
    """,
    "benchmark Q11: filtered string-key GROUP BY + uniq (queries.sql:11)",
)
@_plan_cache
def hits_q11(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("MobilePhoneModel") != "")
        .groupBy("MobilePhoneModel")
        .agg(F.countDistinct("UserID").alias("u"))
        .orderBy(F.desc("u"), "MobilePhoneModel")
        .limit(10)
    )


@_hq(
    "hits_q12_phone_pair",
    """
    SELECT MobilePhone, MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits
    WHERE MobilePhoneModel <> '' GROUP BY MobilePhone, MobilePhoneModel
    ORDER BY u DESC, MobilePhone, MobilePhoneModel LIMIT 10
    """,
    "benchmark Q12: two-key GROUP BY + uniq (queries.sql:12)",
)
@_plan_cache
def hits_q12(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("MobilePhoneModel") != "")
        .groupBy("MobilePhone", "MobilePhoneModel")
        .agg(F.countDistinct("UserID").alias("u"))
        .orderBy(F.desc("u"), "MobilePhone", "MobilePhoneModel")
        .limit(10)
    )


@_hq(
    "hits_q14_phrase_uniq",
    """
    SELECT SearchPhrase, COUNT(DISTINCT UserID) AS u FROM hits
    WHERE SearchPhrase <> '' GROUP BY SearchPhrase
    ORDER BY u DESC, SearchPhrase LIMIT 10
    """,
    "benchmark Q14: phrase top-10 by distinct users (queries.sql:14)",
)
@_plan_cache
def hits_q14(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .groupBy("SearchPhrase")
        .agg(F.countDistinct("UserID").alias("u"))
        .orderBy(F.desc("u"), "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q15_engine_phrase",
    """
    SELECT SearchEngineID, SearchPhrase, COUNT(*) AS c FROM hits
    WHERE SearchPhrase <> '' GROUP BY SearchEngineID, SearchPhrase
    ORDER BY c DESC, SearchEngineID, SearchPhrase LIMIT 10
    """,
    "benchmark Q15: engine+phrase GROUP BY top-10 (queries.sql:15)",
)
@_plan_cache
def hits_q15(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .groupBy("SearchEngineID", "SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "SearchEngineID", "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q16_user_top",
    """
    SELECT UserID, COUNT(*) AS c FROM hits
    GROUP BY UserID ORDER BY c DESC, UserID LIMIT 10
    """,
    "benchmark Q16: per-user counts top-10 (queries.sql:16)",
)
@_plan_cache
def hits_q16(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("UserID")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "UserID")
        .limit(10)
    )


@_hq(
    "hits_q18_group_limit",
    """
    SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
    GROUP BY UserID, SearchPhrase ORDER BY UserID, SearchPhrase LIMIT 10
    """,
    "benchmark Q18: GROUP BY ... LIMIT without ORDER (queries.sql:18; "
    "pinned to key order — a bare LIMIT is nondeterministic on both engines)",
)
@_plan_cache
def hits_q18(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("UserID", "SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("UserID", "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q20_uint64_full",
    """
    SELECT CAST(UserID64 AS VARCHAR) AS uid64 FROM hits
    WHERE UserID64 = 12345678901234567890 ORDER BY uid64 LIMIT 100
    """,
    "benchmark Q20: UInt64 literal above Int64 max — full-range path via "
    "Decimal(20,0) (queries.sql:20, SURVEY §7 hard part; "
    "functions/conversion.py toUInt64Full)",
)
@_plan_cache
def hits_q20(spark, sf_dir):
    lit = F.lit("12345678901234567890").cast("decimal(20,0)")
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("UserID64") == lit)
        .select(F.col("UserID64").cast("string").alias("uid64"))
        .orderBy("uid64")
        .limit(100)
    )


@_hq(
    "hits_q22_phrase_url",
    """
    SELECT SearchPhrase, MIN(URL) AS u, COUNT(*) AS c FROM hits
    WHERE URL LIKE '%page/42%' AND SearchPhrase <> ''
    GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10
    """,
    "benchmark Q22: LIKE scan + any(URL) (queries.sql:22; any pinned to min "
    "for determinism)",
)
@_plan_cache
def hits_q22(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("URL").like("%page/42%") & (F.col("SearchPhrase") != ""))
        .groupBy("SearchPhrase")
        .agg(F.min("URL").alias("u"), F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q23_title_scan",
    """
    SELECT SearchPhrase, MIN(URL) AS u, MIN(Title) AS t, COUNT(*) AS c,
           COUNT(DISTINCT UserID) AS uu
    FROM hits
    WHERE Title LIKE '%Яндекс%' AND URL NOT LIKE '%page/9%' AND SearchPhrase <> ''
    GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10
    """,
    "benchmark Q23: multi-LIKE (incl. cyrillic Title) + NOT LIKE + uniq "
    "(queries.sql:23; any pinned to min)",
)
@_plan_cache
def hits_q23(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(
            F.col("Title").like("%Яндекс%")
            & ~F.col("URL").like("%page/9%")
            & (F.col("SearchPhrase") != "")
        )
        .groupBy("SearchPhrase")
        .agg(
            F.min("URL").alias("u"),
            F.min("Title").alias("t"),
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("UserID").alias("uu"),
        )
        .orderBy(F.desc("c"), "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q24_star_prewhere",
    """
    SELECT * REPLACE (CAST(UserID64 AS VARCHAR) AS UserID64)
    FROM hits WHERE URL LIKE '%page/123%'
    ORDER BY EventTime, WatchID, UserID LIMIT 10
    """,
    "benchmark Q24: SELECT * with PREWHERE LIKE + time order (queries.sql:24; "
    "PREWHERE folds into the scan filter, WatchID breaks time ties). "
    "UserID64 is emitted as VARCHAR on both sides: DuckDB's fetch path "
    "renders DECIMAL(20,0) as float64 while Spark keeps the exact Decimal "
    "— equal values, unequal serializations (the hits_q20 pattern).",
)
@_plan_cache
def hits_q24(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("URL").like("%page/123%"))
        # UserID joins the tiebreak: WatchID is unique at driver
        # scales but collapses across sf1 replicas (mod-1e9 image),
        # and SELECT * carries replica-varying columns
        .orderBy("EventTime", "WatchID", "UserID")
        .limit(10)
        .withColumn("UserID64", F.col("UserID64").cast("string"))
    )


@_hq(
    "hits_q25_time_scan",
    """
    SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
    ORDER BY EventTime, WatchID LIMIT 10
    """,
    "benchmark Q25: ORDER BY EventTime scan (queries.sql:25; WatchID tiebreak)",
)
@_plan_cache
def hits_q25(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .orderBy("EventTime", "WatchID")
        .select("SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q26_phrase_scan",
    """
    SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
    ORDER BY SearchPhrase, WatchID LIMIT 10
    """,
    "benchmark Q26: ORDER BY string scan (queries.sql:26; WatchID tiebreak)",
)
@_plan_cache
def hits_q26(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .orderBy("SearchPhrase", "WatchID")
        .select("SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q29_referer_domain",
    """
    SELECT regexp_extract(Referer, 'https?://(?:www\\.)?([^/]+)', 1) AS key,
           AVG(length(Referer)) AS l, COUNT(*) AS c, MIN(Referer) AS r
    FROM hits WHERE Referer <> ''
    GROUP BY key HAVING COUNT(*) > 100 ORDER BY l DESC, key LIMIT 25
    """,
    "benchmark Q29: domainWithoutWWW rollup with HAVING (queries.sql:29; "
    "threshold scaled, any pinned to min; functions/url.py domainWithoutWWW)",
)
@_plan_cache
def hits_q29(spark, sf_dir):
    key = F.regexp_extract(F.col("Referer"), r"https?://(?:www\.)?([^/]+)", 1)
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("Referer") != "")
        .groupBy(key.alias("key"))
        .agg(
            F.avg(F.length("Referer")).alias("l"),
            F.count(F.lit(1)).alias("c"),
            F.min("Referer").alias("r"),
        )
        .filter(F.col("c") > 100)
        .orderBy(F.desc("l"), "key")
        .limit(25)
    )


@_hq(
    "hits_q31_engine_ip",
    """
    SELECT SearchEngineID, ClientIP, COUNT(*) AS c, CAST(SUM(Refresh) AS BIGINT) AS r,
           AVG(ResolutionWidth) AS a
    FROM hits WHERE SearchPhrase <> ''
    GROUP BY SearchEngineID, ClientIP
    ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10
    """,
    "benchmark Q31: filtered two-key GROUP BY, three aggregates (queries.sql:31)",
)
@_plan_cache
def hits_q31(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .groupBy("SearchEngineID", "ClientIP")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("Refresh").alias("r"),
            F.avg("ResolutionWidth").alias("a"),
        )
        .orderBy(F.desc("c"), "SearchEngineID", "ClientIP")
        .limit(10)
    )


@_hq(
    "hits_q32_watch_ip_filtered",
    """
    SELECT WatchID, ClientIP, COUNT(*) AS c, CAST(SUM(Refresh) AS BIGINT) AS r,
           AVG(ResolutionWidth) AS a
    FROM hits WHERE SearchPhrase <> ''
    GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10
    """,
    "benchmark Q32: near-unique-key GROUP BY, filtered (queries.sql:32 — "
    "high-cardinality hash-agg stress)",
)
@_plan_cache
def hits_q32(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(F.col("SearchPhrase") != "")
        .groupBy("WatchID", "ClientIP")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("Refresh").alias("r"),
            F.avg("ResolutionWidth").alias("a"),
        )
        .orderBy(F.desc("c"), "WatchID", "ClientIP")
        .limit(10)
    )


@_hq(
    "hits_q33_watch_ip_all",
    """
    SELECT WatchID, ClientIP, COUNT(*) AS c, CAST(SUM(Refresh) AS BIGINT) AS r,
           AVG(ResolutionWidth) AS a
    FROM hits GROUP BY WatchID, ClientIP
    ORDER BY c DESC, WatchID, ClientIP LIMIT 10
    """,
    "benchmark Q33: unfiltered near-unique-key GROUP BY (queries.sql:33 — "
    "the heaviest hash-agg in the suite)",
)
@_plan_cache
def hits_q33(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("WatchID", "ClientIP")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("Refresh").alias("r"),
            F.avg("ResolutionWidth").alias("a"),
        )
        .orderBy(F.desc("c"), "WatchID", "ClientIP")
        .limit(10)
    )


@_hq(
    "hits_q34_url_top",
    """
    SELECT URL, COUNT(*) AS c FROM hits
    GROUP BY URL ORDER BY c DESC, URL LIMIT 10
    """,
    "benchmark Q34: heavy string-key GROUP BY (queries.sql:34)",
)
@_plan_cache
def hits_q34(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy("URL")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "URL")
        .limit(10)
    )


@_hq(
    "hits_q35_const_url",
    """
    SELECT 1 AS one, URL, COUNT(*) AS c FROM hits
    GROUP BY one, URL ORDER BY c DESC, URL LIMIT 10
    """,
    "benchmark Q35: constant + string GROUP BY (queries.sql:35 — the constant "
    "key the reference's optimizeGroupBy would drop)",
)
@_plan_cache
def hits_q35_const(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .groupBy(F.lit(1).alias("one"), F.col("URL"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "URL")
        .limit(10)
    )


@_hq(
    "hits_q37_url_pageviews",
    f"""
    SELECT URL, COUNT(*) AS PageViews FROM hits
    WHERE {_DRILL} AND DontCountHits = 0 AND Refresh = 0 AND URL <> ''
    GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10
    """,
    "benchmark Q37: counter drill-down, URL pageviews (queries.sql:37; date "
    "window scaled to the synthetic range)",
)
@_plan_cache
def hits_q37(spark, sf_dir):
    return (
        _drill(hits_view(spark, sf_dir))
        .filter(
            (F.col("DontCountHits") == 0)
            & (F.col("Refresh") == 0)
            & (F.col("URL") != "")
        )
        .groupBy("URL")
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(F.desc("PageViews"), "URL")
        .limit(10)
    )


@_hq(
    "hits_q38_title_pageviews",
    f"""
    SELECT Title, COUNT(*) AS PageViews FROM hits
    WHERE {_DRILL} AND DontCountHits = 0 AND Refresh = 0 AND Title <> ''
    GROUP BY Title ORDER BY PageViews DESC, Title LIMIT 10
    """,
    "benchmark Q38: counter drill-down, Title pageviews (queries.sql:38)",
)
@_plan_cache
def hits_q38(spark, sf_dir):
    return (
        _drill(hits_view(spark, sf_dir))
        .filter(
            (F.col("DontCountHits") == 0)
            & (F.col("Refresh") == 0)
            & (F.col("Title") != "")
        )
        .groupBy("Title")
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(F.desc("PageViews"), "Title")
        .limit(10)
    )


@_hq(
    "hits_q39_link_pageviews",
    f"""
    SELECT URL, COUNT(*) AS PageViews FROM hits
    WHERE {_DRILL} AND Refresh = 0 AND IsLink = 1 AND IsDownload = 0
    GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 1000
    """,
    "benchmark Q39: outbound-link pageviews (queries.sql:39)",
)
@_plan_cache
def hits_q39_links(spark, sf_dir):
    return (
        _drill(hits_view(spark, sf_dir))
        .filter(
            (F.col("Refresh") == 0)
            & (F.col("IsLink") == 1)
            & (F.col("IsDownload") == 0)
        )
        .groupBy("URL")
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(F.desc("PageViews"), "URL")
        .limit(1000)
    )


@_hq(
    "hits_q41_urlhash_drill",
    f"""
    SELECT URLHash, EventDate, COUNT(*) AS PageViews FROM hits
    WHERE {_DRILL} AND Refresh = 0 AND TraficSourceID IN (-1, 6)
      AND RefererHash = 3507073702
    GROUP BY URLHash, EventDate
    ORDER BY PageViews DESC, URLHash, EventDate LIMIT 100
    """,
    "benchmark Q41: PK-pruned drill-down on hash equality + IN (queries.sql:41; "
    "halfMD5(referer) stands in as the deterministic RefererHash derivation; constant chosen consistent with CounterID = 34)",
)
@_plan_cache
def hits_q41(spark, sf_dir):
    return (
        _drill(hits_view(spark, sf_dir))
        .filter(
            (F.col("Refresh") == 0)
            & F.col("TraficSourceID").isin(-1, 6)
            & (F.col("RefererHash") == 3507073702)
        )
        .groupBy("URLHash", "EventDate")
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(F.desc("PageViews"), "URLHash", "EventDate")
        .limit(100)
    )


@_hq(
    "hits_q42_window_size",
    """
    SELECT WindowClientWidth, WindowClientHeight, COUNT(*) AS PageViews
    FROM hits
    WHERE EventDate >= DATE '2024-01-05' AND EventDate <= DATE '2024-01-12'
      AND Refresh = 0 AND DontCountHits = 0
      AND URLHash = 4112119562
    GROUP BY WindowClientWidth, WindowClientHeight
    ORDER BY PageViews DESC, WindowClientWidth, WindowClientHeight LIMIT 10000
    """,
    "benchmark Q42: viewport-size histogram under single-URL hash drill-down "
    "(queries.sql:42; CounterID filter dropped — it is independent of URLHash "
    "in the synthetic derivation and would starve the result)",
)
@_plan_cache
def hits_q42(spark, sf_dir):
    return (
        hits_view(spark, sf_dir)
        .filter(
            (F.col("EventDate") >= F.lit("2024-01-05").cast("date"))
            & (F.col("EventDate") <= F.lit("2024-01-12").cast("date"))
        )
        .filter(
            (F.col("Refresh") == 0)
            & (F.col("DontCountHits") == 0)
            & (F.col("URLHash") == 4112119562)
        )
        .groupBy("WindowClientWidth", "WindowClientHeight")
        .agg(F.count(F.lit(1)).alias("PageViews"))
        .orderBy(F.desc("PageViews"), "WindowClientWidth", "WindowClientHeight")
        .limit(10000)
    )


# ---- STORED hits table (the representation the baseline actually measures) --
#
# BASELINE.md's ClickHouse numbers read STORED columns; every derived-
# view entry above instead re-derives ~25 columns of string/CASE
# arithmetic inside the scan on every run — a per-row projection tax
# the reference never paid (visible on the string-scan shapes: q13/q21
# were the last >2x ratios at sf1).  The engine already owns the fix:
# write the projection ONCE as a MergeTree table with LowCardinality
# string columns, and run the benched shape against the stored table.
# The *_stored entries below keep the derived-view entries (and their
# oracles) untouched; each stored entry's oracle is the SAME SQL as
# its derived twin, so value equality also proves the store+LC paths.

# v4: overflow-safe ClientIP/WatchID derivation (mod 1e9 before the
# Knuth multiply — identity at driver scales, required at sf1 ids)
_HITS_STORE_VERSION = 7  # v7: even range parts, clamp(bytes/16M, 8, 32)


def _hits_store_path(sf_dir: str) -> str:
    import os

    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf").lstrip(".")
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo, "spark-warehouse", f"hits_store_{tag}")


def ensure_hits_stored(spark: SparkSession, sf_dir: str) -> str:
    """Build-once hits MergeTree store: month partitions, PK
    (CounterID, UserID), LowCardinality dictionaries on the three
    bounded string columns.  A meta marker (projection version +
    source signature) keys rebuilds, so a deleted store or a
    regenerated source (even at the same byte size) rebuilds."""
    import json
    import os

    from ..session import dir_size_bytes

    path = _hits_store_path(sf_dir)
    meta_p = os.path.join(path, "_HITS_STORE_META")
    src = os.path.join(sf_dir, "events.parquet")
    # JSON round trip: the marker stores the signature's tuples as lists
    sig = json.loads(json.dumps([_HITS_STORE_VERSION, source_sig(src)]))
    try:
        with open(meta_p) as fh:
            if json.load(fh) == sig:
                return path
    except (OSError, ValueError):
        pass
    from ..sources.mergetree import write_mergetree
    from .engines import _atomic_publish

    staging = f"{path}.__build_{os.getpid()}__"
    # Parts sized to the DATA, clamped to [8, 32]: parquet splits
    # scans at row-group (= file, at our sizes) granularity, so parts
    # set scan AND partial-agg parallelism — but each file costs
    # ~3 ms of open/footer per scan, which dominates sub-second scans
    # of small tables (r11, all measured: a fixed 32 parts regressed
    # every *_stored entry 1.3-2x at sf0.1/1M rows while being
    # exactly right at 10M; a size-only rule with no floor collapsed
    # sf0.1 to ONE part and its queries went single-task-scan slow).
    # ~8 MB/part at scale, an 8-way parallelism floor below it.
    est = 2 * dir_size_bytes(src)  # stored table ~= 2x source parquet
    parts = int(min(32, max(8, est // (8 << 20))))
    write_mergetree(
        hits_view(spark, sf_dir),
        staging,
        "EventDate",
        ["CounterID", "UserID"],
        mode="overwrite",
        low_cardinality=["SearchPhrase", "URL", "Title"],
        # multiple parts per month so scans parallelize even when one
        # month's data fits a single row group (MergeTree has many
        # parts per partition for the same reason)
        parts_per_partition=parts,
    )
    with open(os.path.join(staging, "_HITS_STORE_META"), "w") as fh:
        json.dump(sig, fh)
    _atomic_publish(staging, path)
    return path


# the base DataFrame per (session, store path): rebuilding it costs
# ~0.15 s of driver analysis/listing per call (measured r10), which a
# real deployment pays once at table registration, not per query
_STORED_BASE = Memo()


def _stored(spark: SparkSession, sf_dir: str):
    """(path, coded DataFrame) of the stored hits table."""
    from ..sources.mergetree import read_mergetree

    path = ensure_hits_stored(spark, sf_dir)
    return path, _STORED_BASE.get_or_build(
        spark, path, lambda: source_sig(path),
        lambda: read_mergetree(spark, path, decode_lc=False),
    )


# LC codes are assigned in VALUE order on a one-shot overwrite (see
# write_mergetree), so ORDER BY code == ORDER BY value and top-K can
# run on the int codes BEFORE the 10-row decode.  (Append-mode tables
# lose this invariant — new values take codes after the max — which is
# why the *_stored entries rebuild with overwrite, never append.)


@_hq(
    "hits_q13_stored",
    """
    SELECT SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> ''
    GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10
    """,
    "benchmark Q13 against the STORED hits table: GROUP BY on the "
    "LowCardinality int code (4-byte hash/shuffle keys instead of "
    "strings), decode on the <=200 group rows (late materialization).",
)
@_plan_cache(watch=_hits_store_path)
def hits_q13_stored(spark, sf_dir):
    from ..sources.mergetree import lc_decode_expr

    path, hits = _stored(spark, sf_dir)
    return (
        hits.select("SearchPhrase")
        .groupBy("SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        # decode = map-literal projection over the <=200 group rows
        .withColumn(
            "SearchPhrase", lc_decode_expr(spark, path, "SearchPhrase")
        )
        .filter(F.col("SearchPhrase") != "")
        .orderBy(F.desc("c"), "SearchPhrase")
        .limit(10)
    )


@_hq(
    "hits_q17_stored",
    """
    SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits
    GROUP BY UserID, SearchPhrase ORDER BY c DESC, UserID, SearchPhrase LIMIT 10
    """,
    "benchmark Q17 against the STORED hits table: the heavy two-key "
    "GROUP BY hashes (long, int-code) pairs; top-10 runs on codes "
    "(order-preserving dictionary) so only 10 rows decode.",
)
@_plan_cache(watch=_hits_store_path)
def hits_q17_stored(spark, sf_dir):
    from ..sources.mergetree import lc_decode_expr

    path, hits = _stored(spark, sf_dir)
    return (
        hits.select("UserID", "SearchPhrase")
        .groupBy("UserID", "SearchPhrase")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "UserID", "SearchPhrase")
        .limit(10)
        .withColumn(
            "SearchPhrase", lc_decode_expr(spark, path, "SearchPhrase")
        )
        .select("UserID", "SearchPhrase", "c")
    )


@_hq(
    "hits_q19_stored",
    """
    SELECT UserID, minute(EventTime) AS m, SearchPhrase, COUNT(*) AS c FROM hits
    GROUP BY UserID, m, SearchPhrase ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10
    """,
    "benchmark Q19 against the STORED hits table: three-key GROUP BY "
    "with the phrase as an int code; top-10 on codes, 10-row decode.",
)
@_plan_cache(watch=_hits_store_path)
def hits_q19_stored(spark, sf_dir):
    from ..sources.mergetree import lc_decode_expr

    path, hits = _stored(spark, sf_dir)
    return (
        hits.select("UserID", "EventTime", "SearchPhrase")
        .groupBy(
            "UserID", F.minute("EventTime").alias("m"), "SearchPhrase"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "UserID", "m", "SearchPhrase")
        .limit(10)
        .withColumn(
            "SearchPhrase", lc_decode_expr(spark, path, "SearchPhrase")
        )
        .select("UserID", "m", "SearchPhrase", "c")
    )


@_hq(
    "hits_q21_stored",
    "SELECT COUNT(*) AS cnt FROM hits WHERE URL LIKE '%page/42%'",
    "benchmark Q21 against the STORED hits table: the LIKE runs over "
    "the 1000-row URL DICTIONARY, not the data; qualifying codes "
    "broadcast into a semi join against the int code column — the "
    "classic LowCardinality substring-scan rewrite.",
)
@_plan_cache(watch=_hits_store_path)
def hits_q21_stored(spark, sf_dir):
    from ..sources.mergetree import lc_dict_map

    path, hits = _stored(spark, sf_dir)
    # the LIKE runs over the RAM-resident 1000-entry dictionary; the
    # matching CODES push into the parquet scan as an int IN-filter —
    # no join, no second job, row groups without the codes skip
    codes = [
        c for c, v in lc_dict_map(spark, path, "URL").items()
        if v is not None and "page/42" in v
    ]
    return (
        hits.select("URL")
        .filter(F.col("URL").isin(codes) if codes else F.lit(False))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_hq(
    "hits_q34_stored",
    """
    SELECT URL, COUNT(*) AS c FROM hits
    GROUP BY URL ORDER BY c DESC, URL LIMIT 10
    """,
    "benchmark Q34 against the STORED hits table: heavy string-key "
    "GROUP BY becomes an int-code GROUP BY; top-10 on codes "
    "(order-preserving dictionary), 10-row decode.",
)
@_plan_cache(watch=_hits_store_path)
def hits_q34_stored(spark, sf_dir):
    from ..sources.mergetree import lc_decode_expr

    path, hits = _stored(spark, sf_dir)
    return (
        hits.select("URL")
        .groupBy("URL")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "URL")
        .limit(10)
        .withColumn("URL", lc_decode_expr(spark, path, "URL"))
        .select("URL", "c")
    )
