"""Core query surface: scan/filter/aggregate/join/set-ops/sort/limit.

Mirrors the reference's SELECT pipeline (Interpreters/InterpreterSelectQuery.cpp:413
executeSingleQuery stitching: WHERE -> agg -> HAVING -> ORDER BY -> LIMIT BY
-> LIMIT) re-expressed as declarative DataFrame plans.  The CH-only
clauses (ANY JOIN, GLOBAL IN, WITH TOTALS, SAMPLE, ARRAY JOIN, FINAL)
run as CH-SQL through the dialect translator, their one lowering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dialect import TableMeta
from ..functions import aggregates as AGG
from ..operators.exact_sum import exact_sum_scaled, scaled_long
from ..sources.catalog import load_tables
from .dialect_q import _engine
from .registry import plan_cache as _plan_cache
from .registry import query


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    dfs = load_tables(spark, sf_dir, tuple(names))
    missing = [n for n in names if n not in dfs]
    if missing:
        raise FileNotFoundError(
            f"tables {missing} not found under {sf_dir!r} "
            f"(expected <table>.parquet files)"
        )
    return [dfs[n] for n in names]


def _dec(col: str, scale: int = 2) -> F.Column:
    """Cast to decimal so cross-engine sums are exact (see registry doc)."""
    return F.col(col).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Aggregation (reference Interpreters/Aggregator.h; Spark HashAggregateExec)
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(SUM(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2)) * (1 + l_tax::DECIMAL(18,2))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(l_quantity::DECIMAL(18,2)) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(l_discount::DECIMAL(18,2)) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Flagship: TPC-H Q1-shaped pricing summary (multi-agg GROUP BY). "
    "Reference analog: hash aggregation Interpreters/Aggregator.cpp:694.",
    tags=("aggregate", "flagship"),
)
@_plan_cache
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    # SCALED-LONG exact sums (the reference's Decimal-as-Int64 model,
    # AggregateFunctionSum over integer columns): every money value is
    # an exact 2-decimal double, so ``round(x*100) AS LONG`` is its
    # exact scaled-integer image, and all sums run as primitive long
    # adds inside whole-stage codegen.  A decimal SUM's buffer is
    # decimal(p+10, s) — beyond long-backing — so each row update
    # allocates a JVM BigDecimal: measured r9 at sf0.1, 4 decimal
    # sums = 1.06 s vs 0.42 s for primitive sums, and this rewrite
    # takes the whole query 1.52 -> 0.87 s with BIT-IDENTICAL output.
    #
    # Overflow safety at 100 TB (~10^12 lineitem rows): per-row terms
    # are bounded (qty*100 <= 5e3, price*100 < 1.05e7, disc_price
    # scaled 1e4 < 1.05e9, charge scaled 1e6 < 1.16e11 — TPC-H bounds,
    # SF-invariant), so the wide metrics sum as SPLIT hi/lo longs
    # (hi = v div 1e6, lo = v mod 1e6): sum(lo) < 1e6*n overflows only
    # past ~9e12 rows, sum(hi) even later; the exact total is
    # recombined per GROUP as decimal(36,0) and descaled by an exact
    # decimal multiply (36,0)x(3,2) -> (38,2)/(38,4)/(38,6), which
    # cannot clip.  Values are non-negative, so ``%`` == mod.
    # scaled_long = round-to-scaled-int without the per-row BigDecimal
    # Spark's Round-on-double allocates (r11: the agg core measured
    # 757 -> 388 ms at sf0.1 with this swap, value-identical)
    # Built as SQL-fragment strings (guide §7.3, same device as the
    # minhash/simhash builders): the Column form of this tree cost
    # ~1,229 py4j round trips ≈ 0.4-0.5 s of driver time per COLD
    # build (profiled r12; the plan memo hides it only for repeats).
    # Expression-for-expression identical to the former Column build —
    # the physical plan is byte-identical (plans/r12).
    def sl(col: str) -> str:
        # scaled_long twin: exact 2-decimal double -> scaled long
        v = f"(`{col}` * 100.0)"
        return f"CAST({v} + SIGNUM({v}) * 0.5 AS BIGINT)"

    def split_sum(x: str) -> str:
        # exact split hi/lo long sum recombined in decimal(36,0)
        return (
            f"CAST(SUM(CAST((`{x}` / 1000000) AS BIGINT)) AS DECIMAL(36,0))"
            f" * 1000000 + SUM(`{x}` % 1000000)"
        )

    c2 = "CAST('0.01' AS DECIMAL(3,2))"
    c4 = "CAST('0.0001' AS DECIMAL(5,4))"
    c6 = "CAST('0.000001' AS DECIMAL(7,6))"
    sum_q = "CAST(SUM(`q`) AS DECIMAL(36,0))"
    dp = f"{sl('l_extendedprice')} * (100 - {sl('l_discount')})"
    return (
        li.filter(
            "`l_shipdate` <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)"
        )
        .selectExpr(
            "l_returnflag", "l_linestatus",
            f"{sl('l_quantity')} AS q",
            f"{sl('l_extendedprice')} AS p",
            f"{sl('l_discount')} AS d",
            f"{dp} AS dp",
            f"{dp} * (100 + {sl('l_tax')}) AS ch",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST({sum_q} * {c2} AS DOUBLE) AS sum_qty"),
            F.expr(
                f"CAST(({split_sum('p')}) * {c2} AS DOUBLE) AS sum_base_price"
            ),
            # the 4/6-decimal money totals round to cents BEFORE the
            # double cast: past ~10^16 scaled units (sf1's sum_charge)
            # the exact decimal exceeds double's 2^53 mantissa, and
            # engines then disagree in the last ulp (DuckDB converts
            # int-then-divides = double rounding; the JVM cast rounds
            # once).  Cent precision keeps the cast exact to ~10^11
            # in magnitude — and is what TPC-H reports anyway.
            F.expr(
                f"CAST(ROUND(({split_sum('dp')}) * {c4}, 2) AS DOUBLE)"
                " AS sum_disc_price"
            ),
            F.expr(
                f"CAST(ROUND(({split_sum('ch')}) * {c6}, 2) AS DOUBLE)"
                " AS sum_charge"
            ),
            F.expr(f"CAST({sum_q} * {c2} AS DOUBLE) / COUNT(1) AS avg_qty"),
            F.expr(
                f"CAST(({split_sum('p')}) * {c2} AS DOUBLE) / COUNT(1)"
                " AS avg_price"
            ),
            F.expr(
                f"CAST(CAST(SUM(`d`) AS DECIMAL(36,0)) * {c2} AS DOUBLE)"
                " / COUNT(1) AS avg_disc"
            ),
            F.expr("COUNT(1) AS count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "count_star",
    "SELECT COUNT(*) AS cnt FROM lineitem",
    doc="SELECT count() — reference AggregateFunctionCount.h.",
    tags=("aggregate",),
)
@_plan_cache
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "filter_count",
    """
    SELECT COUNT(*) AS cnt,
           CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
    FROM events WHERE event_type = 'click' AND value > 5
    """,
    doc="WHERE/PREWHERE filter + agg; filter pushed to parquet scan "
    "(reference PREWHERE MergeTreeDataSelectExecutor.cpp:479-494).",
    tags=("filter",),
)
@_plan_cache
def filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return ev.filter((F.col("event_type") == "click") & (F.col("value") > 5)).agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_sum_scaled(F.col("value")).cast("double").alias("sum_value"),
    )


@query(
    "topk_group_order_limit",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events WHERE user_id != 0
    GROUP BY event_type ORDER BY cnt DESC, event_type LIMIT 10
    """,
    doc="Benchmark Q8 shape: GROUP BY + ORDER BY count DESC LIMIT k "
    "(TakeOrderedAndProject = reference's pre-LIMIT pushdown "
    "InterpreterSelectQuery.cpp:637-641).",
    tags=("aggregate", "topk"),
)
@_plan_cache
def topk_group_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") != 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("event_type"))
        .limit(10)
    )


@query(
    "uniq_exact",
    "SELECT COUNT(DISTINCT user_id) AS u FROM events",
    doc="uniqExact (AggregateFunctionUniq.h uniqExact variant).",
    tags=("aggregate",),
)
@_plan_cache
def uniq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return ev.agg(F.countDistinct("user_id").alias("u"))


@query(
    "uniq_approx",
    # HLL sketch values differ across engines by design, so the checked
    # contract is the HLL *accuracy invariant*: each engine's own
    # approximate distinct must land within 3% of the exact distinct
    # (the reference's 2^12-register profile: 1.04/sqrt(4096) ~= 1.6%
    # standard error, so 3% is just under 2 sigma), and the exact
    # distinct itself must agree between engines.
    """
    SELECT count(DISTINCT user_id) AS exact_u,
           CASE WHEN abs(approx_count_distinct(user_id)
                         - count(DISTINCT user_id)) * 1.0
                     / count(DISTINCT user_id) <= 0.03
                THEN 1 ELSE 0 END AS hll_within_3pct
    FROM events
    """,
    doc="uniq() — HLL approximate distinct (AggregateFunctionUniq.h:52-69), "
    "rsd pinned to the reference's 2^12-register error profile. Oracle "
    "checks the exact count plus the within-3%% HLL accuracy invariant "
    "on both engines (sketch values are engine-specific).",
    tags=("aggregate", "approx"),
)
@_plan_cache
def uniq_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = AGG.uniq("user_id")
    return ev.agg(
        exact.alias("exact_u"),
        F.when(
            F.abs(approx - exact) / exact <= 0.03, F.lit(1)
        ).otherwise(F.lit(0)).alias("hll_within_3pct"),
    )


@query(
    "group_min_max_any",
    """
    SELECT event_type,
           MIN(value) AS min_v, MAX(value) AS max_v,
           MIN(user_id) AS min_uid, MAX(user_id) AS max_uid,
           ARG_MIN(user_id, event_id) AS first_uid,
           ARG_MAX(user_id, event_id) AS last_uid
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="min/max + any/anyLast emulated deterministically as argMin/argMax "
    "by event_id (reference any = first row in stream order, "
    "AggregateFunctionsMinMaxAny.h; argMin/argMax AggregateFunctionsArgMinMax.h).",
    tags=("aggregate",),
)
@_plan_cache
def group_min_max_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.min("user_id").alias("min_uid"),
            F.max("user_id").alias("max_uid"),
            F.min_by("user_id", "event_id").alias("first_uid"),
            F.max_by("user_id", "event_id").alias("last_uid"),
        )
        .orderBy("event_type")
    )


@query(
    "having_filter",
    """
    SELECT user_id, COUNT(*) AS cnt FROM events
    GROUP BY user_id HAVING COUNT(*) > 25 ORDER BY cnt DESC, user_id
    """,
    doc="HAVING (InterpreterSelectQuery.cpp:596-598).",
    tags=("aggregate",),
)
@_plan_cache
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 25)
        .orderBy(F.col("cnt").desc(), "user_id")
    )


@query(
    "group_array",
    """
    SELECT l_returnflag,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS statuses
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="groupUniqArray (AggregateFunctionGroupUniqArray.h) — rendered as a "
    "sorted CSV string so the value-hash is list-order independent.",
    tags=("aggregate", "array"),
)
@_plan_cache
def group_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
                "statuses"
            )
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Joins (reference Interpreters/Join.h — hash join only; Spark picks strategy)
# ---------------------------------------------------------------------------


@query(
    "join_star_broadcast",
    """
    SELECT r.r_name AS region, COUNT(*) AS customers,
           CAST(SUM(c.c_acctbal::DECIMAL(18,2)) AS DOUBLE) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    doc="Star-schema join; small dims broadcast explicitly — the 100 TB plan "
    "(reference hash join Interpreters/Join.cpp, build side = RHS).",
    tags=("join",),
)
@_plan_cache
def join_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, nat, reg = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            exact_sum_scaled(F.col("c_acctbal")).cast("double").alias("sum_bal"),
        )
        .orderBy("region")
    )


@query(
    "join_any_left",
    """
    WITH first_order AS (
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey) AS rn
            FROM orders) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name, f.o_orderkey, f.o_totalprice
    FROM customer c LEFT JOIN first_order f ON c.c_custkey = f.o_custkey
    ORDER BY c.c_custkey
    """,
    doc="ANY LEFT JOIN — at most one right match per left row "
    "(Interpreters/Join.h:352-378 MapsAny), deterministic winner = min "
    "o_orderkey.",
    tags=("join", "any"),
)
@_plan_cache
def join_any_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer
        ANY LEFT JOIN (
            SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice
            FROM orders
        ) USING (c_custkey)
        ORDER BY c_custkey
        SETTINGS join_use_nulls = 1
        """
    )


@query(
    "semi_join_in",
    """
    SELECT COUNT(*) AS cnt FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
    doc="IN (subquery) -> left-semi join (reference Interpreters/Set.h:24; "
    "GLOBAL IN = broadcast, ExpressionAnalyzer.cpp:479-574).",
    tags=("join", "in"),
)
@_plan_cache
def semi_join_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT count() AS cnt FROM orders WHERE o_custkey GLOBAL IN "
        "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')"
    )


@query(
    "anti_join_not_in",
    """
    SELECT COUNT(*) AS cnt FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="NOT IN (subquery) -> left-anti join (Interpreters/Set.h negated probe).",
    tags=("join", "in"),
)
@_plan_cache
def anti_join_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    # countIf, not WHERE: a keyless aggregate over an empty filtered
    # input returns no row in the reference, and at sf0.01 every
    # customer has an order
    return _engine(spark, sf_dir).sql(
        "SELECT countIf(c_custkey GLOBAL NOT IN "
        "(SELECT o_custkey FROM orders)) AS cnt FROM customer"
    )


@query(
    "in_literal_tuple",
    """
    SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
    WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="IN (literal list) — ExpressionAnalyzer.cpp:1459 makeExplicitSet.",
    tags=("in",),
)
@_plan_cache
def in_literal_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("o_orderpriority")
    )


@query(
    "cross_join_filtered",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, COUNT(*) AS pairs
    FROM nation n1 CROSS JOIN nation n2
    WHERE n1.n_regionkey = 0 AND n2.n_regionkey = 1
    GROUP BY n1.n_name, n2.n_name ORDER BY supp_nation, cust_nation
    """,
    doc="CROSS JOIN (Interpreters/Join.h:168 block-nested-loop).",
    tags=("join",),
)
@_plan_cache
def cross_join_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    (nat,) = _t(spark, sf_dir, "nation")
    n1 = nat.filter(F.col("n_regionkey") == 0).select(
        F.col("n_name").alias("supp_nation")
    )
    n2 = nat.filter(F.col("n_regionkey") == 1).select(
        F.col("n_name").alias("cust_nation")
    )
    return (
        n1.crossJoin(n2)
        .groupBy("supp_nation", "cust_nation")
        .agg(F.count(F.lit(1)).alias("pairs"))
        .orderBy("supp_nation", "cust_nation")
    )


# ---------------------------------------------------------------------------
# Set operations / sort / limit extensions
# ---------------------------------------------------------------------------


@query(
    "union_all_chain",
    """
    SELECT 'customer' AS src, COUNT(*) AS cnt FROM customer
    UNION ALL SELECT 'supplier' AS src, COUNT(*) AS cnt FROM supplier
    UNION ALL SELECT 'part' AS src, COUNT(*) AS cnt FROM part
    ORDER BY src
    """,
    doc="n-ary UNION ALL (ASTSelectQuery.h:78 next_union_all chain).",
    tags=("setop",),
)
@_plan_cache
def union_all_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp, part = _t(spark, sf_dir, "customer", "supplier", "part")
    parts = [
        cust.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit("customer").alias("src"), "cnt"
        ),
        supp.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit("supplier").alias("src"), "cnt"
        ),
        part.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit("part").alias("src"), "cnt"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("src")


@query(
    "distinct_pairs",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="DISTINCT (DataStreams/DistinctBlockInputStream.h:17).",
    tags=("setop",),
)
@_plan_cache
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct().orderBy(
        "l_returnflag", "l_linestatus"
    )


@query(
    "limit_by_key",
    """
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 2
    ORDER BY o_custkey, rn
    """,
    doc="LIMIT 2 BY o_custkey — top-2 priciest orders per customer "
    "(DataStreams/LimitByBlockInputStream.h:18).",
    tags=("limitby",),
)
@_plan_cache
def limit_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LIMIT 2 BY plan (a row_number window), keeping the rank
    # column so the oracle's rn matches.
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    )


@query(
    "with_totals_agg",
    """
    SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT NULL AS o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders
    """,
    doc="GROUP BY ... WITH TOTALS (DataStreams/TotalsHavingBlockInputStream.h:16): "
    "appended all-rows totals row with NULL keys.",
    tags=("totals",),
)
@_plan_cache
def with_totals_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt, "
        "toFloat64(sum(CAST(o_totalprice AS DECIMAL(18, 2)))) AS sum_price "
        "FROM orders GROUP BY o_orderstatus WITH TOTALS"
    )


@query(
    "totals_after_having",
    """
    WITH g AS (
      SELECT o_orderstatus, COUNT(*) AS cnt,
             CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus HAVING COUNT(*) > 1000
    )
    SELECT o_orderstatus, cnt, sum_price FROM g
    UNION ALL
    SELECT NULL AS o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderstatus IN (SELECT o_orderstatus FROM g)
    """,
    doc="WITH TOTALS + HAVING under the reference DEFAULT totals_mode = "
    "AFTER_HAVING_EXCLUSIVE (Interpreters/Settings.h:92, "
    "DataStreams/TotalsHavingBlockInputStream.h): the totals row "
    "aggregates only groups passing HAVING.",
    tags=("totals",),
)
@_plan_cache
def totals_after_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt, "
        "toFloat64(sum(CAST(o_totalprice AS DECIMAL(18, 2)))) AS sum_price "
        "FROM orders GROUP BY o_orderstatus WITH TOTALS HAVING cnt > 1000"
    )


@query(
    "totals_before_having",
    """
    SELECT o_orderstatus, cnt, sum_price FROM (
      SELECT o_orderstatus, COUNT(*) AS cnt,
             CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_price,
             GROUPING(o_orderstatus) AS g
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
    ) WHERE g = 1 OR cnt > 1000
    """,
    doc="WITH TOTALS + HAVING under totals_mode = before_having "
    "(TotalsHavingBlockInputStream.h): totals over ALL rows, HAVING "
    "filters group rows only.",
    tags=("totals",),
)
@_plan_cache
def totals_before_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt, "
        "toFloat64(sum(CAST(o_totalprice AS DECIMAL(18, 2)))) AS sum_price "
        "FROM orders GROUP BY o_orderstatus WITH TOTALS HAVING cnt > 1000 "
        "SETTINGS totals_mode = 'before_having'"
    )


@query(
    "sample_deterministic",
    """
    SELECT COUNT(*) AS cnt, CAST(SUM(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE (l_orderkey * 2654435761) % 4294967296 < 429496729
    """,
    doc="SAMPLE 1/10 — deterministic multiplicative-hash subrange of the "
    "sampling key space (MergeTreeDataSelectExecutor.cpp:253-270); pure "
    "arithmetic predicate so it's reproducible and scan-pushable.",
    tags=("sample",),
)
@_plan_cache
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    eng.set_meta("lineitem", TableMeta(sample_key="l_orderkey"))
    return eng.sql(
        "SELECT count() AS cnt, "
        "toFloat64(sum(CAST(l_quantity AS DECIMAL(18, 2)))) AS sum_qty "
        "FROM lineitem SAMPLE 1/10"
    )


# ---------------------------------------------------------------------------
# ARRAY JOIN (clause) — arrays synthesized by splitting document text
# ---------------------------------------------------------------------------


@query(
    "array_join_tokens",
    """
    SELECT token, COUNT(*) AS cnt FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ) WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
    doc="ARRAY JOIN splitByChar(' ', text) — unnest + count "
    "(clause ASTSelectQuery.h:68; FunctionsStringArray.cpp splitByChar).",
    tags=("arrayjoin", "array"),
)
@_plan_cache
def array_join_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT token, count() AS cnt FROM documents "
        "ARRAY JOIN splitByChar(' ', text) AS token WHERE token != '' "
        "GROUP BY token ORDER BY cnt DESC, token LIMIT 20"
    )


@query(
    "final_replacing_latest",
    """
    SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ORDER BY user_id
    """,
    doc="SELECT ... FINAL over ReplacingMergeTree: latest version per PK "
    "(DataStreams/ReplacingSortedBlockInputStream.h:15).",
    tags=("final", "mergetree"),
)
@_plan_cache
def final_replacing_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (ts, event_id) is a two-column version, which a
    # ReplacingMergeTree cannot declare: LIMIT 1 BY spells the FINAL
    return _engine(spark, sf_dir).sql(
        """
        SELECT user_id, event_type, value FROM (
            SELECT user_id, event_type, value, ts, event_id FROM events
            ORDER BY ts DESC, event_id DESC
            LIMIT 1 BY user_id
        ) ORDER BY user_id
        """
    )


@query(
    "asof_join_latest_view",
    # DuckDB has native ASOF JOIN — the perfect oracle for the
    # composed Spark plan.  Build side deduped to one row per
    # (user_id, ts) with MAX(value), matching the engine's
    # deterministic greatest-payload tie resolution.
    """
    WITH probe AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), build AS (
        SELECT user_id, ts, MAX(value) AS value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT p.user_id, p.event_id, b.value
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    ORDER BY p.event_id
    """,
    doc="ASOF JOIN (backward): each click matched with the latest "
    "prior-or-equal view's value per user — trades-x-quotes shape. "
    "Spark composition: union probe/build -> ONE shuffle+sort on "
    "(key, ts, side) -> last non-null payload -> keep probe rows; "
    "no join node, no |L|x|R| range-join blowup (operators/asof.py).",
    tags=("join", "asof"),
)
@_plan_cache
def asof_join_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    (ev,) = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        probe, build, ["user_id"], "ts", ["value"]
    ).select("user_id", "event_id", "value").orderBy("event_id")


@query(
    "asof_join_bucketed",
    # same DuckDB native-ASOF oracle shape as asof_join_latest_view but
    # FORWARD and strict — the split path must be value-invisible
    """
    WITH probe AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), build AS (
        SELECT user_id, ts, MAX(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT p.user_id, p.event_id, b.value
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.ts < b.ts
    ORDER BY p.event_id
    """,
    doc="ASOF JOIN through the HOT-KEY PRE-SPLIT path (split_bucket): "
    "the window partitions on (user_id, 6h time bucket) with one "
    "injected seed row per probe bucket, so one key's history spreads "
    "over many tasks; forward + strict here (next strictly-later "
    "purchase value per click).  Result-identical to the unsplit "
    "operator — the oracle is DuckDB's native ASOF (operators/asof.py).",
    tags=("join", "asof"),
)
@_plan_cache
def asof_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    (ev,) = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        probe, build, ["user_id"], "ts", ["value"],
        direction="forward", allow_exact_matches=False,
        split_bucket=6 * 3600,
    ).select("user_id", "event_id", "value").orderBy("event_id")
