"""Queries routed through the CH-SQL dialect front-end (dialect/).

These exercise the translator end-to-end: CH-dialect text → Spark SQL →
Catalyst.  Each has a DuckDB oracle in plain ANSI SQL, so the driver's
correctness gate covers the SQL path as well as the DataFrame path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..dialect import ChEngine, TableMeta
from ..sources.catalog import register_tables
from .registry import query


def _engine(spark: SparkSession, sf_dir: str) -> ChEngine:
    # register_tables memoizes per session (re-registers only when
    # the views point elsewhere or a table changed on disk)
    register_tables(spark, sf_dir)
    eng = ChEngine(spark)
    eng.set_meta("events", TableMeta(sample_key="user_id"))
    return eng


@query(
    "dialect_group_topk",
    """
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders
    WHERE YEAR(o_orderdate) >= 1995
    GROUP BY o_orderpriority
    ORDER BY cnt DESC, o_orderpriority
    LIMIT 3
    """,
    doc="CH-SQL text (count()/toYear/PREWHERE) through the dialect "
    "translator (Parsers/ParserSelectQuery.cpp grammar).",
    tags=("dialect", "aggregate"),
)
def dialect_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT o_orderpriority, count() AS cnt,
               toFloat64(sum(CAST(o_totalprice AS DECIMAL(18, 2)))) AS revenue
        FROM orders
        PREWHERE toYear(o_orderdate) >= 1995
        GROUP BY o_orderpriority
        ORDER BY cnt DESC, o_orderpriority
        LIMIT 3
        """
    )


@query(
    "dialect_limit_by",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 2
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    doc="LIMIT n BY key via dialect (DataStreams/LimitByBlockInputStream.h:18).",
    tags=("dialect", "limit_by"),
)
def dialect_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2 BY o_orderpriority
        """
    )


@query(
    "dialect_totals",
    """
    SELECT o_orderstatus, COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), ())
    """,
    doc="GROUP BY ... WITH TOTALS via dialect "
    "(DataStreams/TotalsHavingBlockInputStream.h:16).",
    tags=("dialect", "totals"),
)
def dialect_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS"
    )


@query(
    "dialect_totals_having",
    """
    WITH g AS (
      SELECT o_orderstatus, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus HAVING COUNT(*) > 1000
    )
    SELECT o_orderstatus, cnt FROM g
    UNION ALL
    SELECT NULL AS o_orderstatus, COUNT(*) AS cnt FROM orders
    WHERE o_orderstatus IN (SELECT o_orderstatus FROM g)
    """,
    doc="WITH TOTALS + HAVING via dialect under the reference default "
    "totals_mode = AFTER_HAVING_EXCLUSIVE (Settings.h:92): totals row "
    "covers only groups passing HAVING.",
    tags=("dialect", "totals"),
)
def dialect_totals_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS HAVING cnt > 1000"
    )


@query(
    "dialect_totals_before_having",
    """
    SELECT o_orderstatus, cnt FROM (
      SELECT o_orderstatus, COUNT(*) AS cnt, GROUPING(o_orderstatus) AS g
      FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
    ) WHERE g = 1 OR cnt > 1000
    """,
    doc="WITH TOTALS + HAVING with SETTINGS totals_mode='before_having': "
    "totals over ALL rows, HAVING filters group rows only "
    "(TotalsHavingBlockInputStream.h).",
    tags=("dialect", "totals"),
)
def dialect_totals_before_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderstatus, count() AS cnt FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS HAVING cnt > 1000 "
        "SETTINGS totals_mode = 'before_having'"
    )


@query(
    "dialect_any_join",
    """
    SELECT n_name, r_name FROM nation
    LEFT JOIN (
      SELECT r_regionkey AS n_regionkey, r_name FROM (
        SELECT r_regionkey, r_name,
               ROW_NUMBER() OVER (PARTITION BY r_regionkey ORDER BY r_regionkey, r_name) AS rn
        FROM region
      ) WHERE rn = 1
    ) USING (n_regionkey)
    ORDER BY n_name
    """,
    doc="ANY LEFT JOIN via dialect — first-match strictness "
    "(Interpreters/Join.h:352-378 MapsAny).",
    tags=("dialect", "join"),
)
def dialect_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT n_name, r_name
        FROM nation
        ANY LEFT JOIN (SELECT r_regionkey AS n_regionkey, r_name FROM region)
        USING (n_regionkey)
        ORDER BY n_name
        """
    )


@query(
    "dialect_sample",
    """
    SELECT COUNT(*) AS cnt FROM events
    -- HUGEINT: the multiply exceeds INT64 once sf1-scale user ids
    -- appear; Spark's non-ANSI wrap preserves mod-2^32 exactly, and
    -- the wider oracle type computes the same residue without raising
    WHERE ((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296) >= 0
      AND ((CAST(user_id AS HUGEINT) * 2654435761) % 4294967296) < 1288490188
    """,
    doc="Deterministic SAMPLE 0.3 via dialect — identical Knuth-hash "
    "predicate on both engines (MergeTreeDataSelectExecutor.cpp:253-270).",
    tags=("dialect", "sample"),
)
def dialect_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT count() AS cnt FROM events SAMPLE 0.3"
    )


@query(
    "dialect_array_funnel",
    """
    SELECT tok, COUNT(*) AS cnt
    FROM (
      SELECT unnest(string_split(d_text, ' ')) AS tok
      FROM (SELECT doc_id, text AS d_text FROM documents WHERE lang = 'en')
    )
    WHERE LENGTH(tok) > 8
    GROUP BY tok
    HAVING COUNT(*) >= 5
    ORDER BY cnt DESC, tok
    LIMIT 20
    """,
    doc="ARRAY JOIN splitByChar + HAVING via dialect "
    "(ExpressionActions::ARRAY_JOIN, ExpressionActions.h:52).",
    tags=("dialect", "array_join"),
)
def dialect_array_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT arrayJoin(splitByChar(' ', text)) AS tok, count() AS cnt
        FROM documents
        PREWHERE lang = 'en'
        WHERE length(tok) > 8
        GROUP BY tok
        HAVING cnt >= 5
        ORDER BY cnt DESC, tok
        LIMIT 20
        """
    )


@query(
    "dialect_dict_get",
    """
    SELECT n.n_name, r.r_name AS region_name
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n.n_name
    """,
    doc="dictGetString over a registered dictionary — correlated scalar "
    "subquery that Catalyst plans as a broadcast join "
    "(FunctionsExternalDictionaries.cpp analog).",
    tags=("dialect", "dictionary"),
)
def dialect_dict_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    eng.register_dictionary(
        "regions",
        spark.table("region").select("r_regionkey", "r_name"),
        "r_regionkey",
    )
    return eng.sql(
        "SELECT n_name, dictGetString('regions', 'r_name', n_regionkey) "
        "AS region_name FROM nation ORDER BY n_name"
    )


@query(
    "dialect_union_branch_limit",
    """
    (SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 5)
    UNION ALL
    (SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey DESC LIMIT 5)
    """,
    doc="UNION ALL branches keep their own ORDER BY/LIMIT — the "
    "reference chains complete selects (ASTSelectQuery.h:78), so a "
    "branch LIMIT must scope per branch, not to the whole union.",
    tags=("dialect", "union"),
)
def dialect_union_branch_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 5 "
        "UNION ALL "
        "SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey DESC LIMIT 5"
    )


@query(
    "dialect_sequence_funnel",
    """
    SELECT CAST(SUM(m) AS BIGINT) AS users_converted FROM (
        SELECT user_id,
               CASE WHEN MIN(CASE WHEN event_type = 'view' THEN ts END)
                         < MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                    THEN 1 ELSE 0 END AS m
        FROM events GROUP BY user_id
    )
    """,
    doc="sequenceMatch('(?1).*(?2)')(ts, ...) through the dialect's "
    "parametric-aggregate syntax (AggregateFunctionSequenceMatch.h:145; "
    "f(params)(args) grammar, ParserSelectQuery.cpp).",
    tags=("dialect", "funnel"),
)
def dialect_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT toInt64(sum(m)) AS users_converted FROM (
            SELECT user_id,
                   sequenceMatch('(?1).*(?2)')(
                       ts, event_type = 'view', event_type = 'purchase'
                   ) AS m
            FROM events GROUP BY user_id
        )
        """
    )


@query(
    "dialect_state_merge",
    """
    SELECT CAST(SUM(qty) AS DOUBLE) AS total_qty,
           CAST(SUM(line_sum) AS DOUBLE) / SUM(line_cnt) AS avg_linenumber
    FROM (
        SELECT l_returnflag,
               SUM(CAST(l_quantity AS DECIMAL(18, 2))) AS qty,
               SUM(CAST(l_linenumber AS DOUBLE)) AS line_sum,
               COUNT(l_linenumber) AS line_cnt
        FROM lineitem GROUP BY l_returnflag
    )
    """,
    doc="-State/-Merge two-level aggregation through the dialect "
    "(AggregateFunctionState.h/AggregateFunctionMerge.h): partial "
    "states per group in a subquery, merged in the outer select.",
    tags=("dialect", "state"),
)
def dialect_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT toFloat64(sumMerge(s)) AS total_qty,
               avgMerge(a) AS avg_linenumber
        FROM (
            SELECT l_returnflag,
                   sumState(CAST(l_quantity AS DECIMAL(18, 2))) AS s,
                   avgState(l_linenumber) AS a
            FROM lineitem GROUP BY l_returnflag
        )
        """
    )


@query(
    "dialect_scalar_subquery",
    """
    SELECT n_name FROM nation
    WHERE n_regionkey = (SELECT MAX(r_regionkey) FROM region)
    ORDER BY n_name
    """,
    doc="Scalar subquery in WHERE (the reference materializes scalar "
    "subqueries at analysis time, ExpressionAnalyzer.cpp scalar "
    "subquery execution).",
    tags=("dialect", "subquery"),
)
def dialect_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT n_name FROM nation "
        "WHERE n_regionkey = (SELECT max(r_regionkey) FROM region) "
        "ORDER BY n_name"
    )


@query(
    "dialect_not_tuple_in",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation
    WHERE (n_regionkey, n_nationkey % 2) NOT IN ((1, 0), (2, 1))
      AND NOT (n_nationkey = 0)
    """,
    doc="Tuple NOT IN over a literal set plus unary NOT "
    "(Interpreters/Set.h:24 tuple-capable sets; FunctionsLogical.cpp "
    "NOT on UInt8).",
    tags=("dialect", "set"),
)
def dialect_not_tuple_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT count() AS c FROM nation "
        "WHERE (n_regionkey, n_nationkey % 2) NOT IN ((1, 0), (2, 1)) "
        "AND NOT (n_nationkey = 0)"
    )


@query(
    "dialect_inline_alias",
    """
    SELECT n_name,
           POSITION('AR' IN n_name) AS p
    FROM nation
    WHERE POSITION('AR' IN n_name) > 0
    ORDER BY n_name
    """,
    doc="Inline expression aliases (ExpressionAnalyzer.cpp "
    "normalizeTree): a subexpression aliased inside a function call is "
    "referable query-wide, including in WHERE.",
    tags=("dialect", "alias"),
)
def dialect_inline_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT n_name, position(n_name, 'AR' AS needle) AS p "
        "FROM nation WHERE position(n_name, needle) > 0 ORDER BY n_name"
    )


@query(
    "dialect_tuple_array",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation
    WHERE (n_regionkey, n_nationkey % 3) IN ((1, 0), (2, 1), (4, 2))
    """,
    doc="Tuple literals normalize to positional-field structs "
    "(ParserTuple, Interpreters/Set.h tuple-capable sets): tuple-array "
    "membership via has() agrees with tuple IN.",
    tags=("dialect", "tuple"),
)
def dialect_tuple_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        "SELECT count() AS c FROM nation "
        "WHERE has([(1, 0), (2, 1), (4, 2)], (n_regionkey, n_nationkey % 3))"
    )


@query(
    "dialect_sequence_timed",
    """
    SELECT CAST(SUM(m) AS BIGINT) AS fast_converters FROM (
        SELECT user_id,
               CASE WHEN EXISTS (
                   SELECT 1 FROM events v
                   WHERE v.user_id = e.user_id AND v.event_type = 'view'
                     AND EXISTS (
                       SELECT 1 FROM events p
                       WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                         AND CAST(floor(epoch(p.ts)) AS BIGINT)
                             >= CAST(floor(epoch(v.ts)) AS BIGINT)
                         AND CAST(floor(epoch(p.ts)) AS BIGINT)
                             - CAST(floor(epoch(v.ts)) AS BIGINT) <= 86400
                     )
               ) THEN 1 ELSE 0 END AS m
        FROM events e GROUP BY user_id
    )
    """,
    doc="Time-constrained sequenceMatch '(?1)(?t<=86400)(?2)' — the "
    "exact backtracking NFA (AggregateFunctionSequenceMatch.h:364-497) "
    "as an Arrow-batched grouped-agg pandas UDF; only timed patterns "
    "pay the Python cost.",
    tags=("dialect", "funnel"),
)
def dialect_sequence_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT toInt64(sum(m)) AS fast_converters FROM (
            SELECT user_id,
                   sequenceMatch('(?1)(?t<=86400)(?2)')(
                       ts, event_type = 'view', event_type = 'purchase'
                   ) AS m
            FROM events GROUP BY user_id
        )
        """
    )


@query(
    "dialect_show_create",
    # the oracle is the exact formatAST one-line rendering the engine
    # must reproduce (InterpreterShowCreateQuery.cpp:30-44): stored
    # column list with CH types + DEFAULT clauses, ENGINE text verbatim
    """
    SELECT 'CREATE TABLE sc_demo ( d Date,  u UInt32 DEFAULT CAST(7 AS UInt32),  s String)"""
    """ ENGINE = MergeTree(d, u, 8192)' AS statement
    """,
    doc="SHOW CREATE TABLE re-renders the stored create query from the "
    "TableDef's per-column ch_type / DEFAULT clause / engine_full text "
    "(InterpreterShowCreateQuery.cpp:30-44, formatAST one-line form).",
    tags=("dialect", "statements"),
)
def dialect_show_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    eng.execute(
        "CREATE TABLE sc_demo (d Date, u UInt32 DEFAULT 7, s String) "
        "ENGINE = MergeTree(d, u, 8192)"
    )
    return eng.execute("SHOW CREATE TABLE sc_demo")


@query(
    "system_parts_stats",
    # after two parity-split INSERTs every month partition holds two
    # level-0 parts; OPTIMIZE merges each partition to ONE level-1 part
    # (MergeTreeDataMerger full-partition merge), so the expected
    # system.parts content is derivable relationally from orders:
    # per-month row counts and date ranges, level=1, active=1
    """
    SELECT strftime(o_orderdate, '%Y%m') AS partition,
           CAST(COUNT(*) AS VARCHAR) AS "rows",
           strftime(MIN(o_orderdate), '%Y%m%d') AS min_date,
           strftime(MAX(o_orderdate), '%Y%m%d') AS max_date,
           '1' AS level, '1' AS active
    FROM orders WHERE o_orderdate < DATE '1992-07-01'
    GROUP BY 1 ORDER BY 1
    """,
    doc="system.parts over per-INSERT part bookkeeping "
    "(Storages/System/StorageSystemParts.cpp:20-41): two parity-split "
    "INSERT blocks create two level-0 parts per month partition "
    "(MergeTreeDataWriter per-block parts), OPTIMIZE merges each "
    "partition to one level-1 part; the oracle recomputes the merged "
    "part stats (rows, min/max date per month) straight from orders.",
    tags=("dialect", "system", "statements"),
)
def system_parts_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    eng.execute(
        "CREATE TABLE pstats (d Date, k UInt32) ENGINE = MergeTree(d, k, 8192)"
    )
    eng.execute(
        "INSERT INTO pstats SELECT o_orderdate, o_orderkey FROM orders "
        "WHERE o_orderdate < toDate('1992-07-01') AND o_orderkey % 2 = 0"
    )
    eng.execute(
        "INSERT INTO pstats SELECT o_orderdate, o_orderkey FROM orders "
        "WHERE o_orderdate < toDate('1992-07-01') AND o_orderkey % 2 = 1"
    )
    eng.execute("OPTIMIZE TABLE pstats")
    return eng.sql(
        "SELECT partition, rows, min_date, max_date, level, active "
        "FROM system.parts WHERE `table` = 'pstats' ORDER BY partition"
    )


@query(
    "dialect_select_star_mergetree",
    """
    SELECT DATE '1995-06-17' AS d, n_nationkey AS k, n_name AS name
    FROM nation ORDER BY k
    """,
    doc="Regression pin for the *-visibility gate: SELECT * on an "
    "inserted-into MergeTree table must expand to the DECLARED columns "
    "only — the _part virtual column (MergeTreeBlockInputStream) stays "
    "hidden.  The driver's sorted-column-name schema check fails if "
    "_part leaks (round-7 regression, engine._columns_of).",
    tags=("dialect", "statements", "mergetree"),
)
def dialect_select_star_mergetree(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    eng.execute(
        "CREATE TABLE star_mt (d Date, k UInt32, name String) "
        "ENGINE = MergeTree(d, k, 8192)"
    )
    eng.execute(
        "INSERT INTO star_mt "
        "SELECT toDate('1995-06-17'), n_nationkey, n_name FROM nation"
    )
    return eng.sql("SELECT * FROM star_mt ORDER BY k")


@query(
    "fn_uniq_combined_large",
    """
    SELECT CAST(1 AS BIGINT) AS ok
    """,
    doc="uniqCombined large tier (CombinedCardinalityEstimator 2^17 HLL"
    " + HLL++ bias tables, AggregateFunctionUniq.h): invariant oracle —"
    " 300k distinct keys must estimate within the HLL error envelope"
    " AND differ from the exact count (proving the estimator path ran,"
    " not COUNT DISTINCT).  Byte-exactness is locked by golden"
    " ref_00212_shard_aggregate_function_uniq.",
    tags=("dialect", "aggregate", "approx"),
)
def fn_uniq_combined_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT toInt64(est != 300000 AND abs(toInt64(est) - 300000) <= 3000) AS ok
        FROM (
            SELECT uniqCombined(number) AS est
            FROM (SELECT number FROM system.numbers LIMIT 300000)
        )
        """
    )


@query(
    "fn_url_format_stragglers",
    # the oracle reconstructs each value from the URL formula rather
    # than re-implementing the reference's scanner: the inputs are
    # deterministic, so the expected strings are closed-form
    """
    WITH u AS (
        SELECT doc_id, lang,
               CAST(doc_id % 7 AS VARCHAR) AS seg,
               CAST(doc_id % 5 AS VARCHAR) AS p,
               doc_id % 64 AS n
        FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           'p=' || p || '#s' AS qsf,
           'http://ex.com/' || lang || '/' || seg AS cut,
           ARRAY_TO_STRING(['/' || lang || '/',
            '/' || lang || '/' || seg || '?',
            '/' || lang || '/' || seg || '?p=' || p || '#',
            '/' || lang || '/' || seg || '?p=' || p || '#s'], ',') AS hier,
           COALESCE(ARRAY_TO_STRING(LIST_FILTER(LIST_TRANSFORM(RANGE(0, 6),
               b -> CASE WHEN (n >> b) & 1 = 1
                    THEN CAST((1 << b) AS VARCHAR) END),
               x -> x IS NOT NULL), ','), '') AS bits
    FROM u ORDER BY doc_id
    """,
    doc="URL/formatting straggler functions through the dialect: "
    "queryStringAndFragment, cutQueryStringAndFragment, "
    "URLPathHierarchy (segment-prefix scanner incl. ?/# separators), "
    "bitmaskToList (FunctionsURL.h:811, FunctionsFormatting.h).",
    tags=("dialect", "function"),
)
def fn_url_format_stragglers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).sql(
        """
        SELECT doc_id,
               queryStringAndFragment(u) AS qsf,
               cutQueryStringAndFragment(u) AS cut,
               arrayStringConcat(URLPathHierarchy(u), ',') AS hier,
               bitmaskToList(toUInt32(doc_id % 64)) AS bits
        FROM (
            SELECT doc_id,
                   concat('http://ex.com/', lang, '/',
                          toString(doc_id % 7), '?p=',
                          toString(doc_id % 5), '#s') AS u
            FROM documents WHERE doc_id < 40
        ) ORDER BY doc_id
        """
    )
