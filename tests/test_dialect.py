"""CH-SQL dialect layer tests (SURVEY.md §3 "dialect layer" + §7c).

Two tiers:
- pure translation (no Spark): clause/expression rewrites produce the
  intended Spark SQL shapes;
- execution: translated queries run on Spark over the sf0.001 tables
  and match hand-checked or DuckDB-computed expectations.

Query shapes seeded from the reference's stateless corpus
(/root/reference/dbms/tests/queries/0_stateless — arrays, IN, UNION ALL,
totals, LIMIT BY, ARRAY JOIN, transform, sample).
"""

from __future__ import annotations

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import register_tables
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
    TableMeta,
    translate_sql,
)

from .conftest import SF_SMOKE

# ------------------------------------------------------------- translation


def test_count_star_rewrite():
    out = translate_sql("SELECT count() FROM lineitem")
    assert "count(*)" in out


def test_array_literal_and_index():
    # null-safe subscript: 1-based via get(), negative from end, 0/OOB → NULL
    out = translate_sql("SELECT [1,2,3][2]")
    assert "get(array(1, 2, 3)" in out and "CASE WHEN (2) > 0" in out


def test_hex_literal():
    out = translate_sql("SELECT 0xFF + 0x10")
    assert "255 + 16" in out


def test_where_integer_coerced_to_boolean():
    out = translate_sql("SELECT a FROM t WHERE 0")
    assert "CAST((0) AS BOOLEAN)" in out
    # visible top-level boolean operator → untouched
    out2 = translate_sql("SELECT a FROM t WHERE a = 1")
    assert "CAST" not in out2


def test_in_subquery_translated():
    # IN (SELECT ...) must go through the translator, not render as a
    # pseudo function call IN(...)
    out = translate_sql(
        "SELECT count() FROM t WHERE x IN (SELECT number FROM system.numbers LIMIT 5)"
    )
    assert "range(" in out


def test_totals_order_limit_groups_only():
    # LIMIT applies to group rows; totals row survives and sorts last
    out = translate_sql(
        "SELECT a, count() AS c FROM t GROUP BY a WITH TOTALS ORDER BY a LIMIT 2"
    )
    assert "grouping_id()" in out and "row_number() OVER (PARTITION BY" in out


def test_ternary():
    out = translate_sql("SELECT x > 1 ? 'a' : 'b' FROM t")
    assert "if(CAST((x > 1) AS BOOLEAN), 'a', 'b')" in out


def test_prewhere_merges_into_where():
    out = translate_sql("SELECT a FROM t PREWHERE b > 1 WHERE c < 2")
    assert "WHERE (b > 1) AND (c < 2)" in out


def test_parametric_quantile():
    # plain quantile goes through the bit-exact ReservoirSampler
    # replay (dialect/reservoir.py)
    out = translate_sql("SELECT quantile(0.9)(x) FROM t")
    assert "ch_rsv_quantiles(collect_list(CAST(x AS DOUBLE))" in out


def test_if_combinator():
    out = translate_sql("SELECT sumIf(x, x > 0), countIf(y = 1) FROM t")
    assert "sum(CASE WHEN CAST((x > 0) AS BOOLEAN) THEN x END)" in out
    assert "count(CASE WHEN CAST((y = 1) AS BOOLEAN) THEN 1 END)" in out


def test_global_in_dropped():
    out = translate_sql("SELECT a FROM t WHERE b GLOBAL IN (SELECT c FROM u)")
    assert "GLOBAL" not in out


def test_limit_by_window():
    out = translate_sql("SELECT a, b FROM t ORDER BY b LIMIT 2 BY a")
    assert "row_number() OVER (PARTITION BY a ORDER BY b" in out


def test_with_totals_grouping_sets():
    out = translate_sql("SELECT a, count() FROM t GROUP BY a WITH TOTALS")
    assert "GROUPING SETS ((a), ())" in out


def test_totals_having_default_after_having_exclusive():
    # Reference default totals_mode = AFTER_HAVING_EXCLUSIVE
    # (Interpreters/Settings.h:92): the input is semi-filtered to the
    # groups passing HAVING, so the totals row covers survivors only.
    out = translate_sql(
        "SELECT a, count() AS c FROM t GROUP BY a WITH TOTALS HAVING c > 5"
    )
    assert "GROUPING SETS ((a), ())" in out
    assert "(a) IN (" in out
    assert "HAVING (count(*)) > 5" in out


def test_totals_having_before_having_setting():
    out = translate_sql(
        "SELECT a, count() AS c FROM t GROUP BY a WITH TOTALS HAVING c > 5 "
        "SETTINGS totals_mode = 'before_having'"
    )
    assert "grouping_id() <> 0 OR (c > 5)" in out


def test_sample_requires_meta():
    with pytest.raises(ValueError):
        translate_sql("SELECT count() FROM t SAMPLE 0.5")
    out = translate_sql(
        "SELECT count() FROM t SAMPLE 0.5",
        table_meta={"t": TableMeta(sample_key="k")},
    )
    assert "pmod(CAST(k AS BIGINT) * 2654435761, 4294967296)" in out


def test_final_requires_meta():
    with pytest.raises(ValueError):
        translate_sql("SELECT * FROM t FINAL")
    out = translate_sql(
        "SELECT * FROM t FINAL",
        table_meta={"t": TableMeta(primary_key=("id",), version_col="v")},
    )
    # the shared winner-per-key window, version first, DESC
    assert "PARTITION BY id ORDER BY `v` DESC" in out


def test_any_join_dedups_right():
    out = translate_sql("SELECT a FROM t ANY LEFT JOIN u USING (k)")
    assert "row_number() OVER (PARTITION BY k" in out
    assert "LEFT JOIN" in out


def test_any_join_on_dedups_right():
    """ANY with ON keeps one right row per key too: the keys are the
    right operands of the ON equalities (it used to run as ALL)."""
    out = translate_sql("SELECT a FROM t ANY LEFT JOIN u ON t.k = u.k")
    assert "row_number() OVER (PARTITION BY `k` ORDER BY" in out
    out = translate_sql("SELECT a FROM t ANY INNER JOIN u AS r ON r.k = t.j")
    assert "row_number() OVER (PARTITION BY `k` ORDER BY" in out
    out = translate_sql(
        "SELECT a FROM t ANY LEFT JOIN u ON ((t.k = u.k) AND t.j = u.j)"
    )
    assert "row_number() OVER (PARTITION BY `k`, `j` ORDER BY" in out
    with pytest.raises(ValueError, match="equality"):
        translate_sql("SELECT a FROM t ANY LEFT JOIN u ON t.k < u.k")


def test_global_join_broadcast_hint():
    out = translate_sql("SELECT a FROM t GLOBAL ANY LEFT JOIN u USING (k)")
    assert "/*+ BROADCAST(" in out


def test_union_all_chain():
    out = translate_sql("SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3")
    assert out.count("UNION ALL") == 2


def test_with_scalar_alias_substitution():
    out = translate_sql("WITH 2 AS two SELECT two * 3")
    assert "(2) * 3" in out


def test_lambda_passthrough():
    out = translate_sql("SELECT arrayMap(x -> x * 2, [1,2])")
    assert "transform(array(1, 2), x -> x * 2)" in out


def test_format_and_settings_stripped():
    out = translate_sql("SELECT 1 FORMAT JSON")
    assert "FORMAT" not in out
    out = translate_sql("SELECT 1 SETTINGS max_threads = 4")
    assert "SETTINGS" not in out


# -------------------------------------------------------------- execution


@pytest.fixture(scope="module")
def eng(spark):
    register_tables(spark, SF_SMOKE)
    e = ChEngine(spark)
    e.set_meta("events", TableMeta(sample_key="user_id"))
    return e


def test_exec_select_1(eng):
    assert eng.sql("SELECT 1").collect()[0][0] == 1


def test_exec_group_order(eng, duck):
    got = eng.sql(
        "SELECT l_returnflag, count() AS c FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    ).collect()
    exp = duck.execute(
        "SELECT l_returnflag, count(*) AS c FROM "
        f"'{SF_SMOKE}/lineitem.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [(r[0], r[1]) for r in got] == exp


def test_exec_array_join_totals(eng):
    rows = eng.sql(
        "SELECT arrayJoin([1, 2]) AS n, count() AS c FROM nation "
        "GROUP BY n WITH TOTALS ORDER BY n"
    ).collect()
    by_n = {r["n"]: r["c"] for r in rows}
    assert by_n[1] == 25 and by_n[2] == 25 and by_n[None] == 50


def test_exec_limit_by(eng):
    rows = eng.sql(
        "SELECT n_regionkey, n_name FROM nation "
        "ORDER BY n_name LIMIT 2 BY n_regionkey"
    ).collect()
    from collections import Counter

    counts = Counter(r["n_regionkey"] for r in rows)
    assert all(c == 2 for c in counts.values()) and len(counts) == 5


def test_exec_any_join(eng):
    rows = eng.sql(
        "SELECT n_name, r_name FROM nation ANY LEFT JOIN "
        "(SELECT r_regionkey AS n_regionkey, r_name FROM region) "
        "USING (n_regionkey) ORDER BY n_name"
    ).collect()
    assert len(rows) == 25 and all(r["r_name"] is not None for r in rows)


def test_exec_any_join_on_keeps_one_right_row(eng, spark):
    """Executed ANY ... ON: one match per left row, whichever side of
    the equality the right column is on (ALL would return 3 rows)."""
    spark.createDataFrame([(1,), (2,)], "k INT").createOrReplaceTempView("aj_l")
    spark.createDataFrame(
        [(1, "b"), (1, "a"), (3, "c")], "rk INT, s STRING"
    ).createOrReplaceTempView("aj_r")
    for on in ("l.k = r.rk", "r.rk = l.k", "k = rk"):
        rows = eng.sql(
            f"SELECT k, s FROM aj_l AS l ANY LEFT JOIN aj_r AS r ON {on} "
            "ORDER BY k SETTINGS join_use_nulls = 1"
        ).collect()
        assert [tuple(r) for r in rows] == [(1, "a"), (2, None)], on
    with pytest.raises(ValueError, match="equality"):
        eng.sql("SELECT k FROM aj_l AS l ANY LEFT JOIN aj_r AS r ON l.k < r.rk")


def test_exec_any_join_subquery_winner_is_all_columns_min(eng, spark):
    """ANY over a subquery right side picks its winner by all its
    columns (it used to order by the join key alone: arbitrary)."""
    spark.createDataFrame(
        [(1, "z", 2), (1, "a", 9), (1, "a", 3)], "k INT, s STRING, n INT"
    ).createOrReplaceTempView("aj_sub")
    for _ in range(3):
        rows = eng.sql(
            "SELECT k, s, n FROM (SELECT 1 AS k) ANY LEFT JOIN "
            "(SELECT k, s, n FROM aj_sub) USING (k)"
        ).collect()
        assert [tuple(r) for r in rows] == [(1, "a", 3)]


def test_exec_join_on_qualified_by_table_name(eng):
    """An ON (or select list) that qualifies columns by a table's own
    name or alias resolves on both sides, also under the scan-ordinal
    wrapper an unordered join gets; answers match DuckDB."""
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    want = sorted(
        con.execute(
            "SELECT o_orderkey, coalesce(c_name, '') FROM orders "
            "LEFT JOIN customer ON o_custkey = c_custkey"
        ).fetchall()
    )
    con.close()
    for ch in (
        "SELECT o_orderkey, c_name FROM orders ANY LEFT JOIN customer "
        "ON o_custkey = customer.c_custkey",
        "SELECT o_orderkey, c_name FROM orders ALL INNER JOIN customer "
        "ON orders.o_custkey = customer.c_custkey",
        "SELECT o.o_orderkey, c.c_name FROM orders AS o ALL INNER JOIN "
        "customer AS c ON o.o_custkey = c.c_custkey",
    ):
        got = sorted(tuple(r) for r in eng.sql(ch).collect())
        assert got == want, ch


def test_exec_unordered_join_with_map_output(eng, spark):
    """An unordered join pins its output order by the left scan ordinal
    and then the output columns; a Map output column cannot be sorted,
    so it stays out of the tie keys instead of failing analysis."""
    spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "k INT, m MAP<STRING, INT>"
    ).createOrReplaceTempView("jm_l")
    spark.createDataFrame(
        [(1, "y"), (1, "x"), (3, "z")], "k INT, s STRING"
    ).createOrReplaceTempView("jm_r")
    rows = eng.sql(
        "SELECT k, m, s FROM jm_l ALL INNER JOIN jm_r USING k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, {"a": 1}, "x"), (1, {"a": 1}, "y")]
    rows = eng.sql(
        "SELECT k, m, s FROM jm_l ANY LEFT JOIN jm_r USING k"
    ).collect()
    # ANY keeps the min right row; a miss reads the type default
    assert [tuple(r) for r in rows] == [(1, {"a": 1}, "x"), (2, {"b": 2}, "")]
    # no output column is sortable: no ORDER BY at all
    rows = eng.sql("SELECT m FROM jm_l ALL INNER JOIN jm_r USING k").collect()
    assert [tuple(r) for r in rows] == [({"a": 1},), ({"a": 1},)]


def test_exec_array_join_with_join(eng, spark):
    """ARRAY JOIN (clause or arrayJoin()) in a SELECT that also JOINs:
    the left rows explode, then join; an empty array drops its row."""
    spark.createDataFrame(
        [(1, 100, [1, 2]), (2, 200, [3]), (3, 300, [])],
        "k INT, a INT, arr ARRAY<INT>",
    ).createOrReplaceTempView("ajj_l")
    spark.createDataFrame(
        [(1, "p"), (2, "q"), (2, "r"), (3, "s")], "k INT, s STRING"
    ).createOrReplaceTempView("ajj_r")
    want = [(1, 1, "p"), (1, 2, "p"), (2, 3, "q"), (2, 3, "r")]
    for ch in (
        "SELECT l.k, e, s FROM ajj_l AS l ARRAY JOIN arr AS e "
        "ALL INNER JOIN ajj_r USING k",
        "SELECT l.k, arrayJoin(l.arr) AS e, s FROM ajj_l AS l "
        "ALL INNER JOIN ajj_r USING k",
        "SELECT ajj_l.k, arrayJoin(ajj_l.arr) AS e, s FROM ajj_l "
        "ALL INNER JOIN ajj_r USING k",
    ):
        assert [tuple(r) for r in eng.sql(ch).collect()] == want, ch
    rows = eng.sql(
        "SELECT l.a, e, s FROM ajj_l AS l ARRAY JOIN arr AS e "
        "ALL INNER JOIN ajj_r USING k ORDER BY e DESC, s"
    ).collect()
    assert [tuple(r) for r in rows] == [
        (200, 3, "q"), (200, 3, "r"), (100, 2, "p"), (100, 1, "p"),
    ]


def test_exec_sample_deterministic(eng):
    a = eng.sql("SELECT count() FROM events SAMPLE 0.3").collect()[0][0]
    b = eng.sql("SELECT count() FROM events SAMPLE 0.3").collect()[0][0]
    total = eng.sql("SELECT count() FROM events").collect()[0][0]
    assert a == b and 0 < a < total


def test_exec_numbers(eng):
    rows = eng.sql("SELECT number FROM system.numbers LIMIT 5").collect()
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]


def test_exec_transform_remap(eng):
    rows = eng.sql(
        "SELECT transform(n_regionkey, [0, 1], ['zero', 'one'], 'other') AS r, "
        "count() AS c FROM nation GROUP BY r ORDER BY r"
    ).collect()
    assert {r["r"]: r["c"] for r in rows} == {"zero": 5, "one": 5, "other": 15}


def test_exec_in_subquery(eng, duck):
    got = eng.sql(
        "SELECT count() FROM customer WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)"
    ).collect()[0][0]
    exp = duck.execute(
        f"SELECT count(*) FROM '{SF_SMOKE}/customer.parquet' WHERE c_nationkey IN "
        f"(SELECT n_nationkey FROM '{SF_SMOKE}/nation.parquet' WHERE n_regionkey = 1)"
    ).fetchone()[0]
    assert got == exp


def test_exec_tuple_access(eng):
    assert eng.sql("SELECT tuple(7, 8).1 AS x").collect()[0]["x"] == 7


def test_exec_dictionary(eng, spark):
    eng.register_dictionary(
        "regions", spark.table("region").select("r_regionkey", "r_name"), "r_regionkey"
    )
    rows = eng.sql(
        "SELECT n_name, dictGetString('regions', 'r_name', n_regionkey) AS rn "
        "FROM nation ORDER BY n_name LIMIT 3"
    ).collect()
    assert all(r["rn"].isupper() and r["rn"] for r in rows)
    has = eng.sql(
        "SELECT dictHas('regions', 99) AS a, dictHas('regions', 1) AS b"
    ).collect()[0]
    assert has["a"] is False and has["b"] is True


def test_exec_union_all(eng):
    rows = eng.sql("SELECT 1 AS x UNION ALL SELECT 2 AS x").collect()
    assert sorted(r["x"] for r in rows) == [1, 2]


def test_exec_collapsing_final_star(eng, spark):
    spark.createDataFrame(
        [(1, 1, "a"), (1, -1, "a"), (2, 1, "b"), (3, 1, "c"), (3, -1, "c"), (3, 1, "c2")],
        "id INT, sign INT, payload STRING",
    ).createOrReplaceTempView("ct_adv")
    eng.set_meta(
        "ct_adv",
        TableMeta(primary_key=("id",), sign_col="sign", engine="CollapsingMergeTree"),
    )
    df = eng.sql("SELECT * FROM ct_adv FINAL")
    # the merge's helper columns are projected away
    assert df.columns == ["id", "sign", "payload"]
    rows = {r["id"]: r["payload"] for r in df.collect()}
    assert set(rows) == {2, 3}
    # id 3 has two +1 rows: the max in the tie order (payload DESC) wins
    assert rows[3] == "c2"


def test_exec_to_start_of_five_minute(eng):
    r = eng.sql(
        "SELECT toStartOfFiveMinute(toDateTime('2024-01-01 12:34:56')) AS t5"
    ).collect()[0]["t5"]
    assert str(r) == "2024-01-01 12:30:00"


def test_exec_summap_repeated_keys(eng, spark):
    spark.createDataFrame(
        [(1, [1, 2], [10.0, 20.0]), (1, [1, 3], [1.0, 2.0]), (2, [5], [7.0])],
        "g INT, k ARRAY<INT>, v ARRAY<DOUBLE>",
    ).createOrReplaceTempView("sm_adv")
    rows = eng.sql(
        "SELECT g, sumMap(k, v) AS m FROM sm_adv GROUP BY g ORDER BY g"
    ).collect()
    assert rows[0]["m"] == {1: 11.0, 2: 20.0, 3: 2.0}
    assert rows[1]["m"] == {5: 7.0}


def test_date_arith_translation():
    # Date ± N days, DateTime ± N seconds (wrapping in the UInt16 /
    # UInt32 range), Date - Date → days (FunctionsArithmetic dispatch
    # on the operands' CH types)
    out = translate_sql("SELECT toDate('2024-02-28') + 2")
    assert (
        "pmod(datediff(CAST('2024-02-28' AS DATE), DATE '1970-01-01') + (2), 65536)"
        in out
    )
    out = translate_sql("SELECT toDateTime('1970-01-02 00:00:00') - 1")
    assert "timestamp_seconds(pmod(unix_timestamp(" in out
    assert " - (1), 4294967296)" in out
    out = translate_sql("SELECT toDate('2024-03-01') - toDate('2024-02-01')")
    assert "datediff(" in out
    # plain numeric arithmetic untouched
    out = translate_sql("SELECT 1 + 2 * 3")
    assert "1 + 2 * 3" in out
    # a tighter-binding multiplicative run on the seconds side folds
    # as one unit (now() - 24*60*60, golden 00069)
    out = translate_sql("SELECT toDateTime(x) + 3600 * 24 FROM t")
    assert "timestamp_seconds" in out and "(3600 * 24)" in out


def test_exec_date_arith(eng):
    r = eng.sql(
        "SELECT yesterday() + 1 = today() AS a, "
        "toDate('2024-03-01') - toDate('2024-02-01') AS d"
    ).collect()[0]
    assert r["a"] is True and r["d"] == 29


def test_length_polymorphic():
    assert "size(array(1, 2, 3))" in translate_sql("SELECT length([1,2,3])")
    assert "length(s)" in translate_sql("SELECT length(s) FROM t")
    assert "size(" in translate_sql("SELECT empty(splitByChar(',', s)) FROM t")
    assert "length(" in translate_sql("SELECT notEmpty(s) FROM t")


def test_array_string_concat_default_sep():
    out = translate_sql("SELECT arrayStringConcat(['a','b'])")
    assert "array_join(transform(array('a', 'b'), __asc -> CAST(__asc AS STRING)), '')" in out
    out = translate_sql("SELECT arrayStringConcat(['a','b'], '-')")
    assert "array_join(transform(array('a', 'b'), __asc -> CAST(__asc AS STRING)), '-')" in out


def test_exec_ipv6_roundtrip(eng):
    r = eng.sql(
        "SELECT IPv6NumToString(IPv6StringToNum('2001:0db8:0000:0000:0000:ff00:0042:8329')) AS c, "
        "IPv6NumToString(IPv6StringToNum('::ffff:127.0.0.1')) AS v4, "
        "cutIPv6(IPv6StringToNum('2001:db8:ac10:fe01:feed:babe:cafe:f00d'), 3, 0) AS cut"
    ).collect()[0]
    assert r["c"] == "2001:db8::ff00:42:8329"
    assert r["v4"] == "::ffff:127.0.0.1"
    assert r["cut"] == "2001:db8:ac10:fe01:feed:babe:ca00:0"


def test_exec_create_insert_drop(eng):
    """CREATE TABLE / INSERT / DROP through the statement layer
    (InterpreterFactory dispatch; dialect/statements.py).  CH
    semantics: missing INSERT columns get type defaults (not NULL),
    Enum columns store the NAME, classic ReplacingMergeTree engine
    args feed FINAL."""
    eng.execute("DROP TABLE IF EXISTS test.ddl_t")
    eng.execute(
        "CREATE TABLE test.ddl_t (d Date, k UInt32, "
        "e Enum8('lo' = 0, 'hi' = 1), v UInt32) "
        "ENGINE = ReplacingMergeTree(d, (k), 8192, v)"
    )
    eng.execute(
        "INSERT INTO test.ddl_t VALUES ('2024-01-01', 1, 0, 1), "
        "('2024-01-01', 1, 1, 2), ('2024-01-02', 2, 1, 1)"
    )
    eng.execute("INSERT INTO test.ddl_t (d, k) VALUES ('2024-01-03', 3)")
    rows = eng.execute(
        "SELECT k, e, v FROM test.ddl_t FINAL ORDER BY k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "hi", 2), (2, "hi", 1), (3, "lo", 0)]
    assert eng.execute("SELECT count() FROM test.ddl_t").collect()[0][0] == 4
    eng.execute("DROP TABLE test.ddl_t")


def test_exec_alter_describe(eng):
    """ALTER ADD/DROP/MODIFY COLUMN + DESCRIBE
    (Parsers/ParserAlterQuery.cpp, InterpreterDescribeQuery)."""
    eng.execute("DROP TABLE IF EXISTS alt_t")
    eng.execute(
        "CREATE TABLE alt_t (k UInt32, v String) ENGINE = MergeTree(k, (k), 8192)"
    )
    eng.execute("INSERT INTO alt_t VALUES (1, 'a')")
    eng.execute("ALTER TABLE alt_t ADD COLUMN n UInt32")
    eng.execute("ALTER TABLE alt_t ADD COLUMN m UInt32 AFTER k")
    desc = [tuple(r) for r in eng.execute("DESC TABLE alt_t").collect()]
    assert desc == [
        ("k", "UInt32", "", ""),
        ("m", "UInt32", "", ""),
        ("v", "String", "", ""),
        ("n", "UInt32", "", ""),
    ]
    # existing rows take the type default for the added columns
    assert [tuple(r) for r in eng.execute("SELECT * FROM alt_t").collect()] == [
        (1, 0, "a", 0)
    ]
    eng.execute("ALTER TABLE alt_t DROP COLUMN v, MODIFY COLUMN n UInt64")
    desc = [tuple(r) for r in eng.execute("DESCRIBE TABLE alt_t").collect()]
    assert desc == [
        ("k", "UInt32", "", ""),
        ("m", "UInt32", "", ""),
        ("n", "UInt64", "", ""),
    ]
    eng.execute("DROP TABLE alt_t")


def test_exec_rename_exists_show(eng):
    """RENAME TABLE / EXISTS TABLE / SHOW TABLES / SHOW DATABASES."""
    eng.execute("DROP DATABASE IF EXISTS shdb")
    eng.execute("CREATE DATABASE shdb")
    eng.execute("CREATE TABLE shdb.a (x UInt8) ENGINE = TinyLog")
    eng.execute("CREATE TABLE shdb.b (x UInt8) ENGINE = TinyLog")
    assert [r[0] for r in eng.execute("SHOW TABLES FROM shdb").collect()] == [
        "a", "b",
    ]
    assert "shdb" in [
        r[0] for r in eng.execute("SHOW DATABASES").collect()
    ]
    eng.execute("RENAME TABLE shdb.a TO shdb.c")
    assert [r[0] for r in eng.execute("SHOW TABLES FROM shdb").collect()] == [
        "b", "c",
    ]
    assert eng.execute("EXISTS TABLE shdb.c").collect()[0][0] == 1
    assert eng.execute("EXISTS TABLE shdb.a").collect()[0][0] == 0
    eng.execute("DROP DATABASE shdb")
    assert eng.execute("EXISTS TABLE shdb.c").collect()[0][0] == 0


def test_exec_use_database(eng):
    """USE db: undotted names resolve against the current database
    (Interpreters/Context.h current_database)."""
    eng.execute("DROP DATABASE IF EXISTS usedb")
    eng.execute("CREATE DATABASE usedb")
    eng.execute("USE usedb")
    try:
        eng.execute("CREATE TABLE ut (x UInt8) ENGINE = Memory")
        eng.execute("INSERT INTO ut VALUES (7)")
        assert eng.execute("SELECT x FROM ut").collect()[0][0] == 7
        assert eng.execute("EXISTS TABLE usedb.ut").collect()[0][0] == 1
    finally:
        eng.execute("USE default")
    eng.execute("DROP DATABASE usedb")


def test_exec_optimize_replacing(eng):
    """OPTIMIZE TABLE applies the engine merge transform eagerly
    (InterpreterOptimizeQuery; ReplacingSortedBlockInputStream.h)."""
    eng.execute("DROP TABLE IF EXISTS opt_t")
    eng.execute(
        "CREATE TABLE opt_t (d Date, k UInt32, v UInt32) "
        "ENGINE = ReplacingMergeTree(d, (k), 8192, v)"
    )
    eng.execute(
        "INSERT INTO opt_t VALUES ('2024-01-01', 1, 1), "
        "('2024-01-01', 1, 2), ('2024-01-02', 2, 1)"
    )
    assert eng.execute("SELECT count() FROM opt_t").collect()[0][0] == 3
    eng.execute("OPTIMIZE TABLE opt_t")
    rows = [
        tuple(r)
        for r in eng.execute("SELECT k, v FROM opt_t ORDER BY k").collect()
    ]
    assert rows == [(1, 2), (2, 1)]
    eng.execute("DROP TABLE opt_t")


def test_system_tables_columns(eng):
    """system.tables / system.columns / system.databases /
    system.settings through the dialect (Storages/System/)."""
    eng.execute("DROP TABLE IF EXISTS sys_probe")
    eng.execute(
        "CREATE TABLE sys_probe (k UInt32, s String) ENGINE = Memory"
    )
    t = {
        (r["database"], r["name"])
        for r in eng.sql("SELECT database, name FROM system.tables").collect()
    }
    assert ("default", "sys_probe") in t
    assert ("default", "orders") in t
    cols = [
        tuple(r)
        for r in eng.sql(
            "SELECT name, type FROM system.columns "
            "WHERE table = 'sys_probe' ORDER BY name"
        ).collect()
    ]
    assert cols == [("k", "UInt32"), ("s", "String")]
    # registered parquet tables reverse-map to CH type names
    ncols = {
        r["name"]: r["type"]
        for r in eng.sql(
            "SELECT name, type FROM system.columns WHERE table = 'nation'"
        ).collect()
    }
    assert ncols["n_name"] == "String"
    assert ncols["n_nationkey"] == "Int32"  # parquet int32 → CH Int32
    assert ("default",) in {
        tuple(r) for r in eng.sql("SELECT name FROM system.databases").collect()
    }
    st = {
        r["name"]: r["value"]
        for r in eng.sql("SELECT name, value FROM system.settings").collect()
    }
    assert st["totals_mode"] == "after_having_exclusive"
    eng.execute("DROP TABLE sys_probe")


def test_system_functions_events_metrics(eng):
    """system.functions (registry dump, aggregates flagged),
    system.events (nonzero ProfileEvents counters), system.metrics
    (current gauges), system.build_options — the introspection tables
    a migrating user greps for (Storages/System/)."""
    fns = {
        r["name"]: r["is_aggregate"]
        for r in eng.sql(
            "SELECT name, is_aggregate FROM system.functions"
        ).collect()
    }
    assert len(fns) > 300
    assert fns["uniqExact"] == 1
    assert fns["sum"] == 1  # identity passthrough, factory base name
    assert fns["quantileTDigest"] == 1
    assert fns["cityHash64"] == 0
    assert fns["toStartOfMonth"] == 0
    # combinator forms are applied dynamically, not registry rows —
    # same as the reference's AggregateFunctionFactory
    assert "sumIf" not in fns
    q_before = eng.events["Query"]
    eng.execute("SELECT 1").collect()
    ev = {
        r["event"]: r["value"]
        for r in eng.sql("SELECT event, value FROM system.events").collect()
    }
    # the probe SELECT plus the system.events SELECT itself
    assert ev["Query"] >= q_before + 2
    assert ev["SelectQuery"] >= 2
    assert "InsertQuery" not in ev or ev["InsertQuery"] >= 1
    met = {
        r["metric"]: r["value"]
        for r in eng.sql("SELECT metric, value FROM system.metrics").collect()
    }
    assert met["Merge"] == 0
    assert met["Query"] >= 0
    bo = {
        r["name"]: r["value"]
        for r in eng.sql(
            "SELECT name, value FROM system.build_options"
        ).collect()
    }
    import pyspark

    assert bo["PYSPARK_VERSION"] == pyspark.__version__
    # merges/clusters: reference schemas, empty result sets (merges
    # run synchronously; shard frames are ad-hoc, no named clusters)
    assert eng.sql("SELECT * FROM system.merges").collect() == []
    assert eng.sql("SELECT * FROM system.clusters").collect() == []


def test_system_dictionaries(eng, spark):
    """system.dictionaries reflects the dictionary registry
    (StorageSystemDictionaries.cpp core columns)."""
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, val string, parent long"
    )
    eng.register_dictionary("sysd_flat", df, "id")
    eng.register_dictionary("sysd_hier", df, "id", parent="parent")
    rows = {
        r["name"]: r
        for r in eng.sql(
            "SELECT name, type, key, `attribute.names`, element_count "
            "FROM system.dictionaries"
        ).collect()
    }
    flat = rows["sysd_flat"]
    assert flat["type"] == "Flat"
    assert flat["key"] == "UInt64"
    assert flat["attribute.names"] == "val,parent"
    assert flat["element_count"] == 2
    assert rows["sysd_hier"]["type"] == "Hierarchical"


# ------------------------------------------------- round-5 advice fixes


def test_view_sees_base_table_mutations(eng):
    """StorageView re-executes the stored SELECT on every read — a view
    must reflect rows inserted into its base table after CREATE VIEW."""
    eng.execute("DROP TABLE IF EXISTS vbase")
    eng.execute("DROP TABLE IF EXISTS vlive")
    eng.execute("CREATE TABLE vbase (x UInt32) ENGINE = Memory")
    eng.execute("INSERT INTO vbase VALUES (1)")
    eng.execute("CREATE VIEW vlive AS SELECT x FROM vbase")
    assert eng.execute("SELECT count() FROM vlive").collect()[0][0] == 1
    eng.execute("INSERT INTO vbase VALUES (2)")
    got = sorted(r[0] for r in eng.execute("SELECT x FROM vlive").collect())
    assert got == [1, 2], "view served a stale pre-INSERT snapshot"
    eng.execute("DROP TABLE vlive")
    eng.execute("DROP TABLE vbase")


def test_materialized_view_stays_snapshot(eng):
    """MATERIALIZED VIEW contents update on insert-time fan-out, not on
    read — the statement layer keeps the creation-time result."""
    eng.execute("DROP TABLE IF EXISTS mvbase")
    eng.execute("DROP TABLE IF EXISTS mvsnap")
    eng.execute("CREATE TABLE mvbase (x UInt32) ENGINE = Memory")
    eng.execute("INSERT INTO mvbase VALUES (1)")
    eng.execute("CREATE MATERIALIZED VIEW mvsnap AS SELECT x FROM mvbase")
    eng.execute("INSERT INTO mvbase VALUES (2)")
    assert eng.execute("SELECT count() FROM mvsnap").collect()[0][0] == 1
    eng.execute("DROP TABLE mvsnap")
    eng.execute("DROP TABLE mvbase")


def test_show_tables_uses_current_database(eng):
    """SHOW TABLES without FROM lists the USE'd database
    (InterpreterShowTablesQuery.cpp:30 getCurrentDatabase fallback)."""
    eng.execute("CREATE DATABASE IF NOT EXISTS udb5")
    eng.execute("DROP TABLE IF EXISTS udb5.only_here")
    eng.execute("CREATE TABLE udb5.only_here (x UInt8) ENGINE = Memory")
    eng.execute("USE udb5")
    try:
        names = [r[0] for r in eng.execute("SHOW TABLES").collect()]
        assert names == ["only_here"]
    finally:
        eng.execute("USE default")
        eng.execute("DROP TABLE udb5.only_here")


def test_agg_fn_of_scoped_to_from_table(eng):
    """finalizeAggregation dispatch resolves the AggregateFunction
    column against the table the query reads, not a global first-match
    scan over every created table."""
    eng.execute("DROP TABLE IF EXISTS aggdup_a")
    eng.execute("DROP TABLE IF EXISTS aggdup_b")
    eng.execute(
        "CREATE TABLE aggdup_a (k UInt8, st AggregateFunction(uniq, UInt32)) "
        "ENGINE = AggregatingMergeTree"
    )
    eng.execute(
        "CREATE TABLE aggdup_b (k UInt8, st AggregateFunction(avg, UInt32)) "
        "ENGINE = AggregatingMergeTree"
    )
    try:
        # scoped: each table resolves its own declared function
        a = eng.translate("SELECT finalizeAggregation(st) FROM aggdup_a")
        b = eng.translate("SELECT finalizeAggregation(st) FROM aggdup_b")
        assert "hll_sketch_estimate" in a
        assert "hll_sketch_estimate" not in b and ".sum" in b and ".cnt" in b
        # unscoped global lookup with conflicting declarations must raise
        with pytest.raises(ValueError, match="ambiguous"):
            eng._agg_fn_of("st")
    finally:
        eng.execute("DROP TABLE aggdup_a")
        eng.execute("DROP TABLE aggdup_b")


def test_totals_mode_inclusive_auto_reduce_to_exclusive():
    """after_having_inclusive/auto differ from exclusive ONLY for
    overflow aggregates (max_rows_to_group_by groups,
    TotalsHavingBlockInputStream.cpp:57-67) which this engine never
    produces — all three translate to the exclusive semi-join shape;
    a bogus mode still raises."""
    inc = translate_sql(
        "SELECT a, count() FROM t GROUP BY a WITH TOTALS "
        "SETTINGS totals_mode = 'after_having_inclusive'"
    )
    exc = translate_sql(
        "SELECT a, count() FROM t GROUP BY a WITH TOTALS "
        "SETTINGS totals_mode = 'after_having_exclusive'"
    )
    assert inc == exc
    with pytest.raises(ValueError, match="totals_mode"):
        translate_sql(
            "SELECT a, count() FROM t GROUP BY a WITH TOTALS "
            "SETTINGS totals_mode = 'bogus_mode'"
        )


# --------------------------------------- round-5 statement completions


def test_show_create_table(eng):
    """SHOW CREATE TABLE renders formatAST's one-line form
    (InterpreterShowCreateQuery.cpp:30-44; spacing per the reference's
    00061_merge_tree_alter.reference)."""
    eng.execute("DROP TABLE IF EXISTS sc_t")
    eng.execute(
        "CREATE TABLE sc_t (d Date, k UInt64, n Nested(ui8 UInt8, s String), "
        "v String DEFAULT 'x') ENGINE = MergeTree(d, k, 8192)"
    )
    try:
        stmt = eng.execute("SHOW CREATE TABLE sc_t").collect()[0][0]
        assert stmt == (
            "CREATE TABLE sc_t ( d Date,  k UInt64,  `n.ui8` Array(UInt8),  "
            "`n.s` Array(String),  v String DEFAULT 'x') "
            "ENGINE = MergeTree(d, k, 8192)"
        )
    finally:
        eng.execute("DROP TABLE sc_t")


def test_check_table_and_kill(eng):
    eng.execute("DROP TABLE IF EXISTS chk_t")
    eng.execute("CREATE TABLE chk_t (x UInt8) ENGINE = Memory")
    try:
        assert eng.execute("CHECK TABLE chk_t").collect()[0][0] == 1
        killed = eng.execute("KILL QUERY WHERE query_id = 'none'")
        assert killed.columns == ["kill_status", "query_id", "user", "query"]
        assert killed.count() == 0
    finally:
        eng.execute("DROP TABLE chk_t")


def test_show_processlist(eng):
    rows = eng.execute("SHOW PROCESSLIST").collect()
    assert len(rows) == 1
    assert rows[0]["query"] == "SHOW PROCESSLIST"
    assert rows[0]["user"] == "default"


def test_system_parts_tracks_inserts_and_optimize(eng):
    """Each INSERT creates one part per month partition; OPTIMIZE
    merges parts within a partition (StorageSystemParts.cpp /
    MergeTreeDataMerger)."""
    eng.execute("DROP TABLE IF EXISTS parts_t")
    eng.execute(
        "CREATE TABLE parts_t (d Date, k UInt32) "
        "ENGINE = MergeTree(d, k, 8192)"
    )
    try:
        eng.execute(
            "INSERT INTO parts_t VALUES ('2024-01-05', 1), ('2024-02-06', 2)"
        )
        eng.execute("INSERT INTO parts_t VALUES ('2024-01-07', 3)")
        parts = {
            (r["partition"], r["name"], r["rows"], r["level"])
            for r in eng.sql(
                "SELECT * FROM system.parts WHERE table = 'parts_t'"
            ).collect()
        }
        # insert 1 spans two months -> two parts; insert 2 -> one more
        assert parts == {
            ("202401", "20240105_20240105_1_1_0", 1, 0),
            ("202402", "20240206_20240206_2_2_0", 1, 0),
            ("202401", "20240107_20240107_3_3_0", 1, 0),
        }
        eng.execute("OPTIMIZE TABLE parts_t")
        merged = {
            (r["partition"], r["name"], r["rows"], r["level"])
            for r in eng.sql(
                "SELECT * FROM system.parts WHERE table = 'parts_t'"
            ).collect()
        }
        assert merged == {
            ("202401", "20240105_20240107_1_3_1", 2, 1),
            ("202402", "20240206_20240206_2_2_0", 1, 0),
        }
    finally:
        eng.execute("DROP TABLE parts_t")


# ------------------------------------------------- round-7 advice fixes


def test_mv_base_match_word_boundary(eng):
    """MV base-table detection tokenizes FROM/JOIN references; an INSERT
    into an unrelated table whose name is a SUBSTRING of the MV's SELECT
    text must not re-run the MV (old bug: `k in sel_sql` matched table
    'word' against 'SELECT x FROM wordbase' and appended dup rows)."""
    eng.execute("DROP TABLE IF EXISTS wordbase")
    eng.execute("DROP TABLE IF EXISTS word")
    eng.execute("DROP TABLE IF EXISTS mv_wb")
    eng.execute("CREATE TABLE wordbase (x UInt32) ENGINE = Memory")
    eng.execute("CREATE TABLE word (x UInt32) ENGINE = Memory")
    eng.execute("INSERT INTO wordbase VALUES (1)")
    eng.execute(
        "CREATE MATERIALIZED VIEW mv_wb POPULATE AS SELECT x FROM wordbase"
    )
    try:
        assert eng.execute("SELECT count() FROM mv_wb").collect()[0][0] == 1
        # unrelated insert: substring-matched before, must be a no-op now
        eng.execute("INSERT INTO word VALUES (7)")
        assert eng.execute("SELECT count() FROM mv_wb").collect()[0][0] == 1
        # real base insert still fans out the inserted block
        eng.execute("INSERT INTO wordbase VALUES (2)")
        assert eng.execute("SELECT count() FROM mv_wb").collect()[0][0] == 2
    finally:
        eng.execute("DROP TABLE mv_wb")
        eng.execute("DROP TABLE word")
        eng.execute("DROP TABLE wordbase")


def test_ieee_log_null_propagates(eng):
    """NULL into log/ln/log2/log10 stays NULL (Nullable propagation),
    not the ELSE-NaN negative-domain branch."""
    row = eng.execute(
        "SELECT log(CAST(NULL AS Nullable(Float64))), "
        "log2(CAST(NULL AS Nullable(Float64))), "
        "log(-1.0), log(0.0)"
    ).collect()[0]
    assert row[0] is None and row[1] is None
    assert row[2] != row[2]  # NaN
    assert row[3] == float("-inf")


def test_visible_width_plain_string(eng):
    """visibleWidth of a plain string is its length — the ', ' -> ','
    composite-rendering squeeze must only apply to arrays/structs."""
    row = eng.execute(
        "SELECT visibleWidth('a, b'), visibleWidth([1, 2, 3])"
    ).collect()[0]
    assert row[0] == 4  # was 3: the squeeze ate the space
    assert row[1] == 7  # [1,2,3]


def test_float_text_negative_zero():
    """writeFloatText prints -0.0 as '-0' (sign bit, not comparison —
    -0.0 == 0 is true so `v < 0` missed it)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.formats import (
        _ch_float,
    )

    assert _ch_float(-0.0) == "-0"
    assert _ch_float(0.0) == "0"
    assert _ch_float(-0.5) == "-0.5"


def test_reservoir_order_independent_beyond_limit():
    """ReservoirSamplerDeterministic beyond 8192 values: the retained
    set is {i : tz(hash_i) >= k} for the smallest adequate k — a pure
    function of the determinator hashes, independent of arrival order
    (thinOut re-applies the filter retroactively)."""
    import numpy as np

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.reservoir import (
        SAMPLE_COUNT,
        deterministic_samples,
    )

    rng = np.random.RandomState(7)
    vals = rng.randint(0, 10**6, 20000).astype(np.float64)
    dets = np.arange(20000).astype(np.uint64)
    s1 = deterministic_samples(vals, dets)
    perm = rng.permutation(20000)
    s2 = deterministic_samples(vals[perm], dets[perm])
    assert len(s1) <= SAMPLE_COUNT
    assert sorted(s1.tolist()) == sorted(s2.tolist())


def test_replicated_dedup_no_block_collect(eng, monkeypatch):
    """Replicated* INSERT dedup must fingerprint executor-side: no
    collect() call may materialize O(block) rows on the driver
    (ReplicatedMergeTreeBlockOutputStream checksums server-side)."""
    from pyspark.sql import DataFrame

    eng.execute("DROP TABLE IF EXISTS rdedup")
    eng.execute(
        "CREATE TABLE rdedup (d Date, k UInt32) ENGINE = "
        "ReplicatedMergeTree('/clickhouse/tables/rdedup', 'r1', d, k, 8192)"
    )
    sizes: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    eng.execute(
        "INSERT INTO rdedup SELECT o_orderdate, o_orderkey FROM orders"
    )
    n_orders = eng.spark.table("orders").count()
    assert n_orders > 1000
    assert max(sizes, default=0) < 100, (
        f"driver-side collect materialized {max(sizes)} rows during a "
        f"{n_orders}-row Replicated INSERT"
    )
    # dedup still works: the identical block is silently dropped...
    eng.execute(
        "INSERT INTO rdedup SELECT o_orderdate, o_orderkey FROM orders"
    )
    assert eng.sql("SELECT count() FROM rdedup").collect()[0][0] == n_orders
    # ...but different content appends
    eng.execute(
        "INSERT INTO rdedup SELECT o_orderdate, o_orderkey FROM orders LIMIT 5"
    )
    assert eng.sql("SELECT count() FROM rdedup").collect()[0][0] == n_orders + 5
    eng.execute("DROP TABLE rdedup")


def test_insert_select_maps_columns_by_position(eng):
    """INSERT … SELECT fills the target columns by position, also when
    two SELECT items are the same expression and so share Spark's
    generated column name."""
    eng.execute("DROP TABLE IF EXISTS ins_pos")
    eng.execute("CREATE TABLE ins_pos (a UInt32, b UInt32) ENGINE = Memory")
    eng.execute(
        "INSERT INTO ins_pos SELECT toUInt32(number), toUInt32(number) "
        "FROM system.numbers LIMIT 3"
    )
    eng.execute(
        "INSERT INTO ins_pos (b, a) SELECT toUInt32(number + 7), "
        "toUInt32((number + 7) * 10) FROM system.numbers LIMIT 1"
    )
    got = eng.sql("SELECT a, b FROM ins_pos").collect()
    assert sorted(tuple(r) for r in got) == [(0, 0), (1, 1), (2, 2), (70, 7)]
    eng.execute("DROP TABLE ins_pos")


def test_quantile_scale_guard_modes(eng):
    """SET approx_quantiles = 1 routes the bit-exact quantile family
    (collect_list -> reservoir Arrow UDF, unbounded per-group memory)
    to percentile_approx — the bounded-memory plan for 100 TB groups.
    Default stays the reference-exact reservoir replay."""
    q = ("SELECT quantile(0.5)(o_totalprice) AS q,"
         " quantiles(0.25, 0.75)(o_totalprice) AS qs,"
         " quantileTiming(0.9)(o_orderkey) AS qt FROM orders")
    exact_sql = eng.translate(q)
    assert "ch_rsv_quantiles" in exact_sql
    assert "percentile_approx" not in exact_sql
    exact = eng.sql(q).collect()[0]

    # per-query SETTINGS form
    approx_sql = eng.translate(q + " SETTINGS approx_quantiles = 1")
    assert "percentile_approx" in approx_sql
    assert "ch_rsv_quantiles" not in approx_sql
    assert "collect_list" not in approx_sql
    # session SET form
    eng.execute("SET approx_quantiles = 1")
    try:
        approx_sql2 = eng.translate(q)
        assert "percentile_approx" in approx_sql2
        approx = eng.sql(q).collect()[0]
    finally:
        eng.execute("SET approx_quantiles = 0")
    # sketch results track the exact ones (orders is well-spread)
    assert abs(approx["q"] - exact["q"]) / exact["q"] < 0.05
    assert len(approx["qs"]) == 2
    # default restored: exact path again
    assert "ch_rsv_quantiles" in eng.translate(q)
