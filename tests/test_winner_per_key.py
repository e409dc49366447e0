"""The one "row per key" lowering (sources.mergetree.winner_per_key_sql)
against a ``row_number()`` window reference, through every path that
uses it: ReplacingMergeTree FINAL, OPTIMIZE TABLE then a plain read,
ANY JOIN and the Join engine.

The winner is the first row ordered by the version, then every other
orderable column, DESC NULLS LAST (FINAL, OPTIMIZE) or ASC NULLS FIRST
(ANY JOIN, Join engine).  Map columns ride along but never break ties;
NULLs, equal versions, arrays and an empty input must not change who
wins.
"""

from __future__ import annotations

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
    TableMeta,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.engines import (
    JoinTable,
)

SCHEMA = "k INT, v INT, s STRING, a ARRAY<INT>, m MAP<STRING, INT>"

CASES = {
    # NULL versions and NULL tie columns
    "null_ties": [
        (1, None, "x", [1], {}),
        (1, None, None, [2], {"a": 1}),
        (1, 2, None, None, None),
        (1, 2, "y", [0], None),
        (2, None, None, None, None),
        (2, None, "b", None, {"b": 2}),
    ],
    # equal versions: the remaining columns decide
    "version_ties": [
        (1, 5, "a", [3], {"x": 1}),
        (1, 5, "b", [1], {"x": 2}),
        (1, 5, "b", [2], {"x": 3}),
        (2, 7, "z", [], None),
        (2, 7, "z", [0], None),
        (3, 1, "q", [9], None),
    ],
    "empty": [],
    # arrays (NULL elements included) break ties; maps only travel
    "array_map": [
        (1, 1, "s", [None, 1], {"x": 1}),
        (1, 1, "s", [0, 1], {"y": 2}),
        (1, 1, "s", [None], {"z": 3}),
        (2, 3, None, [], {"w": 4}),
        (2, 3, None, None, {}),
    ],
}


def _window_winner(spark, view: str, desc: bool) -> list:
    d = " DESC" if desc else ""
    order = ", ".join(f"{c}{d}" for c in ("v", "s", "a"))
    return spark.sql(
        f"SELECT * EXCEPT (rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY k ORDER BY {order}) AS rn FROM {view}) WHERE rn = 1"
    ).collect()


def _rows(rows) -> list:
    return sorted((tuple(r) for r in rows), key=lambda t: t[0])


def _ch_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, list):
        return "[" + ", ".join(_ch_literal(x) for x in v) + "]"
    return str(v)


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("path", ["final", "optimize", "any_join", "join_table"])
def test_winner_matches_row_number_window(spark, case, path):
    rows = CASES[case]
    df = spark.createDataFrame(rows, SCHEMA)
    view = f"wpk_{case}"
    df.createOrReplaceTempView(view)
    eng = ChEngine(spark)
    if path == "final":
        eng.set_meta(view, TableMeta(
            primary_key=("k",), version_col="v", engine="ReplacingMergeTree"
        ))
        got = eng.sql(f"SELECT * FROM {view} FINAL").collect()
        want = _window_winner(spark, view, desc=True)
    elif path == "optimize":
        # the dialect has no Map type: the stored table drops that column
        table = f"wpk_opt_{case}"
        eng.execute(f"DROP TABLE IF EXISTS {table}")
        eng.execute(
            f"CREATE TABLE {table} (d Date, k Int32, v Nullable(Int32), "
            "s Nullable(String), a Array(Nullable(Int32))) "
            "ENGINE = ReplacingMergeTree(d, (k), 8192, v)"
        )
        for r in rows:  # one part per row: the merge must pick
            eng.execute(
                f"INSERT INTO {table} (k, v, s, a) VALUES "
                f"({', '.join(_ch_literal(x) for x in r[:4])})"
            )
        # the reference reads the stored rows (a NULL array is stored
        # as the type default [])
        stored = eng.sql(f"SELECT k, v, s, a FROM {table}").collect()
        spark.createDataFrame(stored, "k INT, v INT, s STRING, a ARRAY<INT>") \
            .createOrReplaceTempView(f"{view}_stored")
        want = _window_winner(spark, f"{view}_stored", desc=True)
        eng.execute(f"OPTIMIZE TABLE {table}")
        got = eng.sql(f"SELECT k, v, s, a FROM {table}").collect()
        eng.execute(f"DROP TABLE {table}")
    elif path == "any_join":
        spark.range(0, 4).selectExpr("CAST(id AS INT) AS k").createOrReplaceTempView(
            "wpk_left"
        )
        got = eng.sql(
            f"SELECT k, v, s, a, m FROM wpk_left ANY INNER JOIN {view} USING (k) "
            "ORDER BY k SETTINGS join_use_nulls = 1"
        ).collect()
        want = _window_winner(spark, view, desc=False)
    else:
        got = JoinTable(df, ["k"], strictness="any").read().collect()
        want = _window_winner(spark, view, desc=False)
    assert _rows(got) == _rows(want)
    if case == "empty":
        assert got == []


def test_final_and_optimize_agree_on_version_ties(spark):
    """A ReplacingMergeTree whose versions tie: SELECT ... FINAL and a
    plain read after OPTIMIZE TABLE return the same rows, because both
    go through the same winner function."""
    eng = ChEngine(spark)
    eng.execute("DROP TABLE IF EXISTS wpk_ties")
    eng.execute(
        "CREATE TABLE wpk_ties (d Date, k UInt32, s String, v UInt32) "
        "ENGINE = ReplacingMergeTree(d, (k), 8192, v)"
    )
    eng.execute(
        "INSERT INTO wpk_ties VALUES ('2024-01-01', 1, 'b', 1), "
        "('2024-01-01', 2, 'x', 3)"
    )
    eng.execute(
        "INSERT INTO wpk_ties VALUES ('2024-01-01', 1, 'c', 1), "
        "('2024-01-01', 1, 'a', 1), ('2024-01-02', 2, 'y', 3)"
    )
    final = eng.execute("SELECT * FROM wpk_ties FINAL ORDER BY k").collect()
    eng.execute("OPTIMIZE TABLE wpk_ties")
    merged = eng.execute("SELECT * FROM wpk_ties ORDER BY k").collect()
    eng.execute("DROP TABLE wpk_ties")
    assert [tuple(r) for r in final] == [tuple(r) for r in merged]
    assert [(r.k, r.s) for r in merged] == [(1, "c"), (2, "y")]
