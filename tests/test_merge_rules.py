"""One merge rule per MergeTree engine (sources.mergetree.merge_rule): a
FINAL read and OPTIMIZE TABLE run the same Replacing, Summing,
Collapsing and Aggregating merge, so reading FINAL before a merge and
after it gives the same rows — and, for every engine but Collapsing
(whose merge keeps a net-negative key's -1 row that FINAL drops), the
same rows as a plain read of the merged table.
"""

from __future__ import annotations

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
    TableMeta,
)


@pytest.fixture(scope="module")
def eng(spark):
    return ChEngine(spark)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _load(eng, name: str, ddl: str, inserts: list[str]) -> None:
    eng.execute(f"DROP TABLE IF EXISTS {name}")
    eng.execute(ddl)
    for ins in inserts:  # one part per INSERT
        eng.execute(ins)


def test_summing_final_deletes_zero_sum_group(eng):
    """A multi-row group summing to zero is deleted by FINAL as by the
    merge (SummingSortedBlockInputStream current_row_is_zero)."""
    _load(eng, "mr_sum0", (
        "CREATE TABLE mr_sum0 (d Date, k UInt32, v Int32) "
        "ENGINE = SummingMergeTree(d, k, 8192)"
    ), [
        "INSERT INTO mr_sum0 VALUES ('2024-01-01', 1, 10)",
        "INSERT INTO mr_sum0 VALUES ('2024-01-01', 1, -10), "
        "('2024-01-01', 2, 5)",
    ])
    try:
        assert _rows(eng.execute("SELECT k, v FROM mr_sum0 FINAL")) == [(2, 5)]
        eng.execute("OPTIMIZE TABLE mr_sum0")
        assert _rows(eng.execute("SELECT k, v FROM mr_sum0")) == [(2, 5)]
    finally:
        eng.execute("DROP TABLE mr_sum0")


def test_collapsing_final_unchanged_by_optimize(eng):
    """Several +1 rows of one key: FINAL and the merge keep the same
    one (the max row in the shared tie order), so OPTIMIZE does not
    change what FINAL returns."""
    _load(eng, "mr_col", (
        "CREATE TABLE mr_col (d Date, k UInt32, s String, sign Int8) "
        "ENGINE = CollapsingMergeTree(d, k, 8192, sign)"
    ), [
        "INSERT INTO mr_col VALUES ('2024-01-01', 1, 'a', 1), "
        "('2024-01-01', 2, 'x', -1)",
        "INSERT INTO mr_col VALUES ('2024-01-01', 1, 'b', 1), "
        "('2024-01-01', 1, 'c', -1), ('2024-01-01', 1, 'z', 1)",
    ])
    try:
        q = "SELECT k, s, sign FROM mr_col FINAL"
        before = _rows(eng.execute(q))
        eng.execute("OPTIMIZE TABLE mr_col")
        assert _rows(eng.execute(q)) == before == [(1, "z", 1)]
        # the merge keeps the net-negative key's -1 row
        assert _rows(eng.execute("SELECT k, s, sign FROM mr_col")) == [
            (1, "z", 1), (2, "x", -1),
        ]
    finally:
        eng.execute("DROP TABLE mr_col")


def test_summing_expression_key_is_not_summed(eng):
    """A key expression (``-x``) reads ``x``: rows merge per ``x`` and
    ``x`` is a key column, not a metric, in FINAL and in the merge."""
    _load(eng, "mr_sum_expr", (
        "CREATE TABLE mr_sum_expr (d Date, x Int32, v Int32) "
        "ENGINE = SummingMergeTree(d, -x, 8192)"
    ), [
        "INSERT INTO mr_sum_expr VALUES ('2024-01-01', 1, 10), "
        "('2024-01-01', 2, 7)",
        "INSERT INTO mr_sum_expr VALUES ('2024-01-01', 1, 5)",
    ])
    try:
        q = "SELECT x, v FROM mr_sum_expr FINAL"
        assert _rows(eng.execute(q)) == [(1, 15), (2, 7)]
        eng.execute("OPTIMIZE TABLE mr_sum_expr")
        assert _rows(eng.execute(q)) == [(1, 15), (2, 7)]
        assert _rows(eng.execute("SELECT x, v FROM mr_sum_expr")) == [
            (1, 15), (2, 7),
        ]
    finally:
        eng.execute("DROP TABLE mr_sum_expr")


def test_set_meta_summing_final_sums(eng, spark):
    """A view registered with ``set_meta`` (no CREATE TABLE) gets the
    Summing merge from its analyzed schema."""
    spark.createDataFrame([(1, 10), (1, 5), (2, 7)], "k INT, v INT") \
        .createOrReplaceTempView("mr_sm_meta")
    eng.set_meta("mr_sm_meta", TableMeta(
        primary_key=("k",), engine="SummingMergeTree"
    ))
    got = _rows(eng.sql("SELECT k, v FROM mr_sm_meta FINAL"))
    assert got == [(1, 15), (2, 7)]


def test_set_meta_aggregating_final_raises(eng, spark):
    """Without CREATE TABLE there is no AggregateFunction type to merge
    states by: FINAL raises instead of keeping one row per key."""
    spark.createDataFrame([(1, 10), (1, 5)], "k INT, st BIGINT") \
        .createOrReplaceTempView("mr_agg_meta")
    eng.set_meta("mr_agg_meta", TableMeta(
        primary_key=("k",), engine="AggregatingMergeTree"
    ))
    with pytest.raises(ValueError, match="AggregateFunction"):
        eng.translate("SELECT * FROM mr_agg_meta FINAL")


# duplicate keys, version/value ties and a zero-sum group per engine;
# each list entry is one INSERT (one part)
ENGINES = {
    "replacing": (
        "(d Date, k UInt32, s String, ver UInt32) "
        "ENGINE = ReplacingMergeTree(d, k, 8192, ver)",
        "k, s, ver",
        [
            "(1, 'a', 1), (1, 'b', 2), (2, 'x', 5)",
            "(1, 'c', 2), (2, 'x', 5), (3, 'q', 0)",
            "(1, 'b', 2), (3, 'p', 0)",
        ],
    ),
    "summing": (
        "(d Date, k UInt32, s String, v Int32, w Float64) "
        "ENGINE = SummingMergeTree(d, k, 8192)",
        "k, s, v, w",
        [
            "(1, 'a', 10, 1.5), (2, 'b', 3, 0), (4, 'd', 0, 0)",
            "(1, 'a', -10, -1.5), (2, 'b', 4, 2), (3, 'c', 7, 0)",
            "(2, 'b', -6, -2), (3, 'c', 1, 1)",
        ],
    ),
    "collapsing": (
        "(d Date, k UInt32, s String, sign Int8) "
        "ENGINE = CollapsingMergeTree(d, k, 8192, sign)",
        "k, s, sign",
        [
            "(1, 'a', 1), (2, 'x', 1), (3, 'n', -1)",
            "(1, 'b', 1), (1, 'a', -1), (2, 'x', -1), (4, 'm', 1)",
            "(1, 'z', 1), (1, 'b', 1), (3, 'o', -1), (4, 'm', 1)",
        ],
    ),
    "aggregating": (
        "(d Date, k UInt64, st AggregateFunction(sum, UInt64), "
        "mx AggregateFunction(max, UInt64)) "
        "ENGINE = AggregatingMergeTree(d, k, 8192)",
        "k, finalizeAggregation(st), finalizeAggregation(mx)",
        [
            "SELECT toDate('2024-01-01'), number % 3, "
            "sumState(toUInt64(number * (number % 3))), "
            "maxState(toUInt64(number)) "
            "FROM (SELECT * FROM system.numbers LIMIT 6) GROUP BY number % 3",
            "SELECT toDate('2024-01-01'), number % 4, "
            "sumState(toUInt64(number % 2)), maxState(toUInt64(5)) "
            "FROM (SELECT * FROM system.numbers LIMIT 8) GROUP BY number % 4",
        ],
    ),
}


@pytest.mark.parametrize("engine", sorted(ENGINES))
def test_final_before_and_after_optimize_agree(eng, engine):
    ddl, cols, inserts = ENGINES[engine]
    t = f"mr_{engine}"
    _load(eng, t, f"CREATE TABLE {t} {ddl}", [
        f"INSERT INTO {t} " + (
            ins if ins.startswith("SELECT")
            else "VALUES " + ins.replace("(", "('2024-01-01', ")
        )
        for ins in inserts
    ])
    try:
        final_q = f"SELECT {cols} FROM {t} FINAL"
        before = _rows(eng.execute(final_q))
        eng.execute(f"OPTIMIZE TABLE {t}")
        after = _rows(eng.execute(final_q))
        merged = _rows(eng.execute(f"SELECT {cols} FROM {t}"))
    finally:
        eng.execute(f"DROP TABLE {t}")
    assert before == after
    if engine != "collapsing":
        assert merged == after
    want = {
        # max version, then the max remaining row among version ties
        "replacing": [(1, "c", 2), (2, "x", 5), (3, "q", 0)],
        # key 1 sums to zero over two rows and is deleted; key 4 is a
        # single zero row and stays
        "summing": [(2, "b", 1, 0.0), (3, "c", 8, 1.0), (4, "d", 0, 0.0)],
        # key 1 nets +3 (max +1 row 'z'), 2 cancels, 3 nets -2, 4 nets +2
        "collapsing": [(1, "z", 1), (4, "m", 1)],
        # sums of number * (number % 3) for 0..5 plus number % 2 for
        # 0..7 per key; key 0's sum is zero and stays (no deletion)
        "aggregating": [(0, 0, 5), (1, 7, 5), (2, 14, 5), (3, 2, 5)],
    }[engine]
    assert after == want
