"""One source of column types: a type-dispatched function gives the same
answer whether its column comes from CREATE TABLE, a ``register_table``
view or a FROM-subquery, every output path names a column's type alike,
and outer joins fill misses the same way under USING and ON."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.engine import (
    ChEngine,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.formats import (
    format_result,
)

_ROWS = [
    (1, "u1", [1, 2], Decimal(18446744073709551615),
     dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5)),
    (-5, "", [], Decimal(0), dt.date(1970, 1, 1), dt.datetime(1970, 1, 1)),
    (7, "http://x.org/a/b", [-1, 0, 7], Decimal(9223372036854775808),
     dt.date(2105, 12, 31), dt.datetime(2038, 1, 19, 3, 14, 8)),
]

# the same values three ways: declared columns, a view over a Spark
# DataFrame, and a subquery alias over the declared table
_SOURCES = {
    "table": "ct_src",
    "view": "cv_src",
    "subquery": "(SELECT i, s, a, u, d, t FROM ct_src) AS sq",
}

_EXPRS = [
    f"{fn}({c})"
    for fn in ("cityHash64", "farmHash64", "metroHash64")
    for c in ("i", "s", "a", "u", "d", "t")
] + [
    "cityHash64(i, a, u, d, t)",
    "sipHash64(s)", "halfMD5(s)", "URLHash(s)",
] + [
    f"{fn}({c})" for fn in ("intHash32", "intHash64") for c in ("i", "u", "d", "t")
] + [f"toTypeName({c})" for c in ("i", "s", "a", "u", "d", "t")] + [
    "length(a)", "empty(a)", "notEmpty(a)",
]

_AGGS = [
    f"{fn}({c})"
    for fn in ("uniq", "uniqHLL12", "uniqCombined")
    for c in ("i", "s", "u", "d", "t")
]


@pytest.fixture(scope="module")
def eng(spark):
    e = ChEngine(spark)
    e.execute(
        "CREATE TABLE ct_src (i Int64, s String, a Array(Int64), u UInt64, "
        "d Date, t DateTime) ENGINE = Memory"
    )
    e.execute(
        "INSERT INTO ct_src VALUES "
        "(1, 'u1', [1, 2], 18446744073709551615, '2024-01-02', '2024-01-02 03:04:05'), "
        "(-5, '', [], 0, '1970-01-01', '1970-01-01 00:00:00'), "
        "(7, 'http://x.org/a/b', [-1, 0, 7], 9223372036854775808, "
        "'2105-12-31', '2038-01-19 03:14:08')"
    )
    e.register_table("cv_src", spark.createDataFrame(
        _ROWS, "i bigint, s string, a array<bigint>, u decimal(20,0), "
        "d date, t timestamp",
    ))
    return e


def _answers(eng, expr: str, order: bool) -> dict:
    out = {}
    for src, from_ in _SOURCES.items():
        tail = " ORDER BY i" if order else ""
        out[src] = [tuple(r) for r in eng.sql(f"SELECT {expr} FROM {from_}{tail}").collect()]
    return out


@pytest.mark.parametrize("expr", _EXPRS)
def test_same_answer_on_every_source(eng, expr):
    got = _answers(eng, f"{expr} AS x, i", order=True)
    assert got["view"] == got["table"], got
    assert got["subquery"] == got["table"], got


@pytest.mark.parametrize("expr", _AGGS)
def test_same_uniq_on_every_source(eng, expr):
    got = _answers(eng, expr, order=False)
    assert got["view"] == got["table"] == got["subquery"], got
    assert got["table"] == [(3,)]


def test_exact_hash_values(eng):
    # CityHash64 over the Int64 value 1 (FunctionNeighbourhoodHash64:
    # IntHash64 of the bit pattern), from every source
    for from_ in _SOURCES.values():
        r = eng.sql(f"SELECT cityHash64(i) FROM {from_} WHERE i = 1").collect()
        assert int(r[0][0]) == 10577349846663553072


# DataFrame helper vs the CH-SQL lowering of the same function, over
# the Int64 column i and the String column s of the registered view
_HELPER_CASES = [
    (fn, c)
    for fn in ("cityHash64", "farmHash64", "metroHash64", "sipHash64")
    for c in ("i", "s")
] + [("URLHash", "s"), ("intHash64", "i"), ("intHash32", "i")]


@pytest.mark.parametrize("fn,c", _HELPER_CASES)
def test_dataframe_hash_helpers_match_ch_sql(eng, spark, fn, c):
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions import (
        hashing,
    )

    want = [int(r[0]) % (1 << 64) for r in eng.sql(
        f"SELECT {fn}({c}) FROM cv_src ORDER BY i").collect()]
    df = spark.table("cv_src").orderBy("i")
    got = [r[0] % (1 << 64) for r in df.select(getattr(hashing, fn)(c)).collect()]
    assert got == want


def test_dataframe_hash_helpers_raise_without_exact_path(spark):
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions import (
        hashing,
    )

    with pytest.raises(ValueError, match="cityHash64.*one argument"):
        hashing.cityHash64("i", "s")


def test_untyped_hash_argument_raises(eng, spark):
    # no exact lowering for a type: an error naming the function and
    # the type, never another hash's values
    eng.register_table("cv_dec", spark.createDataFrame(
        [(Decimal("1.25"),)], "m decimal(10,2)"))
    with pytest.raises(ValueError, match=r"cityHash64.*decimal\(10,2\)"):
        eng.translate("SELECT cityHash64(m) FROM cv_dec")
    with pytest.raises(ValueError, match="intHash64.*String"):
        eng.translate("SELECT intHash64(s) FROM cv_src")


def test_type_names_agree(eng, spark):
    eng.register_table("cv_names", spark.createDataFrame(
        [(True, Decimal(5), Decimal("1.25"), [True, False],
          dt.datetime(2024, 1, 1))],
        "b boolean, u decimal(20,0), m decimal(10,2), ab array<boolean>, "
        "tn timestamp_ntz",
    ))
    cols = ["b", "u", "m", "ab", "tn"]
    want = ["UInt8", "UInt64", "decimal(10,2)", "Array(UInt8)", "DateTime"]
    described = [r[1] for r in eng.execute("DESCRIBE TABLE cv_names").collect()]
    df = eng.sql("SELECT * FROM cv_names")
    header = format_result(
        df, "TabSeparatedWithNamesAndTypes",
        ch_types=eng.last_out_ch_types, ch_names=eng.last_out_ch_names,
    ).splitlines()[1].split("\t")
    named = list(eng.sql(
        "SELECT " + ", ".join(f"toTypeName({c})" for c in cols) + " FROM cv_names"
    ).collect()[0])
    assert described == header == named == want


# ANY keeps one right row per key — the smallest over its columns here,
# which is also the first inserted, as the reference keeps
_JOIN_WANT = {
    ("ALL", "LEFT"): [("w", 0), ("x", 10), ("x", 11), ("y", 20), ("y2", 20)],
    ("ANY", "LEFT"): [("w", 0), ("x", 10), ("y", 20), ("y2", 20)],
    ("ALL", "RIGHT"): [("", 30), ("x", 10), ("x", 11), ("y", 20), ("y2", 20)],
    ("ANY", "RIGHT"): [("", 30), ("x", 10), ("y", 20), ("y2", 20)],
    ("ALL", "FULL"): [("", 30), ("w", 0), ("x", 10), ("x", 11), ("y", 20),
                      ("y2", 20)],
    ("ANY", "FULL"): [("", 30), ("w", 0), ("x", 10), ("y", 20), ("y2", 20)],
}


@pytest.fixture(scope="module")
def join_eng(spark):
    e = ChEngine(spark)
    e.register_table("jl", spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y2"), (4, "w")], "k bigint, a string"))
    e.register_table("jr", spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "k bigint, b bigint"))
    e.register_table("jr_on", spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "rk bigint, b bigint"))
    return e


@pytest.mark.parametrize("cond", ["USING", "ON"])
@pytest.mark.parametrize("kind", ["LEFT", "RIGHT", "FULL"])
@pytest.mark.parametrize("strict", ["ALL", "ANY"])
def test_outer_join_fill(join_eng, strict, kind, cond):
    right, on = (
        ("jr", "USING k") if cond == "USING" else ("jr_on", "ON k = rk")
    )
    q = f"SELECT a, b FROM jl {strict} {kind} JOIN {right} {on}"
    got = sorted(tuple(r) for r in join_eng.sql(q).collect())
    assert got == _JOIN_WANT[(strict, kind)]
    # join_use_nulls = 1: a miss reads NULL on either syntax
    nulls = sorted(
        (tuple(r) for r in join_eng.sql(
            q + " SETTINGS join_use_nulls = 1").collect()),
        key=lambda r: (r[0] or "", r[1] or 0),
    )
    want = [
        (None if a == "" else a, None if (a, b) == ("w", 0) else b)
        for a, b in _JOIN_WANT[(strict, kind)]
    ]
    assert nulls == sorted(want, key=lambda r: (r[0] or "", r[1] or 0))


@pytest.mark.parametrize("use_nulls", [0, 1])
@pytest.mark.parametrize("cond", ["USING", "ON"])
@pytest.mark.parametrize("kind", ["LEFT", "RIGHT", "FULL"])
@pytest.mark.parametrize("strict", ["ALL", "ANY"])
def test_outer_join_fill_qualified(join_eng, strict, kind, cond, use_nulls):
    # `jl.a` / `jr.b` read like the bare names of test_outer_join_fill:
    # type defaults under join_use_nulls = 0, NULL under 1, and the
    # output columns keep the bare names
    right, on = (
        ("jr", "USING k") if cond == "USING" else ("jr_on", "ON k = rk")
    )
    tail = f"FROM jl {strict} {kind} JOIN {right} {on} SETTINGS join_use_nulls = {use_nulls}"
    df = join_eng.sql(f"SELECT jl.a, {right}.b {tail}")
    assert df.columns == ["a", "b"]
    key = lambda r: (r[0] or "", r[1] or 0)  # noqa: E731
    got = sorted((tuple(r) for r in df.collect()), key=key)
    bare = join_eng.sql(f"SELECT a, b {tail}").collect()
    assert got == sorted((tuple(r) for r in bare), key=key)
    if not use_nulls:
        assert got == sorted(_JOIN_WANT[(strict, kind)], key=key)
