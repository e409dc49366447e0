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
    "cityHash64(s, a)", "farmHash64(s, a)", "metroHash64(s, a)",
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
    # a String before an array: Hash128to64 over the string's Hash64,
    # IntHash64(len) and each element's IntHash64, from the scalar ports
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions import (
        exact_hash as xh,
    )

    ports = {"cityHash64": xh.city_hash_64, "farmHash64": xh.farm_hash_64,
             "metroHash64": xh.metro_hash_64_1}
    for fn, hash64 in ports.items():
        want = []
        for _i, s, a, *_ in sorted(_ROWS):
            h = xh.hash128to64(hash64(s.encode()), xh.int_hash_64(len(a)))
            for e in a:
                h = xh.hash128to64(h, xh.int_hash_64(e))
            want.append(h)
        got = eng.sql(f"SELECT {fn}(s, a) FROM ct_src ORDER BY i").collect()
        assert [int(r[0]) for r in got] == want, fn


# DataFrame helper vs the CH-SQL lowering of the same function, over
# the Int64 column i and the String column s of the registered view
_HELPER_CASES = [
    (fn, c)
    for fn in ("cityHash64", "farmHash64", "metroHash64")
    for c in ("i", "s")
] + [("sipHash64", "s"), ("URLHash", "s"), ("intHash64", "i"), ("intHash32", "i")]


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


def test_dataframe_hash_helpers_raise_without_exact_path(eng, spark):
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions import (
        hashing,
    )

    with pytest.raises(ValueError, match="cityHash64.*one argument"):
        hashing.cityHash64("i", "s")
    # sipHash64 and URLHash take String only: the UDF raises a
    # ValueError naming the function and the type when the query runs
    df = spark.table("cv_src")
    for fn in ("sipHash64", "URLHash"):
        with pytest.raises(Exception, match=f"ValueError: {fn}: .*bigint"):
            df.select(getattr(hashing, fn)("i")).collect()


def test_untyped_hash_argument_raises(eng, spark):
    # no exact lowering for a type: an error naming the function and
    # the type, never another hash's values
    eng.register_table("cv_dec", spark.createDataFrame(
        [(Decimal("1.25"),)], "m decimal(10,2)"))
    with pytest.raises(ValueError, match=r"cityHash64.*decimal\(10,2\)"):
        eng.translate("SELECT cityHash64(m) FROM cv_dec")
    with pytest.raises(ValueError, match="intHash64.*String"):
        eng.translate("SELECT intHash64(s) FROM cv_src")
    # String-only in the reference (FunctionStringHash64, URLHash)
    for fn in ("sipHash64", "URLHash"):
        with pytest.raises(ValueError, match=f"{fn}.*Int64"):
            eng.translate(f"SELECT {fn}(i) FROM cv_src")


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


# Date/DateTime arithmetic and the array overloads, typed from the one
# lookup: (toTypeName, value per row in ORDER BY i).  The i = -5 row
# holds the epoch: Date is UInt16 days and DateTime UInt32 seconds, so
# a shift below it wraps.
_D, _T = dt.date, dt.datetime
_TYPED_CASES = {
    "t + 60": ("DateTime", [_T(1970, 1, 1, 0, 1), _T(2024, 1, 2, 3, 5, 5),
                            _T(2038, 1, 19, 3, 15, 8)]),
    "t - 60": ("DateTime", [_T(2106, 2, 7, 6, 27, 16), _T(2024, 1, 2, 3, 3, 5),
                            _T(2038, 1, 19, 3, 13, 8)]),
    "60 + t": ("DateTime", [_T(1970, 1, 1, 0, 1), _T(2024, 1, 2, 3, 5, 5),
                            _T(2038, 1, 19, 3, 15, 8)]),
    "d + 1": ("Date", [_D(1970, 1, 2), _D(2024, 1, 3), _D(2106, 1, 1)]),
    "1 + d": ("Date", [_D(1970, 1, 2), _D(2024, 1, 3), _D(2106, 1, 1)]),
    "d - 1": ("Date", [_D(2149, 6, 6), _D(2024, 1, 1), _D(2105, 12, 30)]),
    "d - toDate('2024-01-01')": ("Int32", [-19723, 1, 29949]),
    "toDate('2024-01-05') - d": ("Int32", [19727, 3, -29945]),
    "t - toDateTime('2024-01-01 00:00:00')": ("Int32", [-1704067200, 97445, 443416448]),
    "toDateTime('2024-01-02 03:04:05') - t": ("Int32", [1704164645, 0, -443319003]),
    "nullIf(d, toDate('1970-01-01')) + 1": (
        "Nullable(Date)", [None, _D(2024, 1, 3), _D(2106, 1, 1)]),
    "length(a)": ("UInt64", [0, 2, 3]),
    "empty(a)": ("UInt8", [1, 0, 0]),
    "a IN (2, 7)": ("UInt8", [0, 1, 1]),
}
_PY_TYPES = {"Date": dt.date, "DateTime": dt.datetime, "Int32": int, "UInt64": int,
             "UInt8": bool}


@pytest.mark.parametrize("src", list(_SOURCES))
@pytest.mark.parametrize("expr", list(_TYPED_CASES))
def test_date_and_array_operands_typed(eng, expr, src):
    ch_type, want = _TYPED_CASES[expr]
    rows = eng.sql(
        f"SELECT {expr} AS x, toTypeName({expr}) AS tn FROM {_SOURCES[src]} ORDER BY i"
    ).collect()
    assert [r.x for r in rows] == want
    assert {r.tn for r in rows} == {ch_type}
    py = _PY_TYPES[ch_type.removeprefix("Nullable(").rstrip(")")]
    assert all(type(r.x) is py for r in rows if r.x is not None)


# every function the translator once classified by name (the retired
# date/datetime/array name sets), with typed arguments: the type lookup
# gives each the same kind
_KINDS = {
    "Date": [
        "toDate(s)", "today()", "yesterday()", "toMonday(d)", "toStartOfMonth(d)",
        "toStartOfQuarter(d)", "toStartOfYear(d)", "addDays(d, 1)",
        "subtractDays(d, 1)", "least(d, d)", "materialize(d)",
    ],
    "DateTime": [
        "toDateTime(s)", "now()", "toStartOfMinute(t)", "toStartOfFiveMinute(t)",
        "toStartOfHour(t)", "toStartOfDay(t)", "timeSlot(t)", "toTime(t)",
        "greatest(t, t)",
    ],
    "Array": [
        "[1, 2]", "array(1, 2)", "range(3)", "splitByChar(',', s)",
        "splitByString(',', s)", "alphaTokens(s)", "extractAll(s, 'a')",
        "arrayMap(x -> x + 1, a)", "arrayFilter(x -> x > 1, a)", "arraySort(a)",
        "arrayReverseSort(a)", "arrayConcat(a, a)", "arraySlice(a, 1, 2)",
        "arrayDistinct(a)", "arrayEnumerate(a)", "arrayEnumerateUniq(a)",
        "arrayPushBack(a, 1)", "arrayPushFront(a, 1)", "arrayResize(a, 3)",
        "arrayReverse(a)", "groupArray(i)", "groupUniqArray(i)",
        "groupArrayIf(i, i > 0)", "groupUniqArrayIf(i, i > 0)",
        "groupArrayMerge(gs)", "groupUniqArrayMerge(us)", "topK(i)",
        "bitmaskToArray(i)", "arrayReduce('groupArray', a)",
        "arrayReduce('groupUniqArray', a)", "materialize(a)",
    ] + [
        f"emptyArray{t}()"
        for t in ("UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16", "Int32",
                  "Int64", "Float32", "Float64", "Date", "DateTime", "String")
    ],
}


def test_retired_name_sets_type_to_the_same_kind():
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.lexer import (
        tokenize,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.translate import (
        Ctx,
        _infer_expr_ch_type,
        _is_array,
    )

    ctx = Ctx()
    ctx.from_types = {
        "i": "Int64", "s": "String", "a": "Array(Int64)", "d": "Date",
        "t": "DateTime", "gs": "AggregateFunction(groupArray, Int64)",
        "us": "AggregateFunction(groupUniqArray, String)",
    }
    got = {
        e: (_infer_expr_ch_type(tokenize(e), ctx) or "")
        for exprs in _KINDS.values() for e in exprs
    }
    wrong = {
        e: t for kind, exprs in _KINDS.items() for e in exprs
        if not (got[e] == kind or kind == "Array" and got[e].startswith("Array("))
    }
    assert not wrong
    # the array names are arrays whatever their arguments: with an
    # element the lookup cannot type (a function missing from it, or a
    # column it does not hold) the type is Array(?), still an array
    untyped = [
        e for e in _UNTYPED_ARRAYS if not _is_array(tokenize(e), ctx)
    ]
    assert not untyped


_G = "groupArray(domain(s))"
_UNTYPED_ARRAYS = [
    "[domain(s)]", "[domain(s), 1]", "array(domain(s))",
    "arrayMap(x -> reverseUTF8(x), a)", f"arrayMap(x -> x, {_G})",
    "arrayFilter(x -> 1, groupArray(extract(s, 'a')))", f"arraySort({_G})",
    f"arrayReverseSort({_G})", f"arrayConcat({_G}, {_G})", f"arraySlice({_G}, 1, 2)",
    f"arrayDistinct({_G})", f"arrayEnumerate({_G})", f"arrayEnumerateUniq({_G})",
    f"arrayPushBack({_G}, domain(s))", f"arrayPushFront({_G}, domain(s))",
    f"arrayResize({_G}, 3, domain(s))", f"arrayReverse({_G})", _G,
    "groupUniqArray(domain(s))", "groupArrayIf(domain(s), i > 0)",
    "groupUniqArrayIf(domain(s), i > 0)", "groupArrayMerge(nx)",
    "groupUniqArrayMerge(nx)", "topK(extract(s, 'a'))", "topK(3)(extract(s, 'a'))",
    "bitmaskToArray(nx)", f"arrayReduce('groupArray', {_G})",
    f"arrayReduce('groupUniqArray', {_G})", f"arrayReduce('groupArrayInsertAt', {_G}, a)",
    f"materialize({_G})", "arraySort(nx)", "arrayFilter(x -> 1, nx)",
]


# Array(least supertype) of the arrays' elements and the pushed or fill
# value, as the reference's arrayConcat/arrayPush*/arrayResize type them
_ARRAY_SUPERTYPES = {
    "arrayConcat([1], [1000])": "Array(UInt16)",
    "arrayConcat([], ['a'])": "Array(String)",
    "arrayPushBack([1], 300)": "Array(UInt16)",
    "arrayPushFront([1], -1)": "Array(Int16)",
    "arrayPushBack([1], NULL)": "Array(Nullable(UInt8))",
    "arrayResize([1], 3, 1000)": "Array(UInt16)",
    "arrayResize([1], 3)": "Array(UInt8)",
    "arraySlice([1, 1000], 1, 1)": "Array(UInt16)",
}


def test_array_function_supertypes():
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.lexer import (
        tokenize,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.translate import (
        Ctx,
        _infer_expr_ch_type,
    )

    got = {e: _infer_expr_ch_type(tokenize(e), Ctx()) for e in _ARRAY_SUPERTYPES}
    assert got == _ARRAY_SUPERTYPES


# the array overloads (length/empty/notEmpty, array IN) over arrays
# whose element type the lookup cannot name: one aggregate per source
_UNTYPED_ELEM_CASES = {
    "length(groupArray(domain(s)))": 3,
    "notEmpty(arrayMap(x -> reverseUTF8(x), groupArray(s)))": 1,
    "empty(groupUniqArrayIf(domain(s), i > 100))": 1,
    "arrayFilter(x -> 1, groupArray(extract(s, 'a'))) IN ('a')": 1,
    "arrayFilter(x -> 1, groupArray(extract(s, 'a'))) IN ('b')": 0,
    "length(topK(extract(s, 'a')))": 2,
}


@pytest.mark.parametrize("src", list(_SOURCES))
@pytest.mark.parametrize("expr", list(_UNTYPED_ELEM_CASES))
def test_untyped_element_arrays(eng, expr, src):
    (got,) = eng.sql(f"SELECT {expr} FROM {_SOURCES[src]}").collect()[0]
    assert got == _UNTYPED_ELEM_CASES[expr]


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
