"""Non-SELECT statements: CREATE TABLE/DATABASE / INSERT / DROP /
ALTER / RENAME / SHOW / DESCRIBE / EXISTS / OPTIMIZE / SET.

Reference: Interpreters/InterpreterFactory.cpp dispatches on AST node
type — InterpreterCreateQuery (Parsers/ParserCreateQuery.cpp schema +
ENGINE clause), InterpreterInsertQuery (VALUES / INSERT SELECT),
InterpreterAlterQuery (Parsers/ParserAlterQuery.cpp ADD/DROP/MODIFY
COLUMN), InterpreterRenameQuery, InterpreterShowTablesQuery,
InterpreterDescribeQuery, InterpreterExistsQuery,
InterpreterOptimizeQuery, Drop.
Here a created table is a named DataFrame (temp view) plus TableMeta
derived from the classic MergeTree-family engine arguments
(StorageFactory.cpp:242-859); INSERT unions new rows in and re-registers
the view — the Spark analog of appending a part.  ALTER rewrites the
registered view with the projected/extended schema (the reference
rewrites columns.txt and converts parts lazily); OPTIMIZE applies the
engine's merge transform eagerly (the reference's background merge).

CH semantics kept:
- column types map per §1.2 (UInt widened one size, Enum8/16 stored as
  the NAME string with insert-time value→name mapping, Nullable as the
  nullable flag, FixedString zero-padded);
- INSERT with a column subset fills the others with TYPE DEFAULTS
  (0 / '' / [] — ColumnDefault.h: missing means default, never NULL);
- Replacing/Collapsing/Summing engine args land in TableMeta so FINAL
  works on the created table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.formats import ch_type_of_spark
from .lexer import Token, tokenize
from .translate import TableMeta, _elem_of, _match_paren, _split_top

__all__ = ["execute_statement", "TableDef"]


_NUM_TYPES = {
    "UINT8": "SMALLINT", "UINT16": "INT", "UINT32": "BIGINT",
    "UINT64": "BIGINT", "INT8": "TINYINT", "INT16": "SMALLINT",
    "INT32": "INT", "INT64": "BIGINT", "FLOAT32": "FLOAT",
    "FLOAT64": "DOUBLE",
}
_TYPE_DEFAULTS = {
    "SMALLINT": "0", "INT": "0", "BIGINT": "0", "TINYINT": "0",
    "FLOAT": "0.0", "DOUBLE": "0.0", "STRING": "''",
    "DATE": "DATE'1970-01-01'", "TIMESTAMP": "TIMESTAMP'1970-01-01 00:00:00'",
}


@dataclass
class ColumnDef:
    name: str
    spark_type: str          # Spark SQL type text
    wrapper: str | None = None  # value transform template with {v}
    default: str | None = None  # type-specific default (Enum: first name)
    ch_type: str = ""        # original CH type text (DESCRIBE output)
    nullable: bool = False   # Nullable(T): default is NULL, not 0/''
    # explicit DEFAULT/MATERIALIZED/ALIAS clause (ColumnDefault.h):
    # kind + the original CH expression text, surfaced by DESCRIBE and
    # SHOW CREATE TABLE; a DEFAULT expression also becomes the fill
    # value for rows/parts that predate the column
    default_kind: str = ""
    default_expr: str = ""

    @property
    def is_virtual(self) -> bool:
        """MATERIALIZED/ALIAS columns are hidden from ``SELECT *`` and
        from positional INSERT (ColumnDefault.h: only ordinary and
        DEFAULT columns are part of the insert block)."""
        return self.default_kind in ("MATERIALIZED", "ALIAS")

    @property
    def is_alias(self) -> bool:
        """ALIAS columns are never stored — the reference rewrites
        references to the expression at query time."""
        return self.default_kind == "ALIAS"

    def default_sql(self) -> str:
        # an explicit DEFAULT/MATERIALIZED clause wins even for Nullable
        # columns; the type-specific default (Enum first value) must NOT
        # override Nullable's NULL
        if (
            self.default_kind in ("DEFAULT", "MATERIALIZED")
            and self.default is not None
        ):
            return self.default
        if self.nullable:
            return "NULL"
        if self.default is not None:
            return self.default
        if self.spark_type.startswith("ARRAY"):
            return f"CAST(array() AS {self.spark_type})"
        return _TYPE_DEFAULTS.get(self.spark_type, "NULL")


@dataclass
class TableDef:
    name: str
    columns: list[ColumnDef]
    engine: str
    meta: TableMeta
    # Backing rows.  NULL in a non-Nullable column marks "not present
    # in this part" (an ALTER-added column for pre-existing rows): the
    # reference leaves old parts untouched and yields the CURRENT
    # declared type's default at read time
    # (Interpreters/InterpreterAlterQuery.cpp lazy part conversion).
    # The published view applies COALESCE(col, current default).
    raw: DataFrame | None = None
    # plain CREATE VIEW: the stored CH SELECT text.  StorageView
    # re-executes the stored query on every read; the engine re-registers
    # the temp view from this text at translate time so reads see
    # base-table mutations (never set for MATERIALIZED VIEW, whose
    # contents update on insert, not on read).
    view_sql: str | None = None
    # original ENGINE clause text, e.g. "MergeTree(d, k, 8192)" —
    # SHOW CREATE TABLE re-renders it verbatim (formatAST keeps the
    # stored storage AST)
    engine_full: str = ""
    # MergeTree data parts, one per INSERT block per month partition
    # (each INSERT creates a part; OPTIMIZE merges parts within a
    # partition — MergeTreeData.h).  Dicts with partition, name, rows,
    # marks, bytes, min/max date, block range, level; surfaced by
    # system.parts (Storages/System/StorageSystemParts.cpp:20-41)
    parts: list = field(default_factory=list)
    next_block: int = 0
    # stored BLOCK structure: one entry per block the squashing insert
    # pipeline wrote (SquashingTransform over the source stream) —
    # blockSize() on reads replays it (goldens 00340/00341)
    block_sizes: list = field(default_factory=list)
    row_count: int = 0

    def merge_columns(self) -> list[tuple[str, str]]:
        """Stored (name, type) columns for ``sources.mergetree.merge_rule``:
        the Spark type, or a state column's ``AggregateFunction(…)`` type."""
        agg = lambda c: c.ch_type.startswith("AggregateFunction(")  # noqa: E731
        return [
            (c.name, c.ch_type if agg(c) else c.spark_type)
            for c in self.columns if not c.is_alias
        ]


def _render_type(toks: list[Token]) -> str:
    """Re-render a CH type token list canonically: ``Array(UInt8)``,
    ``Enum8('a' = 1, 'b' = 2)`` — used for DESCRIBE output parity
    (the reference prints the canonical type name)."""
    out: list[str] = []
    for j, t in enumerate(toks):
        txt = t.text
        if out and txt == ",":
            out[-1] = out[-1] + ","
            continue
        if txt == "(" and out:
            out[-1] = out[-1] + "("
            continue
        if txt == ")" and out:
            out[-1] = out[-1] + ")"
            continue
        out.append(txt)
    return " ".join(out).replace("( ", "(").replace(" )", ")")


def _ch_type(toks: list[Token]) -> ColumnDef | None:
    """Parse one CH type spec into (spark type, optional insert wrap)."""
    if not toks:
        return None
    cd = _ch_type_inner(toks)
    if cd is not None and not cd.ch_type:
        cd.ch_type = _render_type(toks)
    return cd


def _ch_type_inner(toks: list[Token]) -> ColumnDef | None:
    up = toks[0].text.upper()
    if len(toks) == 1:
        if up in _NUM_TYPES:
            return ColumnDef("", _NUM_TYPES[up])
        if up == "STRING":
            return ColumnDef("", "STRING")
        if up == "DATE":
            return ColumnDef("", "DATE")
        if up == "DATETIME":
            return ColumnDef("", "TIMESTAMP")
        return None
    if toks[1].text != "(":
        return None
    args = _split_top(toks[2:-1], ",")
    if up == "NULLABLE":
        inner = _ch_type(args[0])
        if inner is None:
            return None
        inner.ch_type = ""  # outer call re-renders the full Nullable(T)
        inner.nullable = True
        return inner
    if up == "FIXEDSTRING":
        n = args[0][0].text
        return ColumnDef("", "STRING", wrapper=f"rpad(CAST({{v}} AS STRING), {n}, chr(0))")
    if up in ("ENUM8", "ENUM16"):
        whens, names, pairs = [], [], []
        for pair in args:
            name_tok = pair[0].text
            val = pair[-1].text
            if len(pair) >= 2 and pair[-2].text == "-":
                val = "-" + val
            names.append(name_tok)
            pairs.append((name_tok, int(val)))
            whens.append(f"WHEN ({{v}}) = {val} THEN {name_tok}")
        ladder = " ".join(whens)
        in_names = ", ".join(names)
        by_value = sorted(pairs, key=lambda p: p[1])
        # canonical type text sorts members by VALUE (DataTypeEnum
        # keeps a value-sorted member list; DESCRIBE prints it so)
        canon = (
            ("Enum8(" if up == "ENUM8" else "Enum16(")
            + ", ".join(f"{n} = {v}" for n, v in by_value)
            + ")"
        )
        return ColumnDef(
            "",
            "STRING",
            wrapper=(
                f"(CASE WHEN CAST({{v}} AS STRING) IN ({in_names}) "
                f"THEN CAST({{v}} AS STRING) {ladder} END)"
            ),
            # DataTypeEnum default = smallest-valued member
            default=by_value[0][0],
            ch_type=canon,
        )
    if up == "ARRAY":
        elem = _ch_type(args[0])
        if elem is None:
            return None
        if elem.wrapper is not None:
            # Array(Enum8/...): lift the element transform over the
            # array (DataTypeArray of a value-mapped element type)
            inner = elem.wrapper.format(v="__e")
            return ColumnDef(
                "",
                f"ARRAY<{elem.spark_type}>",
                wrapper=f"transform({{v}}, __e -> {inner})",
            )
        return ColumnDef("", f"ARRAY<{elem.spark_type}>")
    if up == "AGGREGATEFUNCTION":
        # AggregateFunction(f, T...) columns store our typed states
        # (DataTypes/DataTypeAggregateFunction.h → functions/state.py
        # state schemas); the -State insert expression produces exactly
        # these Spark types and -Merge consumes them.
        fn = args[0][0].text.lower()
        arg_defs = [_ch_type(a) for a in args[1:]]
        t0 = (
            arg_defs[0].spark_type
            if arg_defs and arg_defs[0] is not None
            else "BIGINT"
        )
        ints = ("TINYINT", "SMALLINT", "INT", "BIGINT")
        if fn in ("uniq", "uniqhll12", "uniqcombined"):
            st = "BINARY"
        elif fn == "count":
            st = "BIGINT"
        elif fn == "sum":
            st = "BIGINT" if t0 in ints else "DOUBLE"
        elif fn == "avg":
            st = "STRUCT<sum: DOUBLE, cnt: BIGINT>"
        elif fn in ("min", "max", "any", "anylast", "anyif"):
            st = t0
        elif fn in (
            "grouparray", "groupuniqarray", "quantileexact",
            "quantile", "quantiles",
        ):
            # quantile(s): ReservoirSampler state — exact value list at
            # golden scale (sample_count 8192 > any test group)
            st = f"ARRAY<{t0}>"
        elif fn in ("argmin", "argmax") and len(arg_defs) >= 2 and arg_defs[1]:
            st = f"STRUCT<k: {arg_defs[1].spark_type}, v: {t0}>"
        else:
            return None
        return ColumnDef("", st)
    return None


# --- CH expression type inference for typeless defaulted columns -----------
#
# ``create table t (col1 default 0)`` declares col1 with the TYPE OF THE
# DEFAULT EXPRESSION under the reference's rules (InterpreterCreateQuery
# columns-from-defaults; literal typing per DataTypes/FieldToDataType.cpp,
# binary-op result types per Functions/NumberTraits.h).  This is a small
# structural evaluator over the token stream — enough for the expression
# forms the stateless corpus uses, never a general compiler.

_CH_NUM_BITS = {
    "UInt8": (8, False), "UInt16": (16, False), "UInt32": (32, False),
    "UInt64": (64, False), "Int8": (8, True), "Int16": (16, True),
    "Int32": (32, True), "Int64": (64, True),
    "Float32": (32, True), "Float64": (64, True),
}


def _ch_num(bits: int, signed: bool) -> str:
    return f"{'Int' if signed else 'UInt'}{min(bits, 64)}"


def _ch_is_float(t: str) -> bool:
    return t in ("Float32", "Float64")


def _strip_nullable(t: str | None) -> str | None:
    if t is not None and t.startswith("Nullable(") and t.endswith(")"):
        return t[len("Nullable(") : -1]
    return t


def _wrap_nullable(t: str | None) -> str | None:
    if t is None or t == "Null" or t.startswith("Nullable("):
        return t
    return f"Nullable({t})"


def _infer_literal(tok: Token) -> str | None:
    """FieldToDataType.cpp: smallest unsigned type holding a
    non-negative integer literal, Float64 for floats, String for
    strings; NULL is the Null type (DataTypeNull)."""
    if tok.kind == "string":
        return "String"
    if tok.kind == "ident" and tok.text.upper() == "NULL":
        return "Null"
    if tok.kind == "ident" and tok.text.lower() in ("nan", "inf", "infinity"):
        return "Float64"
    if tok.kind != "number":
        return None
    text = tok.text
    if "." in text or "e" in text.lower():
        return "Float64"
    v = int(text)
    for bits in (8, 16, 32, 64):
        if v < (1 << bits):
            return _ch_num(bits, False)
    return "UInt64"


# return types of the corpus's common typeless-default functions
_CH_FN_TYPES = {
    "today": "Date", "yesterday": "Date", "now": "DateTime",
    "rand": "UInt32", "rand64": "UInt64", "length": "UInt64",
    "inthash32": "UInt32", "inthash64": "UInt64",
    "cityhash64": "UInt64", "siphash64": "UInt64", "farmhash64": "UInt64",
    "metrohash64": "UInt64", "urlhash": "UInt64",
    "halfmd5": "UInt64", "tostring": "String", "concat": "String",
    "todate": "Date", "todatetime": "DateTime",
    "touint8": "UInt8", "touint16": "UInt16", "touint32": "UInt32",
    "touint64": "UInt64", "toint8": "Int8", "toint16": "Int16",
    "toint32": "Int32", "toint64": "Int64",
    "tofloat32": "Float32", "tofloat64": "Float64",
    "toyear": "UInt16", "tomonth": "UInt8", "todayofmonth": "UInt8",
    "todayofweek": "UInt8", "tohour": "UInt8", "tominute": "UInt8",
    "tosecond": "UInt8",
    "lower": "String", "upper": "String", "lowerutf8": "String",
    "upperutf8": "String", "reverse": "String", "substring": "String",
    "trim": "String", "replaceone": "String", "replaceall": "String",
    "replaceregexpone": "String", "replaceregexpall": "String",
    "appendtrailingcharifabsent": "String", "tostringcuttozero": "String",
    "position": "UInt64", "positionutf8": "UInt64",
    "lengthutf8": "UInt64", "empty": "UInt8", "notempty": "UInt8",
    "match": "UInt8", "like": "UInt8", "notlike": "UInt8",
    "has": "UInt8", "indexof": "UInt64", "countequal": "UInt64",
    "tounixtimestamp": "UInt32", "tomonday": "Date",
    "tostartofmonth": "Date", "tostartofquarter": "Date",
    "tostartofyear": "Date", "tostartofday": "DateTime",
    "tostartofminute": "DateTime", "tostartoffiveminute": "DateTime",
    "tostartofhour": "DateTime", "totime": "DateTime",
    "timeslot": "DateTime",
    "exp": "Float64", "log": "Float64", "exp2": "Float64",
    "log2": "Float64", "exp10": "Float64", "log10": "Float64",
    "sqrt": "Float64", "cbrt": "Float64", "erf": "Float64",
    "erfc": "Float64", "lgamma": "Float64", "tgamma": "Float64",
    "sin": "Float64", "cos": "Float64", "tan": "Float64",
    "asin": "Float64", "acos": "Float64", "atan": "Float64",
    "pow": "Float64", "power": "Float64", "e": "Float64", "pi": "Float64",
    "emptyarraystring": "Array(String)", "emptyarraydate": "Array(Date)",
    "emptyarraydatetime": "Array(DateTime)",
    "emptyarrayuint8": "Array(UInt8)", "emptyarrayuint16": "Array(UInt16)",
    "emptyarrayuint32": "Array(UInt32)", "emptyarrayuint64": "Array(UInt64)",
    "emptyarrayint8": "Array(Int8)", "emptyarrayint16": "Array(Int16)",
    "emptyarrayint32": "Array(Int32)", "emptyarrayint64": "Array(Int64)",
    "emptyarrayfloat32": "Array(Float32)", "emptyarrayfloat64": "Array(Float64)",
    "splitbychar": "Array(String)", "splitbystring": "Array(String)",
    "alphatokens": "Array(String)", "extractall": "Array(String)",
    "isnan": "UInt8", "isfinite": "UInt8", "isinfinite": "UInt8",
    "ipv4numtostring": "String", "ipv4numtostringclassc": "String",
    "ipv4stringtonum": "UInt32", "ipv4toipv6": "FixedString(16)",
    "arrayenumerate": "Array(UInt32)", "arrayenumerateuniq": "Array(UInt32)",
    "hex": "String", "unhex": "String",
}

# array transforms returning their first non-lambda argument's array
# type (FunctionsArray.h)
_CH_ARRAY_KEEP = {
    "arraydistinct", "arrayreverse", "arraysort", "arrayreversesort",
    "arrayslice", "arrayfilter",
}

_AGG_FNS = {
    "count", "uniq", "uniqexact", "uniqhll12", "uniqcombined", "sum",
    "sumwithoverflow", "avg", "min", "max", "any", "anylast",
    "grouparray", "groupuniqarray", "topk",
}


def _agg_split(low: str) -> tuple[str, str]:
    """(aggregate name, combinator) of a lower-cased aggregate call
    name carrying at most one -If/-State/-Merge combinator."""
    for c in ("if", "state", "merge"):
        if low.endswith(c) and low[: -len(c)] in _AGG_FNS:
            return low[: -len(c)], c
    return low, ""


def _agg_type(name: str, ats: list[str | None]) -> str | None:
    """Return type of aggregate ``name`` over argument types ``ats``
    (AggregateFunctionFactory.cpp): count/uniq* are UInt64, sum widens
    to the 64-bit type of the argument's sign, avg is Float64,
    min/max/any keep the argument type, groupArray/groupUniqArray/topK
    collect it (skipping NULLs); Nullable arguments wrap the result.
    Combinators (IAggregateFunctionCombinator): -If drops the
    condition, -State is the ``AggregateFunction(f, T...)`` state type
    and -Merge reads one back."""
    fn, comb = _agg_split(name.lower())
    inner = name[: len(name) - len(comb)]
    if fn not in _AGG_FNS:
        # groupArrayInsertAt, groupArrayMovingSum, groupArraySample ...
        return "Array(?)" if fn.startswith(("grouparray", "groupuniqarray")) else None
    if comb == "if":
        return _agg_type(inner, ats[:-1])
    if comb == "state":
        if not ats or any(t is None or "?" in t for t in ats):
            return None
        return f"AggregateFunction({inner}, {', '.join(ats)})"
    if comb == "merge":
        st = _strip_nullable(ats[0]) if len(ats) == 1 else None
        if not st or not st.startswith("AggregateFunction("):
            return _agg_type(inner, [None])
        parts = _split_top(tokenize(st)[2:-1], ",")[1:]
        return _agg_type(inner, [_render_type(p) for p in parts])
    if fn in ("count", "uniq", "uniqexact", "uniqhll12", "uniqcombined"):
        return "UInt64"
    at = ats[0] if ats else None
    if fn in ("grouparray", "groupuniqarray", "topk"):
        return f"Array({_strip_nullable(at) if at else '?'})"
    if at is None:
        return None
    base = _strip_nullable(at)
    if fn == "avg":
        res = "Float64"
    elif fn in ("sum", "sumwithoverflow"):
        if base not in _CH_NUM_BITS:
            return None
        _b, signed = _CH_NUM_BITS[base]
        res = "Float64" if _ch_is_float(base) else _ch_num(64, signed)
    else:
        res = base
    return _wrap_nullable(res) if at.startswith("Nullable(") else res


def _binop_type(op: str, lt: str | None, rt: str | None) -> str | None:
    """NumberTraits.h result-type algebra (the reference's promotion
    rules, not Spark's): +/- and * widen to 2x the wider operand
    (subtraction always signed), / is always Float64, % takes the
    DIVISOR's type, intDiv the dividend's; comparisons are UInt8."""
    if lt is None or rt is None:
        return None
    if op in ("=", "==", "!=", "<>", "<", ">", "<=", ">=", "AND", "OR",
              "IN", "LIKE", "BETWEEN"):
        return "UInt8"
    if lt == rt and lt in ("Date", "DateTime") and op == "-":
        return "Int32"
    if lt in ("Date", "DateTime") and rt in _CH_NUM_BITS and op in ("+", "-"):
        return lt  # date arithmetic keeps the date type
    if rt in ("Date", "DateTime") and lt in _CH_NUM_BITS and op == "+":
        return rt
    if lt not in _CH_NUM_BITS or rt not in _CH_NUM_BITS:
        return None
    if op == "/":
        return "Float64"
    if _ch_is_float(lt) or _ch_is_float(rt):
        return "Float64"
    (lb, ls), (rb, rs) = _CH_NUM_BITS[lt], _CH_NUM_BITS[rt]
    if op in ("+", "*"):
        return _ch_num(max(lb, rb) * 2, ls or rs)
    if op == "-":
        return _ch_num(max(lb, rb) * 2, True)
    if op == "%":
        return _ch_num(rb, ls or rs)
    if op == "INTDIV":
        return _ch_num(lb, ls or rs)
    return None


def _infer_ch_type(toks: list[Token], cols: dict[str, str]) -> str | None:
    """CH type of a default-clause expression; ``cols`` maps previously
    declared column names to their CH types.  None = not inferable
    (the caller then reports the honest unsupported-type error)."""
    t = _infer_type(toks, cols)
    return None if t is None or "?" in t else t


def _infer_type(toks: list[Token], cols: dict[str, str]) -> str | None:
    """_infer_ch_type's recursion, which also keeps a partial type:
    ``?`` stands for an element type that is not inferable, so
    ``groupArray(f(x))`` over an untyped ``f`` is ``Array(?)`` — known
    to be an array, of unknown elements."""
    toks = list(toks)
    # trailing `AS alias` is type-transparent
    if len(toks) >= 2 and toks[-2].is_kw("AS") and toks[-1].kind in ("ident", "qident"):
        toks = toks[:-2]
    while (
        len(toks) >= 2
        and toks[0].text == "("
        and _find_close(toks, 0) == len(toks) - 1
    ):
        inner_parts = _split_top(toks[1:-1], ",")
        if len(inner_parts) > 1:
            # tuple literal (a, b, ...) — DataTypeTuple
            ts = [_infer_type(p, cols) for p in inner_parts]
            if all(t is not None for t in ts):
                return f"Tuple({', '.join(ts)})"
            return None
        toks = toks[1:-1]
        if len(toks) >= 2 and toks[-2].is_kw("AS") and toks[-1].kind in ("ident", "qident"):
            toks = toks[:-2]
    if not toks:
        return None
    # postfix indexing arr[i] peels one Array() level (arrayElement);
    # only when the '[' follows an indexable end (ident/closing paren
    # or bracket) — otherwise it's an array literal in a larger
    # expression (e.g. a ternary arm)
    if toks[-1].text == "]" and len(toks) >= 3:
        depth = 0
        for j in range(len(toks) - 1, -1, -1):
            if toks[j].text == "]":
                depth += 1
            elif toks[j].text == "[":
                depth -= 1
                if depth == 0:
                    if j > 0 and (
                        toks[j - 1].kind in ("ident", "qident")
                        or toks[j - 1].text in (")", "]")
                    ):
                        return _elem_of(_infer_type(toks[:j], cols))
                    break
    # ternary `c ? a : b` binds loosest: result is the arms' supertype
    # (FunctionsConditional.cpp getReturnType), Null arm → Nullable
    depth = 0
    q_pos = c_pos = None
    for j, t in enumerate(toks):
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and t.text == "?" and q_pos is None:
            q_pos = j
        elif depth == 0 and t.text == ":" and q_pos is not None:
            c_pos = j
    if q_pos is not None and c_pos is not None:
        at = _infer_type(toks[q_pos + 1 : c_pos], cols)
        bt = _infer_type(toks[c_pos + 1 :], cols)
        return _ch_supertype([at, bt])
    # comparisons/logicals/memberships are UInt8 regardless of the
    # operand types (FunctionsComparison/Logical return UInt8; a Null
    # operand absorbs) — so these resolve even when a side is opaque
    depth = 0
    for j, t in enumerate(toks):
        if t.text in ("(", "["):
            depth += 1
        elif t.text in (")", "]"):
            depth -= 1
        elif depth == 0 and (
            t.text in ("=", "==", "!=", "<>", "<", ">", "<=", ">=")
            or (
                t.kind == "ident"
                and t.text.upper() in ("AND", "OR", "IN", "LIKE", "BETWEEN", "IS")
                and not (j == 0 and t.text.upper() in ("IN", "LIKE", "BETWEEN"))
            )
        ):
            if t.text.upper() == "IS":
                return "UInt8"
            lt = _infer_type(toks[:j], cols)
            rt = _infer_type(toks[j + 1 :], cols)
            if "Null" in (lt, rt):
                return "Null"
            if (lt or "").startswith("Nullable(") or (rt or "").startswith(
                "Nullable("
            ):
                return "Nullable(UInt8)"
            return "UInt8"
    # lowest-precedence top-level operator splits last
    for ops in (("AND", "OR"), ("=", "==", "!=", "<>", "<", ">", "<=", ">="),
                ("+", "-"), ("*", "/", "%")):
        depth = 0
        for j in range(len(toks) - 1, 0, -1):
            t = toks[j]
            if t.text in (")", "]"):
                depth += 1
            elif t.text in ("(", "["):
                depth -= 1
            elif depth == 0 and (
                t.text in ops or (t.kind == "ident" and t.text.upper() in ops)
            ):
                lt = _infer_type(toks[:j], cols)
                rt = _infer_type(toks[j + 1 :], cols)
                # Nullable propagation (FunctionsArithmetic.h wraps
                # the result when any argument is Nullable; Null
                # absorbs — DataTypeNull)
                if "Null" in (lt, rt):
                    return "Null"
                base = _binop_type(
                    t.text.upper(), _strip_nullable(lt), _strip_nullable(rt)
                )
                if (lt or "").startswith("Nullable(") or (
                    rt or ""
                ).startswith("Nullable("):
                    return _wrap_nullable(base)
                return base
    t0 = toks[0]
    # negative integer literal: smallest signed type holding the value
    # (FieldToDataType.cpp Int64 branch)
    if (
        t0.text == "-"
        and len(toks) == 2
        and toks[1].kind == "number"
        and "." not in toks[1].text
        and "e" not in toks[1].text.lower()
    ):
        v = -int(toks[1].text)
        for bits in (8, 16, 32, 64):
            if v >= -(1 << (bits - 1)):
                return _ch_num(bits, True)
        # below the Int64 range: strtoll overflows, the literal
        # re-parses via strtod (golden 00031 -0xFFFFFFFFFFFFFFFF)
        return "Float64"
    if t0.text == "[":
        return _array_type(toks[1:-1], cols)
    if len(toks) == 1:
        lit = _infer_literal(t0)
        if lit is not None:
            return lit
        return cols.get(t0.text.strip("`"))
    # dotted column reference (Nested member)
    if (
        len(toks) == 3
        and toks[1].text == "."
        and toks[0].kind in ("ident", "qident")
    ):
        return cols.get(f"{toks[0].text.strip('`')}.{toks[2].text.strip('`')}")
    if len(toks) >= 2 and toks[1].text == "(" and t0.kind == "ident":
        fname = t0.text.lower()
        if fname == "intdiv":
            args = _split_top(toks[2:-1], ",")
            if len(args) == 2:
                return _binop_type(
                    "INTDIV",
                    _infer_type(args[0], cols),
                    _infer_type(args[1], cols),
                )
        if fname == "cast":
            args = _split_top(toks[2:-1], ",")
            inner = args[0]
            for j, t in enumerate(inner):
                if t.is_kw("AS"):
                    return _render_type(inner[j + 1 :])
            if len(args) == 2 and args[1][0].kind == "string":
                return args[1][0].text.strip("'")
        if fname == "arraymap":
            args = _split_top(toks[2:-1], ",")
            body = args[0]
            for j, t in enumerate(body):
                if t.text == "->":
                    # bind lambda params to the element types of the
                    # array arguments (FunctionArrayMapped typing)
                    params = [
                        p.text for p in body[:j]
                        if p.kind in ("ident", "qident")
                    ]
                    bound = dict(cols)
                    for p, arr in zip(params, args[1:]):
                        bound[p] = _elem_of(_infer_type(arr, cols)) or "?"
                    inner = _infer_type(body[j + 1 :], bound)
                    return f"Array({inner or '?'})"
        if fname == "range":
            # Array of the ARGUMENT's type (FunctionRange::
            # getReturnTypeImpl clones the arg type, so range(100) is
            # Array(UInt8) — the literal types as UInt8)
            at = _infer_type(_split_top(toks[2:-1], ",")[0], cols)
            return f"Array({at})" if at else "Array(UInt64)"
        if fname in ("negate",):
            inner = _infer_type(
                _split_top(toks[2:-1], ",")[0], cols
            )
            if inner in _CH_NUM_BITS:
                b, _ = _CH_NUM_BITS[inner]
                return _ch_num(b * 2, True)
        if fname == "arrayjoin":
            return _elem_of(_infer_type(_split_top(toks[2:-1], ",")[0], cols))
        if fname == "array":
            return _array_type(toks[2:-1], cols)
        if fname in _CH_ARRAY_KEEP:
            args = _split_top(toks[2:-1], ",")
            if args and any(t.text == "->" for t in args[0]):
                args = args[1:]
            at = _infer_type(args[0], cols) if args else None
            return at if _elem_of(at) else "Array(?)"
        if fname in ("arrayconcat", "arraypushback", "arraypushfront", "arrayresize"):
            # Array of the least supertype of the arrays' elements and the
            # pushed value or resize fill (FunctionArrayConcat/Push/Resize)
            ats = [_infer_type(a, cols) for a in _split_top(toks[2:-1], ",")]
            elems = [_elem_of(t) for t in ats]
            if fname != "arrayconcat":  # the array, then the value or fill
                elems = elems[:1] + ats[2 if fname == "arrayresize" else 1 :][:1]
            return f"Array({_ch_supertype(elems) or '?'})"
        if fname in ("adddays", "subtractdays"):  # the Date/DateTime shifted
            return _infer_type(_split_top(toks[2:-1], ",")[0], cols)
        if fname == "bitmasktoarray":
            at = _infer_type(toks[2:-1], cols)
            return f"Array({at or '?'})"
        if fname == "arrayreduce":
            # the named aggregate over the arrays' element types
            args = _split_top(toks[2:-1], ",")
            if args[0][:1] and args[0][0].kind == "string":
                return _agg_type(
                    args[0][0].text.strip("'"),
                    [_elem_of(_infer_type(a, cols)) for a in args[1:]],
                )
            return None
        close = _find_close(toks, 1)
        arg_toks = toks[2:close]
        if close + 1 < len(toks) and toks[close + 1].text == "(":
            # parametric aggregate: topK(10)(x)
            arg_toks, close = toks[close + 2 : -1], _find_close(toks, close + 1)
        if close == len(toks) - 1 and _agg_split(fname)[0] in _AGG_FNS:
            ats = [_infer_type(a, cols) for a in _split_top(arg_toks, ",")]
            return _agg_type(t0.text, ats)
        # Nullable family (FunctionsNull.cpp / DataTypeNullable):
        if fname in ("materialize", "identity"):
            return _infer_type(_split_top(toks[2:-1], ",")[0], cols)
        if fname == "tonullable":
            return _wrap_nullable(
                _infer_type(_split_top(toks[2:-1], ",")[0], cols)
            )
        if fname == "assumenotnull":
            return _strip_nullable(
                _infer_type(_split_top(toks[2:-1], ",")[0], cols)
            )
        if fname == "nullif":
            return _wrap_nullable(
                _infer_type(_split_top(toks[2:-1], ",")[0], cols)
            )
        if fname in ("isnull", "isnotnull", "ignore"):
            # always plain UInt8, never Nullable (FunctionIgnore)
            return "UInt8"
        if fname in ("ifnull", "coalesce"):
            # result folds left: Null arg vanishes, a non-Nullable arg
            # terminates the chain non-Nullable, otherwise Nullable
            # survives only if the LAST contributing arg is Nullable
            args = _split_top(toks[2:-1], ",")
            out: str | None = None
            for a in reversed(args):
                at = _infer_type(a, cols)
                if at is None:
                    return None
                if at == "Null":
                    continue
                if out is None:
                    out = at
                elif not at.startswith("Nullable("):
                    out = at
                else:
                    base_a = _strip_nullable(at)
                    base_o = _strip_nullable(out)
                    sup = (
                        base_a
                        if base_a == base_o
                        else _ch_supertype([base_a, base_o])
                    )
                    if sup is None:
                        return None
                    out = (
                        _wrap_nullable(sup)
                        if out.startswith("Nullable(")
                        else sup
                    )
            return out if out is not None else "Null"
        if fname == "tofixedstring":
            args = _split_top(toks[2:-1], ",")
            if len(args) == 2 and len(args[1]) == 1:
                fs = f"FixedString({args[1][0].text})"
                at = _infer_type(args[0], cols)
                if at is not None and (
                    at == "Null" or at.startswith("Nullable(")
                ):
                    return _wrap_nullable(fs)
                return fs
        if fname in ("round", "ceil", "ceiling", "floor", "truncate",
                     "roundtoexp2", "abs"):
            # rounding keeps the argument's type (FunctionsRound.cpp)
            args = _split_top(toks[2:-1], ",")
            return _infer_type(args[0], cols) if args else None
        if fname in ("least", "greatest"):
            # NumberTraits::ResultOfLeast/Greatest — the common
            # supertype, EXCEPT same-depth 64-bit ints of different
            # signs (CLICKHOUSE-29 special case, NumberTraits.h:355):
            # least → Int64, greatest → UInt64
            args = _split_top(toks[2:-1], ",")
            ats = [_infer_type(a, cols) for a in args]
            if len(ats) == 2 and set(ats) == {"Int64", "UInt64"}:
                return "Int64" if fname == "least" else "UInt64"
            return _ch_supertype(ats)
        base = _CH_FN_TYPES.get(fname)
        if base is not None:
            # ordinary functions wrap Nullable when any argument is
            # Nullable (IFunction default null behavior)
            for a in _split_top(toks[2:-1], ","):
                at = _infer_type(a, cols)
                if at is not None and (
                    at == "Null" or at.startswith("Nullable(")
                ):
                    return _wrap_nullable(base)
        return base
    return None


def _ch_supertype(types: list[str | None]) -> str | None:
    """Least common CH numeric supertype (DataTypes/getLeastCommonType
    semantics for the numeric subset): widest bits win, mixing signs
    needs the next wider signed type (UInt8+Int8 → Int16)."""
    if not types or any(t is None for t in types):
        return None
    # Nothing (an empty array's element) yields to any type
    ts = [t for t in types if t != "Nothing"] or list(types)
    if "?" in ts:
        return "?"  # an unknown element keeps the result unknown
    # Null / Nullable(T) lift (getLeastCommonType over DataTypeNull):
    # supertype(T, Null) = Nullable(T); all-Null = Null
    if any(t == "Null" or t.startswith("Nullable(") for t in ts):
        bare = [
            _strip_nullable(t) for t in ts if t != "Null"
        ]
        if not bare:
            return "Null"
        return _wrap_nullable(_ch_supertype(bare))
    uniq = set(ts)
    if len(uniq) == 1:
        return ts[0]
    # Array(T) lifts element-wise (getLeastCommonType over
    # DataTypeArray): supertype(Array(A), Array(B)) = Array(sup(A, B))
    if all(t.startswith("Array(") and t.endswith(")") for t in uniq):
        inner = _ch_supertype([t[len("Array(") : -1] for t in ts])
        return f"Array({inner})" if inner else None
    if not all(t in _CH_NUM_BITS for t in uniq):
        return None
    if any(_ch_is_float(t) for t in uniq):
        return "Float64"
    signed = any(_CH_NUM_BITS[t][1] for t in uniq)
    bits = 0
    for t in uniq:
        b, s = _CH_NUM_BITS[t]
        bits = max(bits, b if s == signed else b * 2)
    return _ch_num(bits, signed)


def _array_type(elems: list[Token], cols: dict[str, str]) -> str | None:
    """Array literal ``[…]`` / ``array(…)`` over the element tokens:
    Array of the elements' least supertype; ``[]`` is Array(Nothing)
    (DataTypeNothing)."""
    sup = "Nothing" if not elems else _ch_supertype(
        [_infer_type(e, cols) for e in _split_top(elems, ",")]
    )
    return f"Array({sup or '?'})"


def _find_close(toks: list[Token], i: int) -> int:
    depth = 0
    for j in range(i, len(toks)):
        if toks[j].text == "(":
            depth += 1
        elif toks[j].text == ")":
            depth -= 1
            if depth == 0:
                return j
    return -1


def _coldef_of_ch_name(ch_name: str) -> ColumnDef | None:
    """ColumnDef for an inferred CH type name (incl. Array(T))."""
    up = ch_name.upper()
    if up in _NUM_TYPES:
        return ColumnDef("", _NUM_TYPES[up], ch_type=ch_name)
    if up == "STRING":
        return ColumnDef("", "STRING", ch_type="String")
    if up == "DATE":
        return ColumnDef("", "DATE", ch_type="Date")
    if up == "DATETIME":
        return ColumnDef("", "TIMESTAMP", ch_type="DateTime")
    if up.startswith("ARRAY("):
        cd = _ch_type(tokenize(ch_name))
        if cd is not None:
            cd.ch_type = ch_name
        return cd
    return None


def _col_name(item: list[Token]) -> tuple[str, int]:
    """Column name, possibly dotted (Nested member: ``N.A``);
    backquotes are stripped — `n.d` names the dotted column itself."""
    name = item[0].text.strip("`")
    k = 1
    while k + 1 < len(item) and item[k].text == "." and item[k + 1].kind in (
        "ident", "qident"
    ):
        name += "." + item[k + 1].text.strip("`")
        k += 2
    return name, k


def _parse_one_column(
    item: list[Token], prior: dict[str, str] | None = None
) -> list[ColumnDef] | None:
    """One column declaration → one ColumnDef, or several for
    Nested(...) (DataTypeNested = parallel arrays: ``N Nested(A T)``
    declares column ``N.A Array(T)`` — SURVEY §1.2)."""
    if not item:
        return None
    name, k = _col_name(item)
    # split off DEFAULT/MATERIALIZED/ALIAS expressions (ColumnDefault.h)
    type_toks = item[k:]
    default_kind, default_expr = "", ""
    default_expr_toks: list[Token] = []
    for j, t in enumerate(type_toks):
        if t.is_kw("DEFAULT", "MATERIALIZED", "ALIAS"):
            default_kind = t.text.upper()
            default_expr_toks = type_toks[j + 1 :]
            default_expr = _render_type(default_expr_toks)
            type_toks = type_toks[:j]
            break
    if type_toks and type_toks[0].text.upper() == "NESTED":
        members = _split_top(type_toks[2:-1], ",")
        out = []
        for m in members:
            elem = _ch_type(m[1:])
            if elem is None:
                return None
            wrap = None
            if elem.wrapper is not None:
                inner = elem.wrapper.format(v="__e")
                wrap = f"transform({{v}}, __e -> {inner})"
            out.append(
                ColumnDef(
                    f"{name}.{m[0].text}",
                    f"ARRAY<{elem.spark_type}>",
                    ch_type=f"Array({elem.ch_type})",
                    wrapper=wrap,
                )
            )
        return out
    if not type_toks and default_expr_toks:
        # typeless defaulted column: the declared type IS the type of
        # the default expression (InterpreterCreateQuery
        # columns-from-defaults)
        inferred = _infer_ch_type(default_expr_toks, prior or {})
        cd = _coldef_of_ch_name(inferred) if inferred else None
    else:
        cd = _ch_type(type_toks)
    if cd is None:
        return None
    cd.name = name
    cd.default_kind = default_kind
    cd.default_expr = default_expr
    if default_kind and default_expr_toks:
        # the CH expression (today(), literals, col refs ...) rewritten
        # to Spark SQL: the insert/read-time fill for DEFAULT and
        # MATERIALIZED, the query-rewrite body for ALIAS.  Dotted
        # references to sibling Nested members fold to single
        # backquoted identifiers first (same rule as SELECT).
        from .translate import Ctx, _fold_dotted, _rewrite

        dotted_prior = {n for n in (prior or {}) if "." in n}
        toks_f = (
            _fold_dotted(default_expr_toks, dotted_prior)
            if dotted_prior
            else default_expr_toks
        )
        # the fill rewrites with the PRIOR columns' declared CH types
        # as its type lookup — type-dispatched forms (bit-exact
        # cityHash64 over UInt64 refs, golden 00253) need them
        cd.default = _rewrite(toks_f, Ctx(from_types=dict(prior or {})))
        if type_toks:
            # explicit type + default expression of a DIFFERENT type:
            # the stored AST wraps the expression in a CAST
            # (InterpreterCreateQuery default-type reconciliation,
            # visible in DESCRIBE as ``CAST(expr AS T)``)
            inferred = _infer_ch_type(default_expr_toks, prior or {})
            if inferred is not None and inferred != cd.ch_type:
                cd.default_expr = f"CAST({cd.default_expr} AS {cd.ch_type})"
                cd.default = f"CAST({cd.default} AS {cd.spark_type})"
    return [cd]


def _parse_columns(toks: list[Token]) -> list[ColumnDef] | None:
    cols: list[ColumnDef] = []
    prior: dict[str, str] = {}
    for item in _split_top(toks, ","):
        parsed = _parse_one_column(item, prior)
        if parsed is None:
            return None
        cols.extend(parsed)
        for c in parsed:
            prior[c.name] = c.ch_type
    return cols


def _engine_meta(engine: str, args: list[list[Token]]) -> TableMeta:
    """Classic engine-argument syntax (StorageFactory.cpp):
    MergeTree(date, (pk...), granularity);
    ReplacingMergeTree(date, (pk...), granularity[, version]);
    CollapsingMergeTree(date, (pk...), granularity, sign);
    SummingMergeTree(date, (pk...), granularity[, (sum cols)])."""
    meta = TableMeta(engine=engine)

    def key_of(toks: list[Token]) -> tuple[str, ...]:
        # each key element may be an EXPRESSION (MergeTree(d, -x, 1),
        # golden 00214) — keep the token text joined
        if toks and toks[0].text == "(":
            return tuple(
                " ".join(t2.text for t2 in t)
                for t in _split_top(toks[1:-1], ",")
                if t
            )
        return (" ".join(t.text for t in toks),) if toks else ()

    if engine.endswith("MergeTree") and args:
        # SummingMergeTree's optional LAST tuple is the explicit
        # columns-to-sum list, NOT the primary key — strip it before
        # locating the PK tuple (StorageFactory.cpp, golden 00084:
        # SummingMergeTree(d, a, 8192, (y, z)))
        if (
            engine == "SummingMergeTree"
            and len(args) >= 4
            and args[-1]
            and args[-1][0].text == "("
        ):
            meta.sum_cols = key_of(args[-1])
            args = args[:-1]
        # signature: (date, [sampling_expr,] (pk...), granularity, ...)
        # — the primary key is the first parenthesized-tuple argument;
        # anything between the date and it is the sampling expression
        pk_idx = next(
            (j for j, a in enumerate(args) if a and a[0].text == "("), -1
        )
        if pk_idx < 0:
            # no parenthesized PK: MergeTree(date, [sampling,] pk, gran)
            pk_idx = 2 if engine == "MergeTree" and len(args) >= 4 else 1
        if pk_idx >= 1 and args[0] and len(args[0]) == 1:
            meta.date_col = args[0][0].text  # month-partitioning column
        if len(args) > pk_idx:
            meta.primary_key = key_of(args[pk_idx])
        if pk_idx == 2 and args[1]:
            # the sampling key may be an EXPRESSION — intHash64(x)
            # (golden 00314); kept as CH text, translated at SAMPLE time
            meta.sample_key = " ".join(t.text for t in args[1])
            meta.sample_raw = True
        if (
            len(args) > pk_idx + 1
            and len(args[pk_idx + 1]) == 1
            and args[pk_idx + 1][0].kind == "number"
        ):
            meta.index_granularity = int(args[pk_idx + 1][0].text)
        if engine == "ReplacingMergeTree" and len(args) > pk_idx + 2:
            meta.version_col = args[pk_idx + 2][0].text
        if engine == "CollapsingMergeTree" and len(args) > pk_idx + 2:
            meta.sign_col = args[pk_idx + 2][0].text
    return meta


def execute_statement(engine, ch_sql: str) -> DataFrame | None:
    """Execute one CH statement.  Returns a DataFrame for SELECTs,
    None for DDL/DML/SET.  ``engine`` is the owning ChEngine."""
    tokens = tokenize(ch_sql)
    while tokens and tokens[-1].text == ";":
        tokens = tokens[:-1]
    if not tokens:
        return None
    head = tokens[0].text.upper()
    if head == "SELECT" or tokens[0].is_kw("WITH"):
        return engine.spark.sql(engine.translate(ch_sql))
    if head == "SET":
        # most settings are advisory (Settings.h), but a few change
        # output semantics (extremes, totals_mode) — record name=value
        # pairs on the engine session
        for j in range(1, len(tokens) - 2):
            if (
                tokens[j].kind in ("ident", "qident")
                and tokens[j + 1].text == "="
                and tokens[j + 2].kind in ("number", "string", "ident")
            ):
                engine.session_settings[tokens[j].text] = tokens[
                    j + 2
                ].text.strip("'\"")
        return None
    if head == "CREATE":
        return _create(engine, tokens)
    if head == "INSERT":
        return _insert(engine, tokens)
    if head == "DROP":
        return _drop(engine, tokens)
    if head == "ALTER":
        return _alter(engine, tokens)
    if head == "RENAME":
        return _rename(engine, tokens)
    if head == "SHOW":
        return _show(engine, tokens)
    if head in ("DESC", "DESCRIBE"):
        return _describe(engine, tokens)
    if head == "EXISTS":
        return _exists(engine, tokens)
    if head == "OPTIMIZE":
        return _optimize(engine, tokens)
    if head == "USE":
        db = tokens[1].text
        engine.current_db = None if db == "default" else db
        return None
    if head == "CHECK":
        # CHECK TABLE t (InterpreterCheckQuery.cpp:251-258 simple path):
        # one row, column `result` UInt8.  Spark datasets have no
        # per-part checksums to verify — resolving the table IS the
        # check (a missing/corrupt view raises instead).
        i = 2 if tokens[1].is_kw("TABLE") else 1
        name, _ = _table_name(tokens, i, engine)
        engine.spark.table(
            engine.table_views.get(name, _view_of(name))
        )  # raises if unknown
        return engine.spark.createDataFrame([[1]], "result INT")
    if head == "KILL":
        # KILL QUERY WHERE query_id = '...' [AND user = '...']
        # [SYNC|ASYNC|TEST] (InterpreterKillQueryQuery.cpp): resolve
        # matching process-list entries and cancel their Spark job
        # groups; same (kill_status, query_id, user, query) block shape.
        import re as _re

        from pyspark.sql.types import StructType

        raw = " ".join(t.text for t in tokens)
        qid = user = None
        m = _re.search(r"query_id\s*=\s*'([^']*)'", raw, _re.I)
        if m:
            qid = m.group(1)
        m = _re.search(r"\buser\s*=\s*'([^']*)'", raw, _re.I)
        if m:
            user = m.group(1)
        rows = []
        if qid is not None or user is not None:
            rows = engine.process_list.kill(query_id=qid, user=user)
        return engine.spark.createDataFrame(
            rows,
            StructType.fromDDL(
                "kill_status STRING, query_id STRING, user STRING, query STRING"
            ),
        )
    if head == "DETACH":
        i = 2 if tokens[1].is_kw("TABLE") else 1
        name, _ = _table_name(tokens, i, engine)
        tdef = engine.tables.pop(name, None)
        if tdef is not None:
            engine.detached[name] = tdef
            view = engine.table_views.pop(name, _view_of(name))
            engine.spark.catalog.dropTempView(view)
        return None
    if head == "ATTACH":
        i = 2 if tokens[1].is_kw("TABLE") else 1
        name, _ = _table_name(tokens, i, engine)
        tdef = engine.detached.pop(name, None)
        if tdef is None:
            # full ATTACH TABLE t (cols) ENGINE — same as CREATE
            return _create(engine, [Token("ident", "CREATE")] + tokens[1:])
        if any(t.is_kw("ENGINE") for t in tokens):
            # ATTACH TABLE t (cols) ENGINE = ... of a detached table:
            # the DECLARATION wins (a re-attach may change the primary
            # key — golden 00329), the detached part data stays
            _create(engine, [Token("ident", "CREATE")] + tokens[1:])
            newdef = engine.tables.get(name)
            if newdef is not None:
                newdef.raw = tdef.raw
                newdef.parts = tdef.parts
                _publish(engine, newdef)
            return None
        engine.tables[name] = tdef
        engine.table_views[name] = _view_of(name)
        _publish(engine, tdef)
        return None
    raise ValueError(f"unsupported statement kind: {head}")


def _table_name(tokens: list[Token], i: int, engine=None) -> tuple[str, int]:
    """Dotted CH table name (db.t) — kept dotted as the canonical key;
    the temp view uses a dot-free twin (db__t).  With ``engine``, an
    undotted name is qualified by the USE'd current database
    (Interpreters/Context.h current_database resolution)."""
    name = tokens[i].text
    if i + 2 < len(tokens) and tokens[i + 1].text == ".":
        name = f"{name}.{tokens[i + 2].text}"
        i += 2
        return name, i + 1
    # undotted: try the USE'd db, then the bare name, then the
    # implicit `default` database (Context.h resolution order)
    if engine is not None:
        known = getattr(engine, "tables", {})
        cands = []
        if getattr(engine, "current_db", None):
            cands.append(f"{engine.current_db}.{name}")
        cands += [name, f"default.{name}"]
        for c in cands:
            if c in known:
                return c, i + 1
        if getattr(engine, "current_db", None):
            name = f"{engine.current_db}.{name}"
    return name, i + 1


def _view_of(name: str) -> str:
    return name.replace(".", "__")


def _toks_sql(toks: list[Token]) -> str:
    """Re-render tokens as parseable SQL (tokenizer is whitespace
    agnostic, so a plain space join round-trips)."""
    return " ".join(t.text for t in toks)


def _create(engine, tokens: list[Token]) -> None:
    i = 1
    if tokens[i].is_kw("DATABASE"):
        i += 1
        if tokens[i].is_kw("IF"):
            i += 3  # IF NOT EXISTS
        engine.databases.add(tokens[i].text)
        return None
    if tokens[i].is_kw("TEMPORARY"):
        i += 1  # temporary tables: session-scoped — all our tables are
    if tokens[i].is_kw("VIEW") or (
        tokens[i].is_kw("MATERIALIZED") and tokens[i + 1].is_kw("VIEW")
    ):
        # CREATE [MATERIALIZED] VIEW v AS SELECT — a named query.
        # Plain View (StorageView) re-executes the stored SELECT on
        # every read: the CH text is kept in TableDef.view_sql and the
        # engine re-registers the temp view at translate time, so reads
        # see base-table mutations.  MATERIALIZED VIEW registers the
        # SELECT's current result (its insert-time fan-out is modeled
        # in streaming/materialized_view.py).
        materialized = tokens[i].is_kw("MATERIALIZED")
        i += 2 if materialized else 1
        if tokens[i].is_kw("IF"):
            i += 3
        name, i = _table_name(tokens, i, engine)
        populate = False
        while i < len(tokens) and not tokens[i].is_kw("AS"):
            if tokens[i].is_kw("POPULATE"):
                populate = True
            i += 1  # skip ENGINE/POPULATE clauses
        sel_sql = _toks_sql(tokens[i + 1 :])
        df = engine.spark.sql(engine.translate(sel_sql))
        # the translator's inferred CH output types beat the Spark
        # schema mapping — bigint can hold a UInt64 (system.numbers),
        # and losing the unsignedness breaks wrap-aware ORDER BY over
        # the view (golden 00111)
        _ch_out = getattr(engine, "last_out_ch_types", None) or []
        if materialized and not populate:
            # without POPULATE the MV starts EMPTY and fills from
            # subsequent inserted blocks (StorageMaterializedView)
            df = df.limit(0)
        view = _view_of(name)
        cols = [
            ColumnDef(
                f.name,
                f.dataType.simpleString(),
                ch_type=(
                    _ch_out[k]
                    if k < len(_ch_out) and _ch_out[k]
                    else ch_type_of_spark(f.dataType.simpleString())
                ),
            )
            for k, f in enumerate(df.schema.fields)
        ]
        tdef = TableDef(
            name,
            cols,
            "MaterializedView" if materialized else "View",
            TableMeta(engine="View"),
            raw=df,
            view_sql=None if materialized else sel_sql,
        )
        engine.tables[name] = tdef
        engine.table_views[name] = view
        df.createOrReplaceTempView(view)
        if materialized:
            # remember the SELECT and its base tables so INSERTs into
            # a base run the query over the inserted BLOCK and append
            # (MV insert-time fan-out).  Base tables are the identifiers
            # referenced after FROM/JOIN — a raw substring test would
            # make an INSERT into any short-named table re-run every MV
            # whose SELECT text merely contains that name.
            import re as _re

            # sel_sql is tokenized text — dots carry surrounding
            # spaces (`FROM default . test_table`)
            refs = {
                (m[1] or m[0])
                for m in _re.findall(
                    r"\b(?:FROM|JOIN)\s+`?([A-Za-z_]\w*)`?"
                    r"(?:\s*\.\s*`?([A-Za-z_]\w*)`?)?",
                    sel_sql,
                    _re.I,
                )
            }
            bases = {
                k for k in engine.tables
                if k != name and k.split(".")[-1] in refs
            }
            if not hasattr(engine, "mv_defs"):
                engine.mv_defs = {}
            engine.mv_defs[name] = (sel_sql, bases)
            tdef.raw = df
        return None
    assert tokens[i].is_kw("TABLE"), "only CREATE TABLE/VIEW/DATABASE is supported"
    i += 1
    if tokens[i].is_kw("IF"):
        i += 3  # IF NOT EXISTS
    name, i = _table_name(tokens, i, engine)
    cols = None
    if i < len(tokens) and tokens[i].text == "(":
        close = _match_paren(tokens, i)
        cols = _parse_columns(tokens[i + 1 : close])
        if cols is None:
            raise ValueError("unsupported column type in CREATE TABLE")
        i = close + 1
    eng_name, eng_args = "Memory", []
    engine_full = "Memory"
    if i < len(tokens) and tokens[i].is_kw("ENGINE"):
        i += 2  # ENGINE =
        eng_name = tokens[i].text
        engine_full = eng_name
        i += 1
        if i < len(tokens) and tokens[i].text == "(":
            ec = _match_paren(tokens, i)
            eng_args = _split_top(tokens[i + 1 : ec], ",")
            engine_full += (
                "(" + ", ".join(_render_type(a) for a in eng_args) + ")"
            )
            i = ec + 1
    # Replicated*MergeTree: drop the zookeeper path + replica name
    # arguments and treat as the base engine; replication itself is
    # Spark's durability model, but INSERT block DEDUPLICATION is
    # semantic (identical blocks collapse — golden 00215/00226) and is
    # emulated in _insert
    replicated = False
    zk_path = None
    if eng_name.startswith("Replicated") and eng_name.endswith("MergeTree"):
        replicated = True
        if eng_args and eng_args[0] and eng_args[0][0].kind == "string":
            zk_path = eng_args[0][0].text.strip("'")
        eng_name = eng_name[len("Replicated"):]
        if len(eng_args) >= 2:
            eng_args = eng_args[2:]
    meta = _engine_meta(eng_name, eng_args)
    meta.replicated = replicated
    meta.zk_path = zk_path
    view = _view_of(name)
    if (
        i + 1 < len(tokens)
        and tokens[i].is_kw("AS")
        and tokens[i + 1].kind in ("ident", "qident")
        and not tokens[i + 1].is_kw("SELECT", "WITH")
    ):
        # CREATE TABLE t AS other [ENGINE = X] — clone the source
        # table's column list (InterpreterCreateQuery as-table form);
        # the ENGINE clause follows the source name here
        import copy as _copy

        j = i + 1
        src_name, j = _table_name(tokens, j, engine)
        if j >= len(tokens) or tokens[j].is_kw("ENGINE"):
            if j < len(tokens):
                j += 2  # ENGINE =
                eng_name = tokens[j].text
                engine_full = eng_name
                j += 1
                if j < len(tokens) and tokens[j].text == "(":
                    ec = _match_paren(tokens, j)
                    eng_args = _split_top(tokens[j + 1 : ec], ",")
                    engine_full += (
                        "(" + ", ".join(_render_type(a) for a in eng_args)
                        + ")"
                    )
                    j = ec + 1
            if src_name in ("system.numbers", "numbers", "system.numbers_mt"):
                cols = [ColumnDef("number", "BIGINT", ch_type="UInt64")]
            else:
                src = engine.tables.get(src_name)
                if src is None and engine.current_db:
                    src = engine.tables.get(f"{engine.current_db}.{src_name}")
                if src is None:
                    raise ValueError(
                        f"CREATE TABLE AS unknown table {src_name!r}"
                    )
                cols = _copy.deepcopy(src.columns)
            meta = _engine_meta(eng_name, eng_args)
            ddl = ", ".join(
                f"`{c.name}` {c.spark_type}" for c in cols if not c.is_alias
            )
            df = engine.spark.createDataFrame([], ddl)
            tdef = TableDef(
                name, cols, eng_name, meta, raw=df, engine_full=engine_full
            )
            engine.tables[name] = tdef
            engine.table_views[name] = view
            engine.table_meta[view] = meta
            if eng_name == "Merge" and len(eng_args) >= 2:
                # Merge(db, 'regex'): reads union every table of db
                # whose name matches (StorageMerge) — stored as a
                # re-executed view so reads see member mutations
                import re as _re2

                mdb = eng_args[0][0].text
                # the SQL literal keeps source escapes: '\\d' is \d
                pat = eng_args[1][0].text.strip("'").replace("\\\\", "\\")
                members = sorted(
                    t for t in engine.tables
                    if t.startswith(mdb + ".")
                    and _re2.search(pat, t.split(".", 1)[1])
                )
                if not members:
                    raise ValueError(
                        f"Merge({mdb}, '{pat}') matches no tables"
                    )
                tdef.view_sql = " UNION ALL ".join(
                    f"SELECT * FROM {m}" for m in members
                )
                # SAMPLE over a Merge table uses the members' sampling
                # key (StorageMerge forwards the clause — golden 00314)
                _m0 = engine.tables.get(members[0])
                if _m0 is not None and _m0.meta.sample_key:
                    tdef.meta.sample_key = _m0.meta.sample_key
                    tdef.meta.sample_raw = _m0.meta.sample_raw
                if _m0 is not None:
                    # StorageMerge forwards reads to the members: PK
                    # pruning and granule-block structure are theirs
                    # (golden 00160)
                    tdef.meta.primary_key = _m0.meta.primary_key
                    tdef.meta.index_granularity = _m0.meta.index_granularity
                df2 = engine.spark.sql(engine.translate(tdef.view_sql))
                tdef.raw = df2
                df2.createOrReplaceTempView(view)
                return None
            if eng_name == "Buffer" and len(eng_args) >= 2:
                # Buffer(db, table, ...): writes flush to the
                # destination, reads see destination + buffer
                # (StorageBuffer) — modeled as an immediate-flush
                # alias of the destination table
                tgt = ".".join(
                    a[0].text for a in eng_args[:2]
                )
                engine.buffers[name] = tgt
                tgt_view = engine.table_views.get(tgt, _view_of(tgt))
                engine.register_table(
                    view, engine.spark.table(tgt_view), meta
                )
            else:
                _publish(engine, tdef)
            return None
    if i < len(tokens) and tokens[i].is_kw("AS"):
        # CREATE TABLE t [ENGINE = X] AS SELECT ... — schema and initial
        # rows from the query (InterpreterCreateQuery as-select)
        sel_sql = _toks_sql(tokens[i + 1 :])
        df = engine.spark.sql(engine.translate(sel_sql)).localCheckpoint(
            eager=True
        )
        if cols is None:
            cols = [
                ColumnDef(f.name, f.dataType.simpleString(),
                          ch_type=ch_type_of_spark(f.dataType.simpleString()))
                for f in df.schema.fields
            ]
    elif cols is not None:
        ddl = ", ".join(
            f"`{c.name}` {c.spark_type}" for c in cols if not c.is_alias
        )
        df = engine.spark.createDataFrame([], ddl)
    else:
        raise ValueError("CREATE TABLE needs a column list or AS SELECT")
    tdef = TableDef(name, cols, eng_name, meta, raw=df, engine_full=engine_full)
    engine.tables[name] = tdef
    engine.table_views[name] = view
    engine.table_meta[view] = meta  # FINAL looks up by rendered name
    if eng_name == "Merge" and len(eng_args) >= 2:
        # Merge(db, 'regex') with an explicit column list (StorageMerge
        # matches TABLES AND VIEWS of the db — golden 00270)
        import re as _re3

        mdb = eng_args[0][0].text
        pat = eng_args[1][0].text.strip("'").replace("\\\\", "\\")
        members = sorted(
            t for t in engine.tables
            if t != name
            and t.startswith(mdb + ".")
            and _re3.search(pat, t.split(".", 1)[1])
        )
        if not members:
            raise ValueError(f"Merge({mdb}, '{pat}') matches no tables")
        tdef.view_sql = " UNION ALL ".join(
            f"SELECT * FROM {m}" for m in members
        )
        _m0 = engine.tables.get(members[0])
        if _m0 is not None:
            # StorageMerge forwards reads to the members: PK pruning
            # and granule-block structure are theirs (golden 00160)
            tdef.meta.primary_key = _m0.meta.primary_key
            tdef.meta.index_granularity = _m0.meta.index_granularity
        df2 = engine.spark.sql(engine.translate(tdef.view_sql))
        tdef.raw = df2
        df2.createOrReplaceTempView(view)
        return None
    if meta.replicated and meta.zk_path:
        # replicated block numbers allocate past the RESERVED range
        # (StorageReplicatedMergeTree RESERVED_BLOCK_NUMBERS = 200) —
        # part names start at block 200 (golden 00296)
        tdef.next_block = max(tdef.next_block, 199)
        groups = getattr(engine, "zk_groups", None)
        if groups is None:
            groups = {}
            engine.zk_groups = groups
        grp = groups.setdefault(meta.zk_path, [])
        grp[:] = [m for m in grp if m in engine.tables]
        existing = [m for m in grp if m != name]
        if existing:
            # a joining replica adopts the group's shared parts state
            # (replica registration fetches the ZK parts set — goldens
            # 00074/00296; detached parts stay replica-local)
            leader = engine.tables[existing[0]]
            if leader.raw is not None:
                tdef.raw = leader.raw
            tdef.parts = leader.parts
            tdef.row_count = leader.row_count
            tdef.block_sizes = list(leader.block_sizes)
            if getattr(leader, "_dedup_blocks", None) is None:
                leader._dedup_blocks = set()
            tdef._dedup_blocks = leader._dedup_blocks
            tdef.next_block = leader.next_block = max(
                leader.next_block, tdef.next_block
            )
        if name not in grp:
            grp.append(name)
    _publish(engine, tdef)


def _publish(engine, tdef: TableDef) -> None:
    """Register the public view: the raw rows projected through the
    current column list, with NULL part-absence sentinels replaced by
    the CURRENT declared type's default (non-Nullable columns only —
    matches reading an old part that predates an ALTER ADD).

    Defaults are computed in DEPENDENCY LAYERS over the already
    published values of the columns they reference (``d1 default
    array`` reads the published [0,1,2], not the raw NULL sentinel —
    evaluateMissingDefaults recursion); raw columns are renamed
    ``__raw_*`` so a fill expression's bare column reference always
    resolves to the published value."""
    from pyspark.sql import functions as F

    view = engine.table_views.get(tdef.name, _view_of(tdef.name))
    raw = tdef.raw
    have = set(raw.columns)
    phys = [c for c in tdef.columns if not c.is_alias]
    names = {c.name for c in tdef.columns}

    def nested_fill(c: ColumnDef) -> str | None:
        """An absent Nested member fills to its SIBLING's length with
        element defaults — DataTypeNested's parallel arrays share
        offsets, so `n.d` added by ALTER reads as sibling-sized arrays
        of zero dates, not [] (InterpreterAlterQuery + NestedUtils)."""
        if "." not in c.name or not c.spark_type.startswith("ARRAY<"):
            return None
        prefix = c.name.split(".", 1)[0] + "."
        sib = next(
            (
                s.name
                for s in tdef.columns
                if s.name != c.name
                and s.name.startswith(prefix)
                and s.name in have
            ),
            None,
        )
        if sib is None:
            return None
        elem_t = c.spark_type[6:-1]
        elem_d = _TYPE_DEFAULTS.get(elem_t, "NULL")
        return (
            f"array_repeat(CAST({elem_d} AS {elem_t}), "
            f"size(COALESCE(`__raw_{sib}`, array())))"
        )

    def fill_of(c: ColumnDef) -> str:
        # an explicit DEFAULT/MATERIALIZED expression beats the Nested
        # sibling-length fill (the declared default is authoritative)
        if c.default_kind and c.default is not None:
            return c.default_sql()
        return nested_fill(c) or c.default_sql()

    def pub_expr(c: ColumnDef, fill: str) -> str:
        if c.name not in have:
            return f"CAST({fill} AS {c.spark_type}) AS `{c.name}`"
        if c.nullable:
            return f"CAST(`__raw_{c.name}` AS {c.spark_type}) AS `{c.name}`"
        return (
            f"CAST(COALESCE(`__raw_{c.name}`, {fill}) "
            f"AS {c.spark_type}) AS `{c.name}`"
        )

    df = raw.select(
        *(F.col(f"`{c}`").alias(f"__raw_{c}") for c in raw.columns)
    )
    pending = list(phys)
    while pending:
        done = {c.name for c in phys if c.name in df.columns}
        layer, rest = [], []
        for c in pending:
            deps = _expr_deps(fill_of(c), names) - done - {c.name}
            (layer if not deps else rest).append(c)
        if not layer:
            layer, rest = pending, []  # circular: let analysis surface it
        df = df.selectExpr("*", *(pub_expr(c, fill_of(c)) for c in layer))
        pending = rest
    final_cols = [f"`{c.name}`" for c in phys]
    if "__part" in raw.columns:
        # MergeTree virtual column: part name per row, hidden from *
        # (MergeTreeBlockInputStream _part)
        df = df.withColumn("_part", F.col("__raw___part"))
        final_cols.append("`_part`")
    df = df.selectExpr(*final_cols)
    # MergeTree-family reads are PK-ordered (sorted parts,
    # MergeTreeData.h) — emulate by sorting the published view; outer
    # ORDER BY / aggregation overrides it, plain SELECTs see PK order
    import re as _re

    phys_names = {c.name for c in phys}
    pk_exprs = []
    for k in tdef.meta.primary_key:
        if k in phys_names:
            pk_exprs.append(F.col(f"`{k}`"))
        elif all(
            w in phys_names
            for w in _re.findall(r"[A-Za-z_]\w*", k)
        ) and _re.fullmatch(r"[-+\w\s().,`]+", k):
            # expression key over physical columns (e.g. ``-x``)
            pk_exprs.append(F.expr(k))
    if pk_exprs and tdef.engine.endswith("MergeTree"):
        # stable merge order: equal keys keep part/insertion order
        # (the sorted-merge streams parts in order) — Spark's sort is
        # not stable, so pin ties with the raw row position
        df = (
            df.withColumn("__ins_ord", F.monotonically_increasing_id())
            .sort(*pk_exprs, F.col("__ins_ord"))
            .drop("__ins_ord")
        )
    engine.register_table(view, df, tdef.meta)
    # Buffer tables aliasing this destination see the new contents
    for bname, tgt in getattr(engine, "buffers", {}).items():
        if tgt == tdef.name:
            engine.register_table(
                engine.table_views.get(bname, _view_of(bname)), df, tdef.meta
            )


def _drop(engine, tokens: list[Token]) -> None:
    i = 1
    if tokens[i].is_kw("DATABASE"):
        i += 1
        if tokens[i].is_kw("IF"):
            i += 2  # IF EXISTS
        db = tokens[i].text
        engine.databases.discard(db)
        for name in [n for n in list(engine.tables) if n.startswith(db + ".")]:
            _drop_table(engine, name)
        return None
    assert tokens[i].is_kw("TABLE")
    i += 1
    if tokens[i].is_kw("IF"):
        i += 2  # IF EXISTS
    name, _ = _table_name(tokens, i, engine)
    _drop_table(engine, name)


def _drop_table(engine, name: str) -> None:
    engine.tables.pop(name, None)
    view = engine.table_views.pop(name, _view_of(name))
    engine.table_meta.pop(view, None)
    engine.spark.catalog.dropTempView(view)
    for grp in getattr(engine, "zk_groups", {}).values():
        if name in grp:
            grp.remove(name)


def _squash_blocks(
    src_blocks: list[int], min_rows: int, min_bytes: int, row_bytes: int
) -> list[int]:
    """SquashingTransform replay over source block row-counts
    (DataStreams/SquashingTransform.cpp): a big-enough incoming block
    flushes the accumulator and takes its place; small blocks append
    until the accumulated block is big enough; the remainder flushes
    at end-of-stream.  ``row_bytes`` approximates Block::bytes() for
    fixed-width rows (0 disables the bytes criterion)."""

    def enough(rows: int) -> bool:
        return (
            (not min_rows and not min_bytes)
            or (bool(min_rows) and rows >= min_rows)
            or (bool(min_bytes) and rows * row_bytes >= min_bytes)
        )

    out: list[int] = []
    acc = 0
    for b in src_blocks:
        if enough(b):
            if acc == 0:
                out.append(b)
            else:
                out.append(acc)
                acc = b
        elif acc and enough(acc):
            out.append(acc)
            acc = b
        else:
            acc += b
            if enough(acc):
                out.append(acc)
                acc = 0
    if acc:
        out.append(acc)
    return out


def _row_bytes_of(tdef) -> int:
    """Fixed row width in bytes (Block::bytes() per row); 0 when any
    stored column is variable-width (disables the bytes criterion)."""
    from .translate import _CH_LE_WIDTH

    total = 0
    for c in tdef.columns:
        if c.is_virtual or c.is_alias:
            continue
        t = (c.ch_type or "").removeprefix("Nullable(").removesuffix(")") \
            if (c.ch_type or "").startswith("Nullable(") else (c.ch_type or "")
        w = _CH_LE_WIDTH.get(t.split("(")[0])
        if w is None:
            return 0
        total += w
    return total


def _insert(engine, tokens: list[Token]) -> None:
    from .translate import Ctx, _rewrite, _strip_sub_totals, _translate_union

    i = 1
    assert tokens[i].is_kw("INTO")
    i += 1
    name, i = _table_name(tokens, i, engine)
    # INSERT into a Buffer flushes straight to the destination
    # (StorageBuffer write-through under the immediate-flush model)
    name = engine.buffers.get(name, name)
    tdef = engine.tables.get(name)
    if tdef is None:
        raise ValueError(f"INSERT into unknown table {name!r}")
    # positional INSERT covers only ordinary + DEFAULT columns;
    # MATERIALIZED/ALIAS are never part of the insert block
    # (ColumnDefault.h)
    subset = [c.name for c in tdef.columns if not c.is_virtual]
    if tokens[i].text == "(":
        close = _match_paren(tokens, i)
        subset = [
            _col_name(t)[0] for t in _split_top(tokens[i + 1 : close], ",")
        ]
        i = close + 1
    ctx = Ctx(table_meta=engine.table_meta, columns_of=engine._columns_of,
              dictionaries=engine.dictionaries, table_views=engine.table_views,
              system_sql=engine._system_sql, default_db=engine.current_db,
              tabledef_of=engine._tabledef_by_view,
              agg_fn_of=engine._agg_fn_of,
              schema_of_sql=engine._schema_of_sql,
              session_settings=dict(engine.session_settings))
    _values_block = False  # block-structure provenance (00340/00341)
    _arm_counts: list[int] | None = None
    if tokens[i].is_kw("VALUES"):
        rows_sql = []
        rows_vals: list[list[str]] = []
        k = i + 1
        while k < len(tokens):
            assert tokens[k].text == "(", "VALUES expects tuples"
            close = _match_paren(tokens, k)
            vals = [
                _rewrite(v, ctx)
                for v in _split_top(tokens[k + 1 : close], ",")
            ]
            rows_sql.append(f"({', '.join(vals)})")
            rows_vals.append(vals)
            k = close + 1
            if k < len(tokens) and tokens[k].text == ",":
                k += 1
        _values_block = True
        aliases = ", ".join(f"c{j}" for j in range(len(subset)))
        src = f"SELECT * FROM (VALUES {', '.join(rows_sql)}) AS __v({aliases})"
        try:
            # one partition: the VALUES block is client-side data whose
            # ROW ORDER is semantic (first-seen DISTINCT ids, golden
            # 00326) — Spark would otherwise spread the inline table
            # over default parallelism
            new_df = engine.spark.sql(src).coalesce(1)
        except Exception:
            # VALUES rows may hold full expressions (the reference
            # evaluates them — ValuesRowInputStream falls back to the
            # expression parser); Spark's inline table refuses mixed
            # shapes, a UNION ALL of one-row SELECTs coerces them
            selects = [
                "SELECT "
                + ", ".join(f"{v} AS c{j}" for j, v in enumerate(vals))
                for vals in rows_vals
            ]
            new_df = engine.spark.sql("\nUNION ALL\n".join(selects))
    elif tokens[i].is_kw("SELECT") or tokens[i].text == "(":
        sel_toks = tokens[i:]
        # a WITH TOTALS / SETTINGS extremes=1 SELECT feeding an INSERT
        # sends its totals/extremes blocks to the CLIENT — they are
        # never inserted (NullAndDoCopyBlockInputStream forwards only
        # data blocks; golden 00209).  Insert the stripped query; the
        # out-of-band blocks are rendered into last_insert_echo.
        stripped, had_totals = _strip_sub_totals(sel_toks)
        _ext = str(engine.last_settings.get("extremes", "0")) in ("1",)
        _eff_toks = stripped if had_totals else sel_toks
        new_df = engine.spark.sql(_translate_union(_eff_toks, ctx))
        # per-arm block structure: each depth-0 UNION ALL arm is its
        # own stream whose blocks reach the squashing transform
        # separately (goldens 00341)
        _arms, _depth, _cur = [], 0, []
        k2 = 0
        while k2 < len(_eff_toks):
            tk = _eff_toks[k2]
            if tk.text == "(":
                _depth += 1
            elif tk.text == ")":
                _depth -= 1
            if (
                _depth == 0
                and tk.is_kw("UNION")
                and k2 + 1 < len(_eff_toks)
                and _eff_toks[k2 + 1].is_kw("ALL")
            ):
                _arms.append(_cur)
                _cur = []
                k2 += 2
                continue
            _cur.append(tk)
            k2 += 1
        _arms.append(_cur)
        if len(_arms) > 1:
            try:
                _arm_counts = [
                    engine.spark.sql(_translate_union(a, ctx)).count()
                    for a in _arms
                ]
            except Exception:
                _arm_counts = None
        if had_totals or _ext:
            from ..sources.formats import format_result

            fdf = (
                engine.spark.sql(_translate_union(sel_toks, ctx))
                if had_totals
                else new_df
            )
            txt = format_result(
                fdf, "TabSeparated", totals=had_totals, extremes=_ext,
                settings=engine.last_settings,
            )
            pos = txt.find("\n\n")
            engine.last_insert_echo = txt[pos + 1 :] if pos >= 0 else ""
    else:
        raise ValueError("INSERT expects VALUES or SELECT")

    _ingest_df(engine, name, tdef, subset, new_df, _values_block, _arm_counts)


def _ingest_df(
    engine,
    name: str,
    tdef: TableDef,
    subset: list[str],
    new_df: DataFrame,
    _values_block: bool = False,
    _arm_counts: list[int] | None = None,
) -> None:
    """The INSERT pipeline below the source stream: schema projection,
    default evaluation, Replicated dedup, part tracking, block-size
    recording, publication and MV fan-out.  Shared by token-level
    INSERT (VALUES / SELECT) and the binary ingest paths
    (``ChEngine.insert_native`` / ``insert_rowbinary`` — the input
    direction of FormatFactory.cpp's both-way registration)."""
    # project into the full physical schema: subset columns
    # (wrapped/cast) first, then the remaining DEFAULT/MATERIALIZED
    # columns computed in dependency layers — their expressions may
    # reference other inserted or defaulted columns (ColumnDefault.h:
    # missing = evaluated default, never NULL; ALIAS is never stored)
    view = engine.table_views.get(name, _view_of(name))
    # source columns map to ``subset`` BY POSITION: renamed positionally,
    # since Spark's generated names can repeat (two equal SELECT items)
    new_df = new_df.toDF(*(f"_c{i}" for i in range(len(new_df.columns))))
    new_df.createOrReplaceTempView(f"__ins_{view}")
    sel = []
    for c in tdef.columns:
        if c.name in subset:
            src = f"`_c{subset.index(c.name)}`"
            v = c.wrapper.format(v=src) if c.wrapper else src
            base_ch = (c.ch_type or "").removeprefix("Nullable(").removesuffix(")") \
                if (c.ch_type or "").startswith("Nullable(") else (c.ch_type or "")
            if base_ch == "DateTime":
                # a digit string parses as a unix timestamp
                # (ReadHelpers.h readDateTimeText falls back to
                # readIntText — golden 00141)
                sel.append(
                    f"coalesce(CAST(try_cast({v} AS BIGINT) AS TIMESTAMP), "
                    f"try_cast({v} AS TIMESTAMP)) AS `{c.name}`"
                )
            else:
                sel.append(f"CAST({v} AS {c.spark_type}) AS `{c.name}`")
    shaped = engine.spark.sql(
        f"SELECT {', '.join(sel)} FROM __ins_{view}"
    )
    shaped = _fill_defaults(tdef, shaped)
    # Replicated* INSERT deduplication: a block whose (PK-sorted)
    # content equals an already-written block is silently dropped
    # (ReplicatedMergeTreeBlockOutputStream checksum dedup —
    # goldens 00215/00226)
    if getattr(tdef.meta, "replicated", False):
        # executor-side fingerprint: per-row hash combined with
        # order-insensitive aggregates (count + sum + xor), so only ONE
        # tiny agg row reaches the driver — never the block itself
        # (the reference likewise checksums block data on the server)
        from pyspark.sql import functions as F

        _h = F.xxhash64(
            *[F.col(f"`{c}`").cast("string") for c in shaped.columns]
        )
        _a = shaped.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_h.cast("decimal(38,0)")).alias("s"),
            F.bit_xor(_h).alias("x"),
        ).first()
        fp = (_a["n"], str(_a["s"]), _a["x"])
        seen = getattr(tdef, "_dedup_blocks", None)
        if seen is None:
            seen = set()
            tdef._dedup_blocks = seen
        if fp in seen:
            return None
        seen.add(fp)
    # append to the raw backing rows (the reference appends a part);
    # localCheckpoint breaks lineage so repeated INSERTs stay flat
    if tdef.engine.endswith("MergeTree"):
        pmap = _track_insert_parts(engine, tdef, shaped)
        shaped = _tag_part(tdef, shaped, pmap)
    existing = tdef.raw if tdef.raw is not None else engine.spark.table(view)
    merged = existing.unionByName(
        shaped, allowMissingColumns=True
    ).localCheckpoint(eager=True)
    tdef.raw = merged
    # record the inserted BLOCK structure: the insert pipeline wraps a
    # SquashingBlockOutputStream (InterpreterInsertQuery.cpp:102) over
    # the source stream's blocks — stored-table blockSize() replays it
    # (goldens 00340/00341).  Source blocks: one per VALUES payload,
    # one per UNION ALL arm, else max_block_size chunks.  Sizes come
    # from one count() on the already-checkpointed union — no extra
    # computation of the insert itself.
    try:
        _total = merged.count()
        _n = _total - tdef.row_count
        tdef.row_count = _total
        _s = engine.session_settings
        _min_rows = int(str(_s.get("min_insert_block_size_rows", 1048576)))
        _min_bytes = int(str(_s.get("min_insert_block_size_bytes", 268435456)))
        _mbs = int(str(_s.get("max_block_size", 65536)))
        if _arm_counts is not None:
            _src = list(_arm_counts)
        elif _values_block:
            _src = [_n] if _n else []
        else:
            _src = [_mbs] * (_n // _mbs) + ([_n % _mbs] if _n % _mbs else [])
        tdef.block_sizes.extend(
            _squash_blocks(_src, _min_rows, _min_bytes, _row_bytes_of(tdef))
        )
    except Exception:
        tdef.block_sizes = []  # unknown structure: reads fall back
    _publish(engine, tdef)
    _sync_replicas(engine, tdef)
    # materialized-view fan-out: run each dependent MV's SELECT over
    # the inserted BLOCK only and append the result
    # (StorageMaterializedView::write)
    for mv_name, (mv_sql, bases) in getattr(engine, "mv_defs", {}).items():
        if name not in bases:
            continue
        mvdef = engine.tables.get(mv_name)
        if mvdef is None:
            continue
        blk_view = f"__mvblk_{view}"
        shaped.createOrReplaceTempView(blk_view)
        saved_view = engine.table_views.get(name)
        engine.table_views[name] = blk_view
        try:
            blk_res = engine.spark.sql(engine.translate(mv_sql))
        finally:
            if saved_view is not None:
                engine.table_views[name] = saved_view
            else:
                engine.table_views.pop(name, None)
        base_df = mvdef.raw
        mvdef.raw = (
            base_df.unionByName(blk_res, allowMissingColumns=True)
            if base_df is not None
            else blk_res
        ).localCheckpoint(eager=True)
        mvdef.raw.createOrReplaceTempView(
            engine.table_views.get(mv_name, _view_of(mv_name))
        )


def _expr_deps(fill: str, names: set[str]) -> set[str]:
    """Table-column names a fill expression references (backquoted or
    bare identifiers; a name directly followed by ``(`` is a function
    call, not a column)."""
    import re as _re

    found = set()
    for n in names:
        if f"`{n}`" in fill or _re.search(
            rf"(?<![\w`.]){_re.escape(n)}(?![\w`])(?!\s*\()", fill
        ):
            found.add(n)
    return found


def _fill_defaults(tdef: TableDef, df: DataFrame) -> DataFrame:
    """Add every missing non-ALIAS column to the block, evaluating
    DEFAULT/MATERIALIZED expressions in dependency layers (an
    expression may reference other inserted OR other defaulted
    columns — the reference computes required defaults recursively,
    evaluateMissingDefaults).  Columns whose dependencies never
    resolve fall back to the type default."""
    names = {c.name for c in tdef.columns}
    pending = [
        c for c in tdef.columns
        if not c.is_alias and c.name not in df.columns
    ]

    def fill_of(c: ColumnDef, have: set[str]) -> str:
        # a Nested member absent from the insert block fills to its
        # present SIBLING's length with element defaults (NestedUtils
        # lockstep arrays), unless an explicit default says otherwise
        if not c.default_kind and "." in c.name and c.spark_type.startswith(
            "ARRAY<"
        ):
            prefix = c.name.split(".", 1)[0] + "."
            sib = next(
                (s for s in have if s != c.name and s.startswith(prefix)),
                None,
            )
            if sib is not None:
                elem_t = c.spark_type[6:-1]
                elem_d = _TYPE_DEFAULTS.get(elem_t, "NULL")
                return (
                    f"array_repeat(CAST({elem_d} AS {elem_t}), "
                    f"size(`{sib}`))"
                )
        return c.default_sql()

    while pending:
        have = set(df.columns)
        layer = [
            c for c in pending
            if not (_expr_deps(fill_of(c, have), names) - have - {c.name})
        ]
        if not layer:
            # circular / unresolvable: honest type defaults
            df = df.selectExpr(
                "*",
                *(
                    f"CAST({_TYPE_DEFAULTS.get(c.spark_type, 'NULL')} "
                    f"AS {c.spark_type}) AS `{c.name}`"
                    for c in pending
                ),
            )
            break
        df = df.selectExpr(
            "*",
            *(
                f"CAST({fill_of(c, have)} AS {c.spark_type}) AS `{c.name}`"
                for c in layer
            ),
        )
        pending = [c for c in pending if c not in layer]
    order = [f"`{c.name}`" for c in tdef.columns if not c.is_alias]
    return df.selectExpr(*order)


# per-type on-disk width estimate for system.parts bytes
# (uncompressed column sizes; String adds its character bytes)
_TYPE_BYTES = {
    "TINYINT": 1, "SMALLINT": 2, "INT": 4, "BIGINT": 8,
    "FLOAT": 4, "DOUBLE": 8, "DATE": 2, "TIMESTAMP": 4,
    "TIMESTAMP_NTZ": 4, "BOOLEAN": 1,
}


def _part_month_expr(tdef: TableDef) -> str:
    """Partition id of a row (yyyyMM of the month-partition column, or
    'all' for unpartitioned MergeTree declarations)."""
    dcol = tdef.meta.date_col
    if dcol is not None and any(
        c.name == dcol and c.spark_type in ("DATE", "TIMESTAMP", "TIMESTAMP_NTZ")
        for c in tdef.columns
    ):
        return f"date_format(`{dcol}`, 'yyyyMM')"
    return "'all'"


def _tag_part(
    tdef: TableDef, df: DataFrame, pmap: dict[str, str]
) -> DataFrame:
    """Attach the hidden ``__part`` column: the name of the data part
    each row belongs to — surfaced as the ``_part`` virtual column
    (MergeTreeBlockInputStream virtual columns)."""
    from pyspark.sql import functions as F

    if not pmap:
        return df.withColumn("__part", F.lit(None).cast("string"))
    whens = " ".join(f"WHEN '{p}' THEN '{n}'" for p, n in pmap.items())
    return df.withColumn(
        "__part", F.expr(f"CASE {_part_month_expr(tdef)} {whens} END")
    )


def _retag_parts(tdef: TableDef) -> None:
    """After a merge renamed parts, recompute every row's ``__part``
    from the current per-partition part list."""
    if tdef.raw is None:
        return
    raw = tdef.raw
    for hidden in ("__part", "_part"):
        if hidden in raw.columns:
            raw = raw.drop(hidden)
    pmap = {p["partition"]: p["name"] for p in tdef.parts if p["active"]}
    tdef.raw = _tag_part(tdef, raw, pmap)


def _track_insert_parts(
    engine, tdef: TableDef, block: DataFrame
) -> dict[str, str]:
    """Record one data part per (INSERT block × month partition), like
    the reference's per-block part creation (MergeTreeDataWriter).
    Returns {partition: part_name} for the inserted block.
    Runs one tiny aggregation job over the just-inserted block — this
    is the DDL path, never a query hot path."""
    from pyspark.sql import functions as F

    # the classic first engine arg is only a month-partition column when
    # it is actually a Date — MergeTree(k, 8192)-style declarations put
    # a PK there instead
    dcol = tdef.meta.date_col
    if dcol is not None and not any(
        c.name == dcol and c.spark_type in ("DATE", "TIMESTAMP", "TIMESTAMP_NTZ")
        for c in tdef.columns
    ):
        dcol = None
    fixed = sum(_TYPE_BYTES.get(c.spark_type, 8) for c in tdef.columns)
    str_cols = [c.name for c in tdef.columns if c.spark_type == "STRING"]
    str_bytes = (
        sum((F.sum(F.length(F.col(f"`{c}`"))) for c in str_cols), F.lit(0))
        if str_cols
        else F.lit(0)
    )
    aggs = [
        F.count(F.lit(1)).alias("__rows"),
        str_bytes.alias("__sbytes"),
    ]
    if dcol is not None:
        d = F.col(f"`{dcol}`")
        grouped = block.groupBy(
            F.date_format(d, "yyyyMM").alias("__partition")
        ).agg(
            *aggs,
            F.date_format(F.min(d), "yyyyMMdd").alias("__mind"),
            F.date_format(F.max(d), "yyyyMMdd").alias("__maxd"),
        )
    else:
        grouped = block.groupBy(F.lit("all").alias("__partition")).agg(*aggs)
    pmap: dict[str, str] = {}
    for r in grouped.collect():
        tdef.next_block += 1
        b = tdef.next_block
        mind = r["__mind"] if dcol is not None else "19700101"
        maxd = r["__maxd"] if dcol is not None else "19700101"
        rows = int(r["__rows"])
        pmap[r["__partition"] or "all"] = f"{mind}_{maxd}_{b}_{b}_0"
        tdef.parts.append(
            {
                "partition": r["__partition"] or "all",
                "name": f"{mind}_{maxd}_{b}_{b}_0",
                "rows": rows,
                "marks": (rows + 8191) // 8192,
                "bytes": fixed * rows + int(r["__sbytes"] or 0),
                "min_date": mind,
                "max_date": maxd,
                "min_block": b,
                "max_block": b,
                "level": 0,
                "active": 1,
            }
        )
    return pmap


def merge_parts(tdef: TableDef) -> None:
    """OPTIMIZE's part bookkeeping: merge the active parts within each
    partition into one (level = max+1; MergeTreeDataMerger)."""
    by_part: dict[str, list[dict]] = {}
    for p in tdef.parts:
        by_part.setdefault(p["partition"], []).append(p)
    merged: list[dict] = []
    for partition, ps in sorted(by_part.items()):
        if len(ps) == 1:
            merged.append(ps[0])
            continue
        mind = min(p["min_date"] for p in ps)
        maxd = max(p["max_date"] for p in ps)
        minb = min(p["min_block"] for p in ps)
        maxb = max(p["max_block"] for p in ps)
        lvl = max(p["level"] for p in ps) + 1
        merged.append(
            {
                "partition": partition,
                "name": f"{mind}_{maxd}_{minb}_{maxb}_{lvl}",
                "rows": sum(p["rows"] for p in ps),
                "marks": sum(p["marks"] for p in ps),
                "bytes": sum(p["bytes"] for p in ps),
                "min_date": mind,
                "max_date": maxd,
                "min_block": minb,
                "max_block": maxb,
                "level": lvl,
                "active": 1,
            }
        )
    tdef.parts = merged


# ------------------------------------------------------------- ALTER etc.

def _tabledef_of(engine, name: str):
    """TableDef for a created table, or one synthesized from the Spark
    schema for directly-registered views."""
    tdef = engine.tables.get(name)
    if tdef is not None:
        return tdef
    view = engine.table_views.get(name, _view_of(name))
    df = engine.spark.table(view)
    cols = [
        ColumnDef(
            f.name,
            f.dataType.simpleString(),
            ch_type=ch_type_of_spark(f.dataType.simpleString()),
        )
        for f in df.schema.fields
    ]
    return TableDef(name, cols, "MergeTree", engine.table_meta.get(view, TableMeta()))


def _sync_raw(engine, tdef) -> None:
    """Align the raw backing frame with the column list after ALTER:
    dropped columns leave the rows; added columns appear as NULL
    part-absence sentinels (old parts don't have them — the published
    view yields the current type default).  MODIFY touches nothing
    here: the published projection casts."""
    from pyspark.sql import functions as F

    raw = tdef.raw if tdef.raw is not None else engine.spark.table(
        engine.table_views.get(tdef.name, _view_of(tdef.name))
    )
    want = [c.name for c in tdef.columns if not c.is_alias]
    for col in raw.columns:
        if col not in want and col != "__part":
            raw = raw.drop(col)
    for c in tdef.columns:
        if c.is_alias:
            continue
        if c.name not in raw.columns:
            raw = raw.withColumn(
                c.name, F.expr(f"CAST(NULL AS {c.spark_type})")
            )
    tdef.raw = raw
    _publish(engine, tdef)


def _sync_replicas(engine, tdef: TableDef) -> None:
    """Mirror a Replicated table's parts state to every replica that
    shares its zookeeper path (the replication queue, collapsed to
    synchronous application — replication_alter_partitions_sync=2)."""
    path = getattr(tdef.meta, "zk_path", None)
    if not path:
        return
    for other in getattr(engine, "zk_groups", {}).get(path, []):
        odef = engine.tables.get(other)
        if odef is None or odef is tdef:
            continue
        odef.raw = tdef.raw
        odef.columns = tdef.columns  # ALTERs are replicated
        odef.parts = tdef.parts
        odef.block_sizes = list(tdef.block_sizes)
        odef.row_count = tdef.row_count
        odef.next_block = tdef.next_block
        # NOTE: _detached_parts stays per-replica — the detached
        # directory is replica-LOCAL disk in the reference
        if getattr(tdef, "_dedup_blocks", None) is None:
            tdef._dedup_blocks = set()
        odef._dedup_blocks = tdef._dedup_blocks
        _publish(engine, odef)


def _alter(engine, tokens: list[Token]) -> None:
    """ALTER TABLE t ADD COLUMN c T [AFTER x] | DROP COLUMN c |
    MODIFY COLUMN c T  (Parsers/ParserAlterQuery.cpp,
    Interpreters/InterpreterAlterQuery.cpp)."""
    i = 1
    assert tokens[i].is_kw("TABLE")
    name, i = _table_name(tokens, i + 1, engine)
    tdef = engine.tables.get(name)
    if tdef is None:
        raise ValueError(f"ALTER on unknown table {name!r}")
    for action in _split_top(tokens[i:], ","):
        if not action:
            continue
        verb = action[0].text.upper()
        if verb == "MODIFY" and action[1].is_kw("PRIMARY"):
            # MODIFY PRIMARY KEY (k...) — changes the sort/index key;
            # existing data stays, future reads/merges use the new key
            # (InterpreterAlterQuery PRIMARY_KEY, golden 00329)
            toks = action[3:]
            if toks and toks[0].text == "(":
                toks = toks[1:_match_paren(toks, 0)]
            tdef.meta.primary_key = tuple(
                t.text for t in toks if t.kind in ("ident", "qident")
            )
            _publish(engine, tdef)  # PK order drives plain-SELECT order
            continue
        if verb in ("DETACH", "ATTACH", "DROP") and action[1].is_kw(
            "PARTITION", "PART"
        ):
            # DETACH/ATTACH/DROP PARTITION p and ATTACH PART 'name':
            # whole parts leave/rejoin/vanish from the active set
            # (InterpreterAlterQuery partition commands — goldens
            # 00428/00074/00236/00296).  Detached parts keep their
            # rows and metadata for a later ATTACH; DROP discards.
            from pyspark.sql import functions as F

            by_part = action[1].is_kw("PART")
            target = action[2].text.strip("'")
            if tdef.raw is None:
                continue
            stash = getattr(tdef, "_detached_parts", None)
            if stash is None:
                stash = {}
                tdef._detached_parts = stash
            if verb in ("DETACH", "DROP"):
                gone = [p for p in tdef.parts if p["partition"] == target]
                names = [p["name"] for p in gone]
                if "__part" in tdef.raw.columns and names:
                    in_part = F.coalesce(
                        F.col("__part").isin(*names), F.lit(False)
                    )
                else:
                    month = _part_month_expr(tdef)
                    in_part = F.expr(
                        f"CAST({month} AS STRING) = '{target}'"
                    )
                if verb == "DETACH":
                    moved = tdef.raw.filter(in_part).localCheckpoint(
                        eager=True
                    )
                    if gone:
                        for p in gone:
                            pdf = (
                                moved.filter(F.col("__part") == p["name"])
                                if "__part" in moved.columns
                                else moved
                            ).localCheckpoint(eager=True)
                            stash[p["name"]] = (pdf, p)
                    else:
                        stash[target] = (moved, {
                            "partition": target, "name": target,
                            "rows": moved.count(), "marks": 1, "bytes": 0,
                            "min_date": "19700101", "max_date": "19700101",
                            "min_block": 0, "max_block": 0, "level": 0,
                            "active": 1,
                        })
                tdef.raw = tdef.raw.filter(~in_part).localCheckpoint(
                    eager=True
                )
                tdef.parts = [
                    p for p in tdef.parts if p["partition"] != target
                ]
            else:  # ATTACH
                # the attach entry in the replication log makes every
                # replica fetch the part — search the executing
                # replica's detached dir first, then its peers'
                # (goldens 00074/00296: DETACH on r2, ATTACH on r1)
                stashes = [stash]
                for other in getattr(engine, "zk_groups", {}).get(
                    getattr(tdef.meta, "zk_path", None) or "", []
                ):
                    odef = engine.tables.get(other)
                    ost = getattr(odef, "_detached_parts", None)
                    if odef is not None and ost and ost is not stash:
                        stashes.append(ost)
                back = []
                for st in stashes:
                    back.extend(
                        (nm, st)
                        for nm, (_d, p) in st.items()
                        if (nm == target if by_part else p["partition"] == target)
                    )
                for nm, st in back:
                    got = st.pop(nm, None)
                    if got is None:
                        continue
                    pdf, p = got
                    tdef.raw = tdef.raw.unionByName(
                        pdf, allowMissingColumns=True
                    ).localCheckpoint(eager=True)
                    if p["name"] not in {q["name"] for q in tdef.parts}:
                        tdef.parts.append(p)
            _publish(engine, tdef)
            _sync_replicas(engine, tdef)
            continue
        assert action[1].is_kw("COLUMN"), "ALTER supports COLUMN actions"
        rest = action[2:]
        if rest and rest[0].is_kw("IF"):
            rest = rest[3:] if verb == "ADD" else rest[2:]  # IF [NOT] EXISTS
        if verb == "DROP":
            col, used = _col_name(rest)
            # DROP COLUMN c FROM PARTITION 'p': the column stays in the
            # schema; the named partition's parts lose their data and
            # read back as type defaults (InterpreterAlterQuery
            # DROP_COLUMN with partition — golden 00446)
            part_lit = None
            tail = rest[used:] if used < len(rest) else []
            for j in range(len(tail) - 1):
                if tail[j].is_kw("PARTITION"):
                    part_lit = tail[j + 1].text.strip("'")
                    break
            if part_lit is not None and tdef.raw is not None:
                from pyspark.sql import functions as F

                month = _part_month_expr(tdef)
                tdef.raw = tdef.raw.withColumn(
                    col,
                    F.expr(
                        f"IF(CAST({month} AS STRING) = '{part_lit}', "
                        f"NULL, `{col}`)"
                    ),
                ).localCheckpoint(eager=True)
                _publish(engine, tdef)
                continue
            # DROP COLUMN n on a Nested block removes every n.* member
            # (InterpreterAlterQuery expands Nested to its array columns)
            tdef.columns = [
                c
                for c in tdef.columns
                if c.name != col and not c.name.startswith(col + ".")
            ]
        elif verb in ("ADD", "MODIFY"):
            after: str | None = None
            for j in range(len(rest) - 1):
                if rest[j].is_kw("AFTER"):
                    after, _ = _col_name(rest[j + 1 :])
                    rest = rest[:j]
                    break
            parsed = _parse_one_column(
                rest, {c.name: c.ch_type for c in tdef.columns}
            )
            if parsed is None:
                raise ValueError(
                    f"unsupported column type in ALTER: "
                    f"{' '.join(t.text for t in rest)!r}"
                )
            if verb == "MODIFY":
                for newc in parsed:
                    for k, c in enumerate(tdef.columns):
                        if c.name == newc.name:
                            _convert_enum_modify(engine, tdef, c, newc)
                            # physically convert the stored values to
                            # the new type NOW (InterpreterAlterQuery
                            # converts parts) — chained MODIFYs
                            # (String→Int64→UInt32→DateTime, 00062)
                            # must cast step by step, not from the
                            # ORIGINAL stored representation
                            if (
                                tdef.raw is not None
                                and newc.spark_type != c.spark_type
                                and not _enum_pairs(c.ch_type)
                                and not _enum_pairs(newc.ch_type)
                                and newc.name in tdef.raw.columns
                            ):
                                from pyspark.sql import functions as F

                                tdef.raw = tdef.raw.withColumn(
                                    newc.name,
                                    F.col(f"`{newc.name}`").cast(
                                        newc.spark_type
                                    ),
                                )
                            if c.is_virtual == newc.is_virtual:
                                tdef.columns[k] = newc
                            else:
                                # default-kind change across the
                                # physical/virtual divide repositions
                                # the column: ordinary+DEFAULT columns
                                # precede MATERIALIZED/ALIAS in the
                                # stored list (columns.txt order,
                                # visible in 00079's DESCRIBE)
                                tdef.columns.pop(k)
                                if newc.is_virtual:
                                    tdef.columns.append(newc)
                                else:
                                    pos = 0
                                    for j2, c2 in enumerate(tdef.columns):
                                        if not c2.is_virtual:
                                            pos = j2 + 1
                                    tdef.columns.insert(pos, newc)
                            break
            else:
                names = [c.name for c in tdef.columns]
                if any(p.name in names for p in parsed):
                    continue  # IF NOT EXISTS semantics / idempotent re-add
                if after is not None:
                    # dotted AFTER targets the named member; a Nested
                    # block lands after the target's last sibling
                    pos = len(tdef.columns)
                    for k, c in enumerate(tdef.columns):
                        if c.name == after or c.name.startswith(after + "."):
                            pos = k + 1
                    tdef.columns[pos:pos] = parsed
                else:
                    tdef.columns.extend(parsed)
        else:
            raise ValueError(f"unsupported ALTER action {verb!r}")
    _sync_raw(engine, tdef)
    _sync_replicas(engine, tdef)


def _enum_pairs(ch_type: str) -> list[tuple[str, str]]:
    import re as _re

    return _re.findall(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", ch_type or "")


def _convert_enum_modify(
    engine, tdef: TableDef, old: ColumnDef, new: ColumnDef
) -> None:
    """MODIFY COLUMN across the Enum/numeric divide converts the STORED
    values through the enum's name<->value mapping
    (InterpreterAlterQuery + DataTypeEnum conversion: Enum8→UInt16
    yields the numeric values, UInt16→Enum8 the names).  Enum↔Enum and
    Enum↔String keep the names untouched."""
    from pyspark.sql import functions as F

    pairs_old = _enum_pairs(old.ch_type)
    pairs_new = _enum_pairs(new.ch_type)
    is_arr = new.spark_type.startswith("ARRAY<")
    base = new.spark_type[6:-1] if is_arr else new.spark_type
    numeric_new = base in ("TINYINT", "SMALLINT", "INT", "BIGINT")
    if pairs_old and not pairs_new and numeric_new:
        whens = " ".join(f"WHEN '{n}' THEN {v}" for n, v in pairs_old)
    elif pairs_new and not pairs_old:
        old_base = (
            old.spark_type[6:-1]
            if old.spark_type.startswith("ARRAY<")
            else old.spark_type
        )
        if old_base == "STRING":
            return  # String→Enum: names already stored
        whens = " ".join(f"WHEN {v} THEN '{n}'" for n, v in pairs_new)
    elif pairs_old and pairs_new:
        # Enum→Enum: values are the identity; members renamed between
        # the two mappings convert stored names through the value
        # (DataTypeEnum cast by value)
        new_by_val = {v: n for n, v in pairs_new}
        renames = [
            (n, new_by_val[v])
            for n, v in pairs_old
            if v in new_by_val and new_by_val[v] != n
        ]
        if not renames:
            return
        whens = " ".join(f"WHEN '{o}' THEN '{n}'" for o, n in renames)
        is_arr = old.spark_type.startswith("ARRAY<")
        raw = tdef.raw
        if raw is None:
            raw = engine.spark.table(
                engine.table_views.get(tdef.name, _view_of(tdef.name))
            )
        col = f"`{old.name}`"
        if is_arr:
            conv = f"transform({col}, __e -> CASE __e {whens} ELSE __e END)"
        else:
            conv = f"CASE {col} {whens} ELSE {col} END"
        tdef.raw = raw.withColumn(old.name, F.expr(conv))
        return
    else:
        return
    raw = tdef.raw
    if raw is None:
        raw = engine.spark.table(
            engine.table_views.get(tdef.name, _view_of(tdef.name))
        )
    col = f"`{old.name}`"
    if is_arr:
        conv = f"transform({col}, __e -> CASE __e {whens} END)"
    else:
        conv = f"CASE {col} {whens} END"
    tdef.raw = raw.withColumn(
        old.name, F.expr(f"CAST({conv} AS {new.spark_type})")
    )


def _rename(engine, tokens: list[Token]) -> None:
    """RENAME TABLE a TO b[, c TO d] (InterpreterRenameQuery)."""
    i = 1
    assert tokens[i].is_kw("TABLE")
    i += 1
    while i < len(tokens):
        old, i = _table_name(tokens, i, engine)
        assert tokens[i].is_kw("TO")
        new, i = _table_name(tokens, i + 1, engine)
        tdef = engine.tables.pop(old, None)
        if tdef is None:
            raise ValueError(f"RENAME of unknown table {old!r}")
        old_view = engine.table_views.pop(old, _view_of(old))
        new_view = _view_of(new)
        if tdef.raw is None:
            tdef.raw = engine.spark.table(old_view)
        meta = engine.table_meta.pop(old_view, tdef.meta)
        tdef.name = new
        tdef.meta = meta
        engine.tables[new] = tdef
        engine.table_views[new] = new_view
        engine.table_meta[new_view] = meta
        _publish(engine, tdef)
        engine.spark.catalog.dropTempView(old_view)
        if i < len(tokens) and tokens[i].text == ",":
            i += 1


def _str_df(engine, rows: list[list[str]], schema: str) -> DataFrame:
    from pyspark.sql.types import StructType

    if not rows:
        return engine.spark.createDataFrame(
            [], StructType.fromDDL(schema)
        )
    return engine.spark.createDataFrame(rows, schema)


def _bq_if_need(name: str) -> str:
    """backQuoteIfNeed (IO/WriteHelpers.h): quote unless the name is a
    plain identifier — dotted Nested members come out as `n.ui8`."""
    import re as _re

    return name if _re.fullmatch(r"[a-zA-Z_]\w*", name) else f"`{name}`"


def _show_create(engine, tokens: list[Token]) -> DataFrame:
    """SHOW CREATE TABLE t → one row, column ``statement``
    (InterpreterShowCreateQuery.cpp:30-44: formatAST of the stored
    create query, one-line).  Spacing matches formatAST's one-line
    column list: ``( c1 T1,  c2 T2) ENGINE = ...``."""
    i = 2
    if i < len(tokens) and tokens[i].is_kw("TABLE"):
        i += 1
    name, _ = _table_name(tokens, i, engine)
    tdef = _tabledef_of(engine, name)
    if tdef.view_sql is not None or tdef.engine in ("View", "MaterializedView"):
        kind = "MATERIALIZED VIEW" if tdef.engine == "MaterializedView" else "VIEW"
        body = tdef.view_sql or "SELECT *"
        stmt = f"CREATE {kind} {name} AS {body}"
    else:
        cols = []
        for c in tdef.columns:
            d = f" {c.default_kind} {c.default_expr}" if c.default_kind else ""
            cols.append(f"{_bq_if_need(c.name)} {c.ch_type or c.spark_type}{d}")
        stmt = (
            f"CREATE TABLE {name} ( " + ",  ".join(cols) + ")"
            f" ENGINE = {tdef.engine_full or tdef.engine}"
        )
    return _str_df(engine, [[stmt]], "statement STRING")


def _show(engine, tokens: list[Token]) -> DataFrame:
    """SHOW TABLES [FROM db] [LIKE '...'] / SHOW DATABASES /
    SHOW CREATE TABLE / SHOW PROCESSLIST
    (InterpreterShowTablesQuery — rewritten onto system.tables there,
    built from the engine catalog here)."""
    kind = tokens[1].text.upper()
    if kind == "CREATE":
        return _show_create(engine, tokens)
    if kind == "PROCESSLIST":
        # InterpreterShowProcesslistQuery.cpp:20 rewrites to
        # SELECT * FROM system.processes.  Translate directly — the
        # client statement was already counted by execute(); going
        # through engine.sql() would count Query twice and a phantom
        # SelectQuery for one SHOW statement.
        return engine.spark.sql(
            engine.translate("SELECT * FROM system.processes")
        )
    if kind == "DATABASES":
        dbs = sorted({"default", "system", *engine.databases})
        return _str_df(engine, [[d] for d in dbs], "name STRING")
    assert kind == "TABLES", f"unsupported SHOW {kind}"
    i = 2
    db = None
    like = None
    while i < len(tokens):
        if tokens[i].is_kw("FROM"):
            db = tokens[i + 1].text
            i += 2
        elif tokens[i].is_kw("LIKE"):
            like = tokens[i + 1].text.strip("'")
            i += 2
        else:
            i += 1
    if db is None and getattr(engine, "current_db", None):
        # no FROM clause: the reference falls back to the USE'd current
        # database (InterpreterShowTablesQuery.cpp:30
        # context.getCurrentDatabase())
        db = engine.current_db
    if db:
        names = sorted(
            n.split(".", 1)[1] for n in engine.tables if n.startswith(db + ".")
        )
    else:
        dotted_twins = {v for k, v in engine.table_views.items() if "." in k}
        names = sorted(
            t.name
            for t in engine.spark.catalog.listTables()
            if not t.name.startswith("__") and t.name not in dotted_twins
        )
    if like is not None:
        import re as _re

        pat = _re.compile(
            "^" + _re.escape(like).replace("%", ".*").replace("_", ".") + "$"
        )
        names = [n for n in names if pat.match(n)]
    return _str_df(engine, [[n] for n in names], "name STRING")


def _describe(engine, tokens: list[Token]) -> DataFrame:
    """DESC|DESCRIBE [TABLE] t → (name, type, default_type,
    default_expression) like InterpreterDescribeQuery."""
    i = 1
    if i < len(tokens) and tokens[i].is_kw("TABLE"):
        i += 1
    name, _ = _table_name(tokens, i, engine)
    tdef = _tabledef_of(engine, name)
    rows = [
        [c.name, c.ch_type or c.spark_type, c.default_kind, c.default_expr]
        for c in tdef.columns
    ]
    return _str_df(
        engine,
        rows,
        "name STRING, type STRING, default_type STRING, default_expression STRING",
    )


def _exists(engine, tokens: list[Token]) -> DataFrame:
    """EXISTS TABLE t → 1/0 (InterpreterExistsQuery)."""
    i = 1
    if i < len(tokens) and tokens[i].is_kw("TABLE"):
        i += 1
    name, _ = _table_name(tokens, i, engine)
    found = name in engine.tables
    if not found:
        try:
            engine.spark.table(engine.table_views.get(name, _view_of(name)))
            found = True
        except Exception:
            found = False
    return engine.spark.createDataFrame([[1 if found else 0]], "result INT")


def _optimize(engine, tokens: list[Token]) -> None:
    """OPTIMIZE TABLE t — merge every active part of each partition
    with the engine's merge rule, eagerly (InterpreterOptimizeQuery;
    the rule a FINAL read runs, ``sources.mergetree.merge_rule``)."""
    from pyspark.sql import functions as F

    from ..sources.mergetree import key_columns, merge_rule

    i = 1
    assert tokens[i].is_kw("TABLE")
    name, _ = _table_name(tokens, i + 1, engine)
    tdef = engine.tables.get(name)
    if tdef is None:
        raise ValueError(f"OPTIMIZE on unknown table {name!r}")
    meta = tdef.meta
    columns = tdef.merge_columns()
    if not key_columns(meta.primary_key, columns):
        return None
    compact = merge_rule(meta, columns).compact
    if compact is None:
        # plain MergeTree: merge changes layout, not rows
        merge_parts(tdef)
        _retag_parts(tdef)
        _publish(engine, tdef)
        return None
    view = engine.table_views.get(name, _view_of(name))
    # a merge materializes current defaults into the merged part
    df = compact(engine.spark.table(view).select(*[f"`{c}`" for c, _ in columns]))
    tdef.raw = df.localCheckpoint(eager=True)
    merge_parts(tdef)
    if tdef.parts:
        # the merge may have dropped rows (Replacing dedup, Collapsing
        # cancellation, Summing/Aggregating group-merge): refresh each
        # merged part's row count from the actual merged data
        dcol = tdef.meta.date_col
        if dcol is not None and not any(
            c.name == dcol
            and c.spark_type in ("DATE", "TIMESTAMP", "TIMESTAMP_NTZ")
            for c in tdef.columns
        ):
            dcol = None
        if dcol is not None and dcol in df.columns:
            counts = {
                r["__p"]: int(r["__c"])
                for r in df.groupBy(
                    F.date_format(F.col(f"`{dcol}`"), "yyyyMM").alias("__p")
                )
                .agg(F.count(F.lit(1)).alias("__c"))
                .collect()
            }
        else:
            counts = {"all": df.count()}
        kept = []
        for p in tdef.parts:
            rows = counts.get(p["partition"], 0)
            if rows:
                p["rows"] = rows
                p["marks"] = (rows + 8191) // 8192
                kept.append(p)
        tdef.parts = kept
    _retag_parts(tdef)
    _publish(engine, tdef)
