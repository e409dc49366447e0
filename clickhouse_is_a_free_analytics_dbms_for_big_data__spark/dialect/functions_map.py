"""CH function-name → Spark SQL expression templates.

Three mapping kinds, applied by the translator when an identifier is
immediately followed by ``(``:

- ``SIMPLE``: plain rename, arguments preserved.
- ``TEMPLATES``: callable ``(args: list[str]) -> str`` over the
  already-translated argument SQL strings.
- ``PARAMETRIC``: callable ``(params, args) -> str`` for the reference's
  parametric-aggregate syntax ``f(params)(args)`` (e.g.
  ``quantile(0.9)(x)``, registry
  /root/reference/dbms/src/AggregateFunctions/AggregateFunctionFactory.cpp).

Every template expands to built-in Spark SQL expressions (JVM-side,
whole-stage-codegen eligible) — translation never introduces a Python
UDF.  Formulas intentionally mirror the Column builders in
``..functions`` so the SQL path and the DataFrame path agree.

Combinator ``-If`` (AggregateFunctionFactory.cpp:51-55) is handled
generically: ``<agg>If(args..., cond)`` → ``<agg>(CASE WHEN cond THEN
arg END)``.
"""

from __future__ import annotations

import re

from collections.abc import Callable

Args = list[str]

# ---------------------------------------------------------------- renames

SIMPLE: dict[str, str] = {
    # dates (FunctionsDateTime.cpp)
    # (toYear/toMonth/... live in TEMPLATES: they take an optional
    # timezone second argument — FunctionsDateTime.cpp)
    "today": "current_date",
    # strings (FunctionsString.cpp) — *UTF8 variants ARE Spark's default
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "lengthUTF8": "char_length",
    "reverseUTF8": "reverse",
    "substringUTF8": "substring",
    "concatAssumeInjective": "concat",
    "trimBoth": "trim",
    "startsWith": "startswith",
    "endsWith": "endswith",
    # math (FunctionsMath.cpp)
    "pow": "power",
    # arrays (FunctionsArray.cpp)
    "arrayDistinct": "array_distinct",
    "arraySlice": "slice",
    "arrayConcat": "concat",
    "arrayReverse": "reverse",
    "arraySort": "sort_array",
    "arrayIntersect": "array_intersect",
    # aggregates (AggregateFunctionFactory.cpp:65-77)
    # (uniq family lives in TEMPLATES — multi-arg form counts tuples)
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "any": "first",
    "anyLast": "last",
    "anyHeavy": "mode",
    "argMin": "min_by",
    "argMax": "max_by",
    "varPop": "var_pop",
    "stddevPop": "stddev_pop",
    "covarPop": "covar_pop",
    # hashing (FunctionsHashing.cpp): the 64-bit family and intHash*
    # lower bit-exactly by argument type (translate._hash_fn)
    "MD5": "md5",
    "SHA1": "sha1",
    # misc
    "isNaN": "isnan",
}

# ---------------------------------------------------------------- templates


def _case_ladder(x: str, bounds: list[tuple[str, str]], default: str) -> str:
    clauses = " ".join(f"WHEN {cond} THEN {val}" for cond, val in bounds)
    return f"(CASE {clauses} ELSE {default} END)"


def _bool(cond: str) -> str:
    # UInt8 doubles as Boolean in the reference (no bool type, Types.h);
    # CAST is a no-op on real booleans and coerces 0/1 ints.
    return f"CAST(({cond}) AS BOOLEAN)"


def _lam_bool(lam: str) -> str:
    """Coerce a rendered lambda's body to BOOLEAN.  The reference's
    higher-order predicates take UInt8 lambdas (FunctionsHigherOrder.h)
    — ``arrayFilter(x -> 1, a)`` is legal there; Spark's filter/exists/
    forall demand a boolean body."""
    if "->" in lam:
        params, body = lam.split("->", 1)
        return f"{params.strip()} -> {_bool(body.strip())}"
    return lam


def _sort_by_key(lam: str, arrs: list[str], reverse: bool) -> str:
    """arraySort(lambda, arr...) — sort the FIRST array by the lambda's
    key over the zipped parameters (FunctionsHigherOrder.h ArraySortImpl;
    multi-array form passes one parameter per array)."""
    if "->" not in lam:
        raise ValueError("arraySort lambda form expects x -> key")
    params, body = lam.split("->", 1)
    plist = [
        p.strip()
        for p in params.strip().lstrip("(").rstrip(")").split(",")
        if p.strip()
    ]
    body = body.strip()
    if len(arrs) == 1 or len(plist) == 1:
        p = plist[0]
        decorated = (
            f"array_sort(transform({arrs[0]}, {p} -> "
            f"named_struct('col1', {body}, 'col2', {p})))"
        )
    else:
        zipped = f"zip_with({arrs[0]}, {arrs[1]}, ({plist[0]}, {plist[1]}) -> "
        decorated = (
            f"array_sort({zipped}"
            f"named_struct('col1', {body}, 'col2', {plist[0]})))"
        )
    if reverse:
        decorated = f"reverse({decorated})"
    return f"transform({decorated}, __s -> __s.col2)"


def _array_reduce(a: Args) -> str:
    """arrayReduce('agg', arr...) — SQL twin of functions/arrays.py:139.

    Multi-array forms aggregate over the element tuples (zip), matching
    the reference's multi-argument aggregates (FunctionsArray.h:1387).
    """
    name = a[0].strip("'").lower()
    # multiple data arrays → distinct over zipped tuples
    arr = a[1] if len(a) == 2 else f"arrays_zip({', '.join(a[1:])})"
    # parametric form 'uniqUpTo(5)' (AggregateFunctionFactory parses
    # params embedded in the name string for arrayReduce)
    m = re.match(r"uniqupto\((\d+)\)$", name)
    if m:
        return f"least(size(array_distinct({arr})), {int(m.group(1)) + 1})"
    # 'quantiles(0.5, 0.9)' — params in the name; ReservoirSampler
    # interpolated finalizer, NaN on empty input
    m = re.match(r"(quantiles?|median)\(([^)]*)\)$", name)
    if m or name in ("median",):
        levels = (
            [s.strip() for s in m.group(2).split(",") if s.strip()]
            if m
            else ["0.5"]
        )
        plural = bool(m) and m.group(1) == "quantiles"
        nan = "CAST('NaN' AS DOUBLE)"
        parts = [
            f"if(size({arr}) = 0, {nan}, {_interp_quantile_of(arr, p)})"
            for p in levels
        ]
        if plural:
            return "array(" + ", ".join(parts) + ")"
        return parts[0]
    # -If combinator: last array is the condition
    if name in (
        "uniqexactif", "uniqif", "countif", "sumif",
        "groupuniqarrayif", "groupuniqarraymergeif",
    ) and len(a) >= 3:
        vals = a[1] if len(a) == 3 else f"arrays_zip({', '.join(a[1:-1])})"
        conds = a[-1]
        kept = (
            f"transform(filter(zip_with({vals}, {conds}, "
            f"(__v, __k) -> named_struct('v', __v, 'k', __k)), "
            f"__p -> CAST(__p.k AS BOOLEAN)), __p -> __p.v)"
        )
        if name in ("uniqexactif", "uniqif"):
            return f"size(array_distinct({kept}))"
        if name == "countif":
            return f"size({kept})"
        if name == "groupuniqarrayif":
            return f"array_distinct({kept})"
        if name == "groupuniqarraymergeif":
            # elements are states (arrays) — merge = flatten + distinct
            return f"array_distinct(flatten({kept}))"
        return f"aggregate({kept}, CAST(0 AS DOUBLE), (__s, __x) -> __s + __x)"
    total = f"aggregate({arr}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
    forms = {
        "sum": total,
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "avg": f"({total} / size({arr}))",
        "count": f"size({arr})",
        "uniq": f"size(array_distinct({arr}))",
        "uniqexact": f"size(array_distinct({arr}))",
        "any": f"element_at({arr}, 1)",
        "anylast": f"element_at({arr}, -1)",
        "median": f"element_at(array_sort({arr}), CAST((size({arr}) + 1) / 2 AS INT))",
        "quantile": f"element_at(array_sort({arr}), CAST((size({arr}) + 1) / 2 AS INT))",
        "grouparray": arr,
        "groupuniqarray": f"array_distinct({arr})",
        # -State forms build the stored state representations
        # (functions/state.py conventions: plain partials, avg struct)
        "sumstate": (
            f"aggregate({arr}, CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + CAST(x AS BIGINT))"
        ),
        "countstate": f"size({arr})",
        "minstate": f"array_min({arr})",
        "maxstate": f"array_max({arr})",
        "avgstate": (
            f"named_struct('sum', {total}, "
            f"'cnt', CAST(size({arr}) AS BIGINT))"
        ),
        "grouparraystate": arr,
        "groupuniqarraystate": f"array_distinct({arr})",
    }
    if name not in forms:
        raise ValueError(f"arrayReduce: unsupported aggregate {name!r}")
    return forms[name]


def _format_readable_size(x: str) -> str:
    """Common/formatReadable.cpp formatReadableSizeWithBinarySuffix:
    divide by 1024 while |value| >= 1024 up to YiB (which may then
    exceed 1024), fixed 2 decimals WITHOUT thousands grouping
    (double-conversion ToFixed), sign preserved via fabs tiering."""
    v = f"CAST({x} AS DOUBLE)"
    units = ["B", "KiB", "MiB", "GiB", "TiB", "PiB", "EiB", "ZiB", "YiB"]
    clauses = " ".join(
        f"WHEN abs({v}) >= {float(1024.0 ** i)!r} THEN "
        f"concat(format_string('%.2f', {v} / {float(1024.0 ** i)!r}), "
        f"' {u}')"
        for i, u in reversed(list(enumerate(units)))
        if i > 0
    )
    return (
        f"(CASE {clauses} ELSE concat(format_string('%.2f', {v}), ' B') "
        f"END)"
    )


def _t_multi_if(a: Args) -> str:
    pairs = []
    for i in range(0, len(a) - 1, 2):
        pairs.append(f"WHEN {_bool(a[i])} THEN {a[i + 1]}")
    return f"(CASE {' '.join(pairs)} ELSE {a[-1]} END)"


_PROCESS_START = __import__("time").monotonic()

_RAND_CONSTANT: list[int] = []


def reset_rand_constant() -> None:
    """New randConstant draw for the next statement (FunctionsRandom
    randConstant: one value per query execution)."""
    _RAND_CONSTANT.clear()


def _rand_constant() -> int:
    import random

    if not _RAND_CONSTANT:
        _RAND_CONSTANT.append(random.randint(0, 4294967295))
    return _RAND_CONSTANT[0]


def _t_transform(a: Args) -> str:
    # FunctionsTransform.h:53 — value remap with default (4-arg) or
    # pass-through (3-arg).
    default = a[3] if len(a) == 4 else a[0]
    return f"coalesce(element_at(map_from_arrays({a[1]}, {a[2]}), {a[0]}), {default})"


def _t_extract(a: Args) -> str:
    # CH extract: first capture group if the pattern has one, else the
    # whole match (FunctionsStringSearch.cpp).  Inspect literal patterns.
    idx = "1" if len(a) > 1 and _literal_has_group(a[1]) else "0"
    return f"regexp_extract({a[0]}, {a[1]}, {idx})"


def _t_extract_all(a: Args) -> str:
    idx = "1" if len(a) > 1 and _literal_has_group(a[1]) else "0"
    return f"regexp_extract_all({a[0]}, {a[1]}, {idx})"


def _literal_has_group(pat: str) -> bool:
    if not (pat.startswith("'") and pat.endswith("'")):
        return False
    body = pat[1:-1]
    i = 0
    while i < len(body):
        if body[i] == "\\":
            i += 2
            continue
        if body[i] == "(" and not body[i : i + 3] == "(?:":
            return True
        i += 1
    return False


def _t_replace_one(a: Args) -> str:
    s, f, r = a
    return (
        f"(CASE WHEN locate({f}, {s}) > 0 THEN concat(substr({s}, 1, locate({f}, {s}) - 1), "
        f"{r}, substr({s}, locate({f}, {s}) + length({f}))) ELSE {s} END)"
    )


def _t_split_by_char(a: Args) -> str:
    return f"split({a[1]}, concat('\\\\Q', {a[0]}, '\\\\E'))"


def _sql_let(value: str, var: str, body: str) -> str:
    """Bind a scalar once (same trick as sql_udfs._let)."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _sql_u64_bigint(v: str) -> str:
    """UInt64-typed value (BIGINT or DECIMAL(20,0) literal) → the
    two's-complement BIGINT holding the same 64 bits (bit ops in Spark
    work on BIGINT only)."""
    d = f"CAST({v} AS DECIMAL(21, 0))"
    return (
        f"CAST({d} - (CASE WHEN {d} > 9223372036854775807 "
        f"THEN CAST(18446744073709551616 AS DECIMAL(21, 0)) ELSE 0 END) AS BIGINT)"
    )


def _sql_bit_rotate(a: Args, left: bool) -> str:
    """bitRotateLeft/Right on the 64-bit pattern
    (FunctionsArithmetic.h BitRotate*Impl rotates at register width)."""
    n = f"(({a[1]}) % 64)"
    if left:
        body = f"(shiftleft(__x, {n}) | shiftrightunsigned(__x, (64 - {n}) % 64))"
    else:
        body = f"(shiftrightunsigned(__x, {n}) | shiftleft(__x, (64 - {n}) % 64))"
    return _sql_let(_sql_u64_bigint(a[0]), "__x", body)


def _sql_hex(x: str) -> str:
    """CH hex() prints whole bytes: pad Spark's minimal-digit integer
    hex to even length (FunctionsCoding.cpp hex of integers skips
    leading zero BYTES but keeps two digits per byte)."""
    return _sql_let(
        f"hex({x})",
        "__h",
        "if(length(__h) % 2 = 1, concat('0', __h), __h)",
    )


def _sql_fss_host(u: str) -> str:
    """Host for firstSignificantSubdomain: ExtractDomain<true> (strips
    one leading 'www.'), then one trailing dot cut
    (FunctionsURL.h ExtractFirstSignificantSubdomain)."""
    # exact getURLHost (FunctionsURL.h:87-117): scheme '://' then host
    # up to [:/?#], '@' resets the start — parse_url is stricter and
    # rejects empty labels / non-ASCII hosts the reference accepts
    raw = (
        f"regexp_extract({u}, "
        "'^[A-Za-z][A-Za-z0-9+.\\\\-]*://(?:[^:/?#]*@)?([^:/?#]*)', 1)"
    )
    host = f"regexp_replace({raw}, '^www\\\\.', '')"
    return _sql_let(
        host,
        "__h0",
        "if(endswith(__h0, '.'), left(__h0, length(__h0) - 1), __h0)",
    )


_FSS_CASE = (
    "(CASE WHEN __h = '' THEN '' "
    "WHEN __n <= 1 THEN __h "
    "WHEN __n = 2 THEN element_at(__p, 1) "
    "WHEN element_at(__p, __n - 1) IN ('com', 'net', 'org', 'co') "
    "THEN element_at(__p, __n - 2) "
    "ELSE element_at(__p, __n - 1) END)"
)

_CUT_FSS_CASE = (
    "(CASE WHEN __h = '' THEN '' "
    "WHEN __n <= 2 THEN __h "
    "WHEN element_at(__p, __n - 1) IN ('com', 'net', 'org', 'co') "
    "THEN array_join(slice(__p, __n - 2, 3), '.') "
    "ELSE array_join(slice(__p, __n - 1, 2), '.') END)"
)


def _sql_fss(u: str, case: str) -> str:
    """Label-precise firstSignificantSubdomain / cutToFirstSignificant-
    Subdomain (FunctionsURL.h:153-240: last-3-dots scan; the label
    before the TLD wins unless it is com/net/org/co, then the one
    before that)."""
    return _sql_let(
        _sql_fss_host(u),
        "__h",
        _sql_let(
            "split(__h, '\\\\.')",
            "__p",
            _sql_let("size(__p)", "__n", case),
        ),
    )


def _sql_url_params_tail(u: str) -> str:
    """Substring after the first '?' or '#' (NULL when neither exists)
    — the scan start of the URL-parameter family (FunctionsURL.h:554)."""
    q = f"locate('?', {u})"
    h = f"locate('#', {u})"
    first = (
        f"(CASE WHEN {q} = 0 THEN {h} WHEN {h} = 0 THEN {q} "
        f"ELSE least({q}, {h}) END)"
    )
    return f"(CASE WHEN {q} = 0 AND {h} = 0 THEN NULL ELSE substr({u}, {first} + 1) END)"


def _sql_extract_url_params(u: str, names: bool) -> str:
    """extractURLParameters / extractURLParameterNames — exact port of
    FunctionsURL.h:554-712: pieces split on [&#]; a '?' before the
    first '=' restarts the token; the trailing piece is emitted only
    when it still contains '='."""
    strip = "regexp_replace(__e, '^([^=?]*[?])+', '')"
    if names:
        tok = f"regexp_extract({strip}, '^([^=]*)', 1)"
    else:
        tok = strip
    pieces = f"split(coalesce({_sql_url_params_tail(u)}, ''), '[&#]')"
    return _sql_let(
        pieces,
        "__ps",
        _sql_let(
            "size(__ps)",
            "__n",
            "transform(concat(slice(__ps, 1, __n - 1), "
            "filter(slice(__ps, __n, 1), __t -> instr(__t, '=') > 0)), "
            f"__e -> {tok})",
        ),
    )


def _sql_extract_url_param(a: Args) -> str:
    """extractURLParameter(URL, name): first occurrence of 'name='
    preceded by [?#&] after the first [?#]; value runs to the next
    [&#] (FunctionsURL.h ExtractURLParameterImpl — non-boundary
    occurrences are skipped, not fatal)."""
    u, name = a[0], a[1]
    q = f"locate('?', {u})"
    h = f"locate('#', {u})"
    first = (
        f"(CASE WHEN {q} = 0 THEN {h} WHEN {h} = 0 THEN {q} "
        f"ELSE least({q}, {h}) END)"
    )
    tail = f"(CASE WHEN {q} = 0 AND {h} = 0 THEN '' ELSE substr({u}, {first}) END)"
    return (
        f"regexp_extract({tail}, "
        f"concat('[?#&]', {name}, '=([^&#]*)'), 1)"
    )


def _sql_cut_url_param(a: Args) -> str:
    """cutURLParameter — exact port of FunctionsURL.h:484-540: cut
    [name= .. value] plus the trailing '&' if present, else the
    leading '&'; no cut when the single strstr hit is not at a [?#&]
    boundary."""
    u, name = a[0], a[1]
    q = f"locate('?', __u)"
    h = f"locate('#', __u)"
    first = (
        f"(CASE WHEN {q} = 0 THEN {h} WHEN {h} = 0 THEN {q} "
        f"ELSE least({q}, {h}) END)"
    )
    body = _sql_let(
        first,
        "__b",
        _sql_let(
            "(CASE WHEN __b = 0 THEN 0 ELSE locate(concat(__nm, '='), __u, __b + 1) END)",
            "__p",
            _sql_let(
                # value start (just past 'name=')
                "(__p + length(__nm) + 1)",
                "__v",
                _sql_let(
                    # 1-based position AFTER the value
                    "(CASE WHEN locate('&', __u, __v) > 0 AND "
                    "(locate('#', __u, __v) = 0 OR locate('&', __u, __v) < locate('#', __u, __v)) "
                    "THEN locate('&', __u, __v) "
                    "WHEN locate('#', __u, __v) > 0 THEN locate('#', __u, __v) "
                    "ELSE length(__u) + 1 END)",
                    "__e",
                    "(CASE WHEN __p = 0 OR substr(__u, __p - 1, 1) NOT IN ('?', '#', '&') THEN __u "
                    "WHEN substr(__u, __e, 1) = '&' THEN concat(left(__u, __p - 1), substr(__u, __e + 1)) "
                    "WHEN substr(__u, __p - 1, 1) = '&' THEN concat(left(__u, __p - 2), substr(__u, __e)) "
                    "ELSE concat(left(__u, __p - 1), substr(__u, __e)) END)",
                ),
            ),
        ),
    )
    return _sql_let(u, "__u", _sql_let(name, "__nm", body))


def _sql_byte_position(h: str, n: str) -> str:
    """Byte offset of the first match: char position via locate, then
    the byte length of the preceding prefix (PositionImpl works on raw
    bytes — 'абв' finds 'бв' at 3, not 2)."""
    return _sql_let(
        h,
        "__h",
        _sql_let(
            f"locate({n}, __h)",
            "__p",
            "(CASE WHEN __p <= 1 THEN __p "
            "ELSE octet_length(left(__h, __p - 1)) + 1 END)",
        ),
    )


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _sql_ascii_lower(x: str) -> str:
    return f"translate({x}, '{_ASCII_UPPER}', '{_ASCII_UPPER.lower()}')"


def _sql_rev_hex_pairs(h: str) -> str:
    """Byte-reverse a hex string (pairs of digits) — little-endian
    reinterpretation helper."""
    return (
        f"array_join(reverse(transform(sequence(1, length({h}) DIV 2), "
        f"__i -> substr({h}, __i * 2 - 1, 2))), '')"
    )


def _sql_reinterpret_uint(x: str, nbytes: int) -> str:
    """reinterpretAsUInt8/16/32/64(str): little-endian bytes → integer
    (FunctionsReinterpret.cpp reinterpretAsSomething over String).
    ``left(hex(x), 2n)`` takes the first n BYTES of the UTF-8 encoding
    — ``hex(left(x, n))`` would count characters, so multibyte input
    would reinterpret the wrong bytes."""
    le = _sql_rev_hex_pairs("__rh")
    return _sql_let(
        f"left(hex({x}), {nbytes * 2})",
        "__rh",
        f"coalesce(CAST(conv({le}, 16, 10) AS DECIMAL(20, 0)), 0)"
        if nbytes == 8
        else f"coalesce(CAST(conv({le}, 16, 10) AS BIGINT), 0)",
    )


def _sql_reinterpret_f64(x: str) -> str:
    """reinterpretAsFloat64(str): IEEE-754 decode of the 8 little-endian
    bytes, built from exact power-of-two arithmetic (each step is
    exactly representable, so the result is bit-exact)."""
    le = _sql_rev_hex_pairs("__rh")
    unsigned = f"CAST(conv({le}, 16, 10) AS DECIMAL(20, 0))"
    bits = (
        f"CAST({unsigned} - (CASE WHEN {unsigned} > 9223372036854775807 "
        f"THEN CAST(18446744073709551616 AS DECIMAL(21, 0)) ELSE 0 END) AS BIGINT)"
    )
    decode = (
        "((CASE WHEN __bt < 0 THEN -1.0 ELSE 1.0 END) * "
        "(CASE WHEN ((shiftright(__bt, 52) & 2047)) = 2047 THEN "
        "  (CASE WHEN (__bt & 4503599627370495) = 0 THEN CAST('Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) "
        "WHEN ((shiftright(__bt, 52) & 2047)) = 0 THEN "
        "  (__bt & 4503599627370495) * power(2, -1074) "
        "ELSE (1.0 + (__bt & 4503599627370495) / 4503599627370496.0) * "
        "  power(2, ((shiftright(__bt, 52) & 2047)) - 1023) END))"
    )
    return _sql_let(
        f"left(hex({x}), 16)", "__rh", _sql_let(bits, "__bt", decode)
    )


def _sql_reinterpret_f32(x: str) -> str:
    """reinterpretAsFloat32(str): IEEE-754 binary32 decode of the 4
    little-endian bytes (sign bit 31, 8 exponent bits bias 127, 23
    mantissa bits, denormals at 2^-149) — exact power-of-two steps."""
    le = _sql_rev_hex_pairs("__rh")
    bits = f"CAST(conv({le}, 16, 10) AS BIGINT)"
    decode = (
        "CAST(((CASE WHEN (shiftright(__bt, 31) & 1) = 1 THEN -1.0 ELSE 1.0 END) * "
        "(CASE WHEN ((shiftright(__bt, 23) & 255)) = 255 THEN "
        "  (CASE WHEN (__bt & 8388607) = 0 THEN CAST('Infinity' AS DOUBLE) ELSE CAST('NaN' AS DOUBLE) END) "
        "WHEN ((shiftright(__bt, 23) & 255)) = 0 THEN "
        "  (__bt & 8388607) * power(2, -149) "
        "ELSE (1.0 + (__bt & 8388607) / 8388608.0) * "
        "  power(2, ((shiftright(__bt, 23) & 255)) - 127) END)) AS FLOAT)"
    )
    return _sql_let(
        f"left(hex({x}), 8)", "__rh", _sql_let(bits, "__bt", decode)
    )


def _sql_url_hierarchy(u: str) -> str:
    """SQL twin of functions/url.py:URLHierarchy — proto://host, then
    cumulatively longer path prefixes."""
    host = "concat(parse_url(__u, 'PROTOCOL'), '://', parse_url(__u, 'HOST'))"
    segs = "split(parse_url(__u, 'PATH'), '/')"
    return _sql_let(
        u,
        "__u",
        f"filter(transform(sequence(0, size({segs}) - 1), "
        f"__i -> (CASE WHEN __i = 0 THEN {host} "
        f"ELSE concat({host}, array_join(slice({segs}, 1, __i + 1), '/')) END)), "
        "__h -> __h IS NOT NULL AND __h <> '://')",
    )


def _sql_erf(x: str) -> str:
    """SQL twin of functions/math_fns.py:erf (A-S 7.1.26)."""
    ax = f"abs(CAST({x} AS DOUBLE))"
    poly = (
        "(__t * 0.254829592d + __t * __t * -0.284496736d "
        "+ __t * __t * __t * 1.421413741d "
        "+ __t * __t * __t * __t * -1.453152027d "
        "+ __t * __t * __t * __t * __t * 1.061405429d)"
    )
    body = _sql_let(
        f"1.0d / (1.0d + 0.3275911d * __ax)",
        "__t",
        f"1.0d - {poly} * exp(-__ax * __ax)",
    )
    return _sql_let(
        ax, "__ax", f"(CASE WHEN CAST({x} AS DOUBLE) < 0 THEN -({body}) ELSE ({body}) END)"
    )


def _sql_ieee_log(fn: str, x: str) -> str:
    # NULL input must stay NULL (Nullable propagation), not fall
    # through the CASE arms to the ELSE-NaN negative branch
    return (
        f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN ({x}) > 0 THEN {fn}({x}) "
        f"WHEN ({x}) = 0 THEN CAST('-Infinity' AS DOUBLE) "
        f"ELSE CAST('NaN' AS DOUBLE) END)"
    )


def _sql_lgamma(x: str) -> str:
    """SQL twin of functions/math_fns.py:lgamma (Lanczos g=7, n=9)."""
    coeffs = [
        676.5203681218851, -1259.1392167224028, 771.32342877765313,
        -176.61502916214059, 12.507343278686905, -0.13857109526572012,
        9.9843695780195716e-6, 1.5056327351493116e-7,
    ]
    acc = "0.99999999999980993d" + "".join(
        f" + {c!r}d / (__z + {float(i + 1)}d)" for i, c in enumerate(coeffs)
    )
    half_log_2pi = 0.9189385332046727
    return _sql_let(
        f"CAST({x} AS DOUBLE) - 1.0d",
        "__z",
        f"({half_log_2pi}d + (__z + 0.5d) * ln(__z + 7.5d) "
        f"- (__z + 7.5d) + ln({acc}))",
    )


def _timing_quantile(
    x: str, levels: list[str], force_array: bool = False
) -> str:
    """quantileTiming exact emulation (AggregateFunctionQuantileTiming.h)
    via the ch_timing_quantiles Arrow UDF (dialect/reservoir.py):
    tiny/medium states (<= 5672 values) are exact sorted elements at
    floor(count * level); beyond that the reference switches to the
    Large histogram — exact below 1024, 16ms buckets with the
    intHash32<0> de-evening offset up to 30000 (golden 00332)."""
    arr = (
        f"ch_timing_quantiles(collect_list(CAST({x} AS BIGINT)), "
        f"array({', '.join(levels)}))"
    )
    if len(levels) == 1 and not force_array:
        return f"element_at({arr}, 1)"
    return arr


def _timing_weighted_q(
    x: str, w: str, levels: list[str], force_array: bool = False
) -> str:
    """quantileTimingWeighted (AggregateFunctionQuantileTiming.h
    insertWeighted + get): each value counts `weight` times in the
    sorted multiset; position = floor(count * level) (count - 1 at
    level 1); values clamp at BIG_THRESHOLD = 30000; empty (all-zero
    weights) yields NaN (getFloat)."""
    pairs = (
        f"array_sort(collect_list(IF(CAST({w} AS BIGINT) > 0, "
        f"named_struct('v', least(CAST({x} AS BIGINT), 30000), "
        f"'w', CAST({w} AS BIGINT)), NULL)))"
    )

    def one(ps: str, p: str) -> str:
        n = f"aggregate({ps}, CAST(0 AS BIGINT), (__qa, __qe) -> __qa + __qe.w)"
        th = (
            f"(CASE WHEN ({p}) < 1 THEN CAST(floor({n} * ({p})) AS BIGINT) + 1 "
            f"ELSE {n} END)"
        )
        sel = (
            f"aggregate({ps}, "
            f"named_struct('a', CAST(0 AS BIGINT), "
            f"'r', element_at({ps}, 1).v, 'f', false), "
            f"(__ac, __qe) -> IF(__ac.f, __ac, "
            f"named_struct('a', __ac.a + __qe.w, 'r', __qe.v, "
            f"'f', __ac.a + __qe.w >= {th})), "
            f"__ac -> __ac.r)"
        )
        return (
            f"(CASE WHEN size({ps}) = 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE CAST({sel} AS DOUBLE) END)"
        )

    if len(levels) == 1 and not force_array:
        return _sql_let(pairs, "__qp", one("__qp", levels[0]))
    body = "array(" + ", ".join(one("__qp", p) for p in levels) + ")"
    return _sql_let(pairs, "__qp", body)


def _ch_type_name(typeof_sql: str) -> str:
    """Map Spark's typeof() text to the reference's type names
    (toTypeName, DataTypeFactory registrations) at run time, through
    the one Spark→CH map (``sources.formats.SPARK_TO_CH``).
    Longest-first replacements so 'bigint' rewrites before 'int'."""
    from ..sources.formats import SPARK_TO_CH

    t = typeof_sql
    pairs = sorted(SPARK_TO_CH.items(), key=lambda kv: -len(kv[0]))
    for frm, to in [("array<", "Array("), (">", ")"), *pairs]:
        t = f"replace({t}, '{frm}', '{to}')"
    return t


def _t_uniq(a: Args) -> str:
    # rsd pinned to the reference's 2^12-register HLL error profile
    # (1.04/sqrt(2^12) ~= 0.016, AggregateFunctionUniq.h) — see
    # functions/aggregates.py UNIQ_HLL12_RSD
    from ..functions.aggregates import UNIQ_HLL12_RSD

    if len(a) == 1:
        return f"approx_count_distinct({a[0]}, {UNIQ_HLL12_RSD!r})"
    ns = ", ".join(f"'col{k + 1}', {x}" for k, x in enumerate(a))
    return f"approx_count_distinct(named_struct({ns}), {UNIQ_HLL12_RSD!r})"


def _t_replace_regexp_one(a: Args) -> str:
    """replaceRegexpOne (FunctionsStringSearch.cpp, replace_one=true):
    Spark's regexp_replace is replace-all, so the first-match-only form
    appends a ``(.*)$`` group that swallows the rest of the string (one
    match possible), re-emitting it via the extra backreference.  Needs
    literal pattern/replacement to count capture groups; non-literal
    args fall back to replace-all."""
    s, p, r = a[0], a[1].strip(), a[2].strip()
    if not (p.startswith("'") and p.endswith("'") and r.startswith("'") and r.endswith("'")):
        return f"regexp_replace({s}, {p}, {r})"
    pat, rep = p[1:-1], r[1:-1]
    ngroups = len(re.findall(r"(?<!\\)\((?!\?)", pat))
    # CH/re2 backrefs \1..\9 and \0 (whole match) → Java $N
    rep2 = re.sub(r"\\\\(\d)", r"$\1", rep)
    return (
        f"regexp_replace({s}, '(?s){pat}(.*)$', "
        f"'{rep2}${ngroups + 1}')"
    )


def _t_ipv4_num_to_string(a: Args) -> str:
    x = a[0]
    return (
        f"concat_ws('.', CAST(({x} DIV 16777216) % 256 AS STRING), "
        f"CAST(({x} DIV 65536) % 256 AS STRING), "
        f"CAST(({x} DIV 256) % 256 AS STRING), CAST({x} % 256 AS STRING))"
    )


def _t_ipv4_string_to_num(a: Args) -> str:
    # malformed input -> 0, matching the reference's type-default
    # behavior (FunctionsCoding.cpp IPv4StringToNum)
    s = a[0]
    return (
        f"coalesce(CAST(split({s}, '\\\\.')[0] AS BIGINT) * 16777216 + "
        f"CAST(split({s}, '\\\\.')[1] AS BIGINT) * 65536 + "
        f"CAST(split({s}, '\\\\.')[2] AS BIGINT) * 256 + "
        f"CAST(split({s}, '\\\\.')[3] AS BIGINT), CAST(0 AS BIGINT))"
    )


def _float_parse(x: str, sql_type: str) -> str:
    """strtod inf/nan spellings (readFloatText): case-insensitive
    inf/infinity/nan with optional sign — Spark's string cast only
    accepts 'Infinity'/'NaN' exactly."""
    low = f"lower(trim({x}))"
    return (
        f"(CASE WHEN {low} IN ('inf', '+inf', 'infinity', '+infinity') "
        f"THEN CAST('Infinity' AS {sql_type}) "
        f"WHEN {low} IN ('-inf', '-infinity') "
        f"THEN CAST('-Infinity' AS {sql_type}) "
        f"WHEN {low} IN ('nan', '+nan', '-nan') "
        f"THEN CAST('NaN' AS {sql_type}) "
        f"ELSE CAST({x} AS {sql_type}) END)"
    )


def _float_cast_tpl(sql_type: str) -> Callable[[Args], str]:
    return lambda a: _float_parse(a[0], sql_type)


def _float_cast_or_zero_tpl(sql_type: str) -> Callable[[Args], str]:
    return lambda a: (
        f"coalesce({_float_parse(a[0], sql_type)}, CAST(0 AS {sql_type}))"
    )


def _int_cast_tpl(sql_type: str) -> Callable[[Args], str]:
    """toUInt*/toInt* are Date-polymorphic in the reference
    (FunctionsConversion.cpp): toUInt16(Date) = raw days-since-epoch
    (DataTypeDate is UInt16 days).  Spark's DATE→INT cast is NULL, so
    fall back to unix_date via a string round-trip on NULL."""
    def t(a: Args) -> str:
        x = a[0]
        return (
            f"coalesce(CAST({x} AS {sql_type}), "
            f"CAST(unix_date(try_cast(try_cast({x} AS STRING) AS DATE)) "
            f"AS {sql_type}))"
        )

    return t


def _tz_ts(a: Args) -> str:
    """Timestamp expr, shifted into the optional tz argument (session
    timezone is UTC; FunctionsDateTime.cpp passes a DateLUT per zone)."""
    ts = f"CAST({a[0]} AS TIMESTAMP)"
    if len(a) > 1:
        return f"convert_timezone('UTC', {a[1]}, {ts})"
    return ts


def _tz_part(fn: str) -> Callable[[Args], str]:
    return lambda a: f"{fn}({_tz_ts(a)})"


def _tz_local_date(body: Callable[[str], str]) -> Callable[[Args], str]:
    """Date-valued functions (toMonday/toStartOfMonth/...) operate on
    the LOCAL calendar date of the optional-tz argument (DateLUT keeps
    one lut per zone)."""
    return lambda a: body(f"CAST({_tz_ts(a)} AS DATE)")




def _t_to_date(a: Args) -> str:
    """toDate is polymorphic (FunctionsConversion.cpp): strings/dates/
    datetimes cast; integer literals are unix seconds when > 65535,
    days-since-epoch otherwise (DataTypeDate is UInt16 days)."""
    if len(a) == 2:
        return f"CAST(convert_timezone('UTC', {a[1]}, CAST({a[0]} AS TIMESTAMP)) AS DATE)"
    arg = a[0].strip()
    if re.fullmatch(r"\d+", arg):
        if int(arg) > 65535:
            return f"CAST(CAST({arg} AS TIMESTAMP) AS DATE)"
        return f"date_add(DATE'1970-01-01', {arg})"
    if re.fullmatch(r"'[^']*'", arg):
        return f"CAST({a[0]} AS DATE)"
    # non-literal argument: runtime-polymorphic via a string round-trip.
    # Numeric values FIRST (a numeric string would otherwise cast to a
    # year): days-since-epoch when <= 65535 (DataTypeDate UInt16), unix
    # seconds above; non-numeric falls back to the date/datetime cast.
    s = f"try_cast({a[0]} AS STRING)"
    n = f"try_cast({s} AS BIGINT)"
    return (
        f"if({n} IS NOT NULL, "
        f"if({n} > 65535, CAST(timestamp_seconds({n}) AS DATE), "
        f"date_from_unix_date(CAST({n} AS INT))), "
        f"try_cast({s} AS DATE))"
    )


def _cast_or_zero_tpl(sql_type: str) -> Callable[[Args], str]:
    # ANSI off: bad casts yield NULL; reference's *OrZero yields 0.
    return lambda a: f"coalesce(CAST({a[0]} AS {sql_type}), CAST(0 AS {sql_type}))"


def _t_round_scale(fn: str) -> Callable[[Args], str]:
    """round/ceil/floor with an optional scale.  Spark requires a
    foldable scale literal; the reference accepts any expression
    (FunctionsRound.cpp), so a non-literal scale falls back to the
    power-of-ten arithmetic form."""

    def tpl(a: Args) -> str:
        if len(a) == 1:
            return f"{fn}({a[0]})"
        s = a[1].strip()
        if re.fullmatch(r"-?\d+", s):
            if fn in ("ceil", "floor"):
                # Spark's scaled ceil/floor return DECIMAL whose text
                # keeps trailing zeros; the reference stays Float64
                # (writeFloatText shortest form)
                return f"CAST({fn}({a[0]}, {s}) AS DOUBLE)"
            if fn == "bround" and 0 < int(s) <= 22:
                # FloatRoundingComputation<Float64, PositiveScale>
                # (FunctionsRound.h:450): val*10^s, _mm_round_pd
                # nearest-even, /10^s — ALL in double arithmetic.
                # Spark's bround(x, s) does true decimal rounding via
                # BigDecimal, which lands on a different neighboring
                # double once x*10^s exceeds 2^53 (e.g.
                # round(exp(26), 6), golden 00232).  10^s is exactly
                # representable as a double for s <= 22.
                p = f"CAST(1e{int(s)} AS DOUBLE)"
                return f"(bround(CAST({a[0]} AS DOUBLE) * {p}) / {p})"
            return f"{fn}({a[0]}, {s})"
        # the reference truncates a fractional scale to its integer part
        # (FunctionsRound.cpp reads the scale as Int64)
        return (
            f"({fn}(({a[0]}) * power(10, CAST({s} AS INT))) "
            f"/ power(10, CAST({s} AS INT)))"
        )

    return tpl


def _exact_weighted_q(
    x: str, w: str, levels: list[str], as_array: bool = False
) -> str:
    """quantile(s)ExactWeighted
    (AggregateFunctionQuantileExactWeighted.h insertResultInto): sort
    pairs by value, threshold = ceil(sum_weight * level), walk
    accumulating until accumulated >= threshold.  Result keeps the
    argument type; empty set yields the type default 0."""
    # NULL in either argument skips the row (AggregateFunctionNull);
    # no surviving rows -> NULL result
    pairs = (
        f"array_sort(collect_list(IF(({x}) IS NOT NULL "
        f"AND ({w}) IS NOT NULL, named_struct("
        f"'v', {x}, 'w', CAST({w} AS BIGINT)), NULL)))"
    )

    def one(ps: str, p: str) -> str:
        th = (
            f"CAST(ceil(aggregate({ps}, CAST(0 AS BIGINT), "
            f"(__qa, __qe) -> __qa + __qe.w) * ({p})) AS BIGINT)"
        )
        return (
            f"aggregate({ps}, "
            f"named_struct('a', CAST(0 AS BIGINT), "
            f"'r', element_at({ps}, 1).v, 'f', false), "
            f"(__ac, __qe) -> IF(__ac.f, __ac, "
            f"named_struct('a', __ac.a + __qe.w, 'r', __qe.v, "
            f"'f', __ac.a + __qe.w >= {th})), "
            f"__ac -> __ac.r)"
        )

    if as_array:
        body = "array(" + ", ".join(one("__qp", p) for p in levels) + ")"
    else:
        body = one("__qp", levels[0])
    return _sql_let(pairs, "__qp", body)


_DURATION_BUCKETS = [1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000]


def _t_round_duration(a: Args) -> str:
    x = a[0]
    return _case_ladder(
        x,
        [(f"{x} >= {lo}", str(lo)) for lo in reversed(_DURATION_BUCKETS)],
        "0",
    )


def _t_round_age(a: Args) -> str:
    x = a[0]
    return (
        f"(CASE WHEN {x} < 1 THEN 0 WHEN {x} < 18 THEN 17 WHEN {x} < 25 THEN 18 "
        f"WHEN {x} < 35 THEN 25 WHEN {x} < 45 THEN 35 WHEN {x} < 55 THEN 45 ELSE 55 END)"
    )


def _t_sum_map(a: Args) -> str:
    """sumMap(keyArr, valArr): per-key sums over aligned arrays
    (SummingSortedBlockInputStream.cpp nested-map summation).  Same
    formula as functions/aggregates.py sumMap: distinct sorted keys,
    each key's sum folded from the collected (k, v) pairs — keys are
    aggregated BEFORE the map is built, so repeated keys across rows
    sum instead of raising DUPLICATED_MAP_KEY."""
    ks = f"array_sort(array_distinct(flatten(collect_list({a[0]}))))"
    pairs = (
        f"flatten(collect_list(zip_with({a[0]}, {a[1]}, "
        f"(__zk, __zv) -> struct(__zk AS k, CAST(__zv AS DOUBLE) AS v))))"
    )
    return (
        f"map_from_arrays({ks}, transform({ks}, __sk -> "
        f"aggregate({pairs}, CAST(0.0 AS DOUBLE), "
        f"(__acc, __p) -> __acc + IF(__p.k = __sk, __p.v, CAST(0.0 AS DOUBLE)))))"
    )


TEMPLATES: dict[str, Callable[[Args], str]] = {
    "toTypeName": lambda a: _ch_type_name(f"typeof({a[0]})"),
    # aggregates
    "count": lambda a: f"count({', '.join(a) or '*'})",
    "uniqExact": lambda a: f"count(DISTINCT {', '.join(a)})",
    # multi-arg uniq counts distinct tuples (AggregateFunctionUniq.h)
    "uniq": _t_uniq,
    "uniqHLL12": _t_uniq,
    "uniqCombined": _t_uniq,
    # dev variants (AggregateFunctionsUniq.cpp:104-111): exact path in
    # translate._uniq_fn; this approx fallback covers non-key shapes
    "uniqCombinedRaw": _t_uniq,
    "uniqCombinedLinearCounting": _t_uniq,
    "uniqCombinedBiasCorrected": _t_uniq,
    # -State / -Merge combinators — SQL twins of functions/state.py
    # (states are typed columns: plain partials, avg struct, HLL sketch)
    "sumState": lambda a: f"sum({a[0]})",
    "sumMerge": lambda a: f"sum({a[0]})",
    "countState": lambda a: f"count({a[0] if a else '1'})",
    "countMerge": lambda a: f"sum({a[0]})",
    "minState": lambda a: f"min({a[0]})",
    "minMerge": lambda a: f"min({a[0]})",
    "maxState": lambda a: f"max({a[0]})",
    "maxMerge": lambda a: f"max({a[0]})",
    "avgState": lambda a: (
        f"named_struct('sum', sum(CAST({a[0]} AS DOUBLE)), 'cnt', count({a[0]}))"
    ),
    # merging only absent states yields the avg-of-nothing NaN
    # (AggregateFunctionAvg finalize over zero count)
    "avgMerge": lambda a: (
        f"coalesce((sum({a[0]}.sum) / sum({a[0]}.cnt)), CAST('NaN' AS DOUBLE))"
    ),
    # lgConfigK=14: exact for small sets like the reference's
    # HyperLogLogWithSmallSetOptimization (AggregateFunctionUniq.h)
    "uniqState": lambda a: f"hll_sketch_agg({a[0]}, 14)",
    "uniqMerge": lambda a: f"hll_sketch_estimate(hll_union_agg({a[0]}))",
    # -MergeState (AggregateFunctionMerge + State chain,
    # AggregateFunctionFactory.cpp:51-55): merge the states, keep the
    # result AS a state (finalizeAggregation then estimates)
    "uniqMergeState": lambda a: f"hll_union_agg({a[0]})",
    "sumMergeState": lambda a: f"sum({a[0]})",
    "countMergeState": lambda a: f"sum({a[0]})",
    "minMergeState": lambda a: f"min({a[0]})",
    "maxMergeState": lambda a: f"max({a[0]})",
    "groupArrayMergeState": lambda a: f"flatten(collect_list({a[0]}))",
    "groupArrayState": lambda a: f"collect_list({a[0]})",
    "groupArrayMerge": lambda a: f"flatten(collect_list({a[0]}))",
    "groupUniqArrayState": lambda a: f"collect_set({a[0]})",
    "groupUniqArrayMerge": lambda a: (
        f"array_distinct(flatten(collect_list({a[0]})))"
    ),
    "groupUniqArrayMergeState": lambda a: (
        f"array_distinct(flatten(collect_list({a[0]})))"
    ),
    "anyState": lambda a: f"first({a[0]})",
    "anyMerge": lambda a: f"first({a[0]})",
    "anyLastState": lambda a: f"last({a[0]})",
    "anyLastMerge": lambda a: f"last({a[0]})",
    # anyIf: first value where cond held; a no-match group's state is
    # NULL and merges away under ignoreNulls
    "anyIfState": lambda a: f"first(IF({a[1]}, {a[0]}, NULL), true)",
    "anyIfMerge": lambda a: f"first({a[0]}, true)",
    "median": lambda a: (
        f"element_at(ch_rsv_quantiles(collect_list(CAST({a[0]} AS DOUBLE)), "
        f"array(0.5)), 1)"
    ),
    # median* aliases = quantile*(0.5) (AggregateFunctionFactory
    # registers median as an alias per quantile family)
    "medianTiming": lambda a: _timing_quantile(a[0], ["0.5"]),
    "medianTimingWeighted": lambda a: _timing_weighted_q(
        a[0], a[1], ["0.5"]
    ),
    "medianExact": lambda a: _exact_q_nth(a[0], ["0.5"], False),
    "medianExactWeighted": lambda a: _exact_weighted_q(a[0], a[1], ["0.5"]),
    "medianDeterministic": lambda a: f"percentile_approx({a[0]}, 0.5)",
    # median = alias of quantile(0.5) per family (AggregateFunction-
    # Factory registers one alias per quantile family)
    "medianTDigest": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "medianTDigestWeighted": lambda a: (
        f"percentile({a[0]}, 0.5, CAST({a[1]} AS BIGINT))"
    ),
    "quantile": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "quantileExact": lambda a: _exact_q_nth(a[0], ["0.5"], False),
    "sumMap": _t_sum_map,
    # arithmetic (FunctionsArithmetic.cpp)
    "plus": lambda a: f"(({a[0]}) + ({a[1]}))",
    "minus": lambda a: f"(({a[0]}) - ({a[1]}))",
    "multiply": lambda a: f"(({a[0]}) * ({a[1]}))",
    "divide": lambda a: f"(({a[0]}) / ({a[1]}))",
    # DIV via DECIMAL operands: accepts the reference's float operands
    # (intDiv(10.0, 4) = 2, C++ integral division semantics) — Spark's
    # DIV rejects DOUBLE but divides DECIMALs to a truncated BIGINT
    "intDiv": lambda a: (
        f"(CAST(({a[0]}) AS DECIMAL(38, 10)) DIV "
        f"CAST(({a[1]}) AS DECIMAL(38, 10)))"
    ),
    "intDivOrZero": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE "
        f"CAST(({a[0]}) AS DECIMAL(38, 10)) DIV "
        f"CAST(({a[1]}) AS DECIMAL(38, 10)) END)"
    ),
    "modulo": lambda a: f"(({a[0]}) % ({a[1]}))",
    "negate": lambda a: f"(- ({a[0]}))",
    "bitAnd": lambda a: f"({a[0]} & {a[1]})",
    "bitOr": lambda a: f"({a[0]} | {a[1]})",
    "bitXor": lambda a: f"({a[0]} ^ {a[1]})",
    "bitNot": lambda a: f"(~ {a[0]})",
    "bitShiftLeft": lambda a: f"shiftleft({a[0]}, {a[1]})",
    "bitShiftRight": lambda a: f"shiftright({a[0]}, {a[1]})",
    "bitTest": lambda a: f"((shiftright({a[0]}, {a[1]}) & 1))",
    "bitRotateLeft": lambda a: _sql_bit_rotate(a, left=True),
    "bitRotateRight": lambda a: _sql_bit_rotate(a, left=False),
    "hex": lambda a: _sql_hex(a[0]),
    # zero args → NULL (FunctionsNull.cpp Coalesce accepts arity 0)
    "coalesce": lambda a: f"coalesce({', '.join(a)})" if a else "NULL",
    # geo (FunctionsGeo.cpp pointInEllipses: OR over ((x-x0)/a)^2 +
    # ((y-y0)/b)^2 <= 1)
    "pointInEllipses": lambda a: (
        "("
        + " OR ".join(
            f"(power(({a[0]}) - ({a[2 + 4 * i]}), 2) / power({a[4 + 4 * i]}, 2) + "
            f"power(({a[1]}) - ({a[3 + 4 * i]}), 2) / power({a[5 + 4 * i]}, 2) <= 1)"
            for i in range((len(a) - 2) // 4)
        )
        + ")"
    ),
    # reinterpret (FunctionsReinterpret.cpp): little-endian byte views
    "reinterpretAsUInt8": lambda a: _sql_reinterpret_uint(a[0], 1),
    "reinterpretAsUInt16": lambda a: _sql_reinterpret_uint(a[0], 2),
    "reinterpretAsUInt32": lambda a: _sql_reinterpret_uint(a[0], 4),
    "reinterpretAsUInt64": lambda a: _sql_reinterpret_uint(a[0], 8),
    "reinterpretAsInt8": lambda a: _sql_reinterpret_uint(a[0], 1),
    "reinterpretAsInt16": lambda a: _sql_reinterpret_uint(a[0], 2),
    "reinterpretAsInt32": lambda a: _sql_reinterpret_uint(a[0], 4),
    "reinterpretAsInt64": lambda a: _sql_reinterpret_uint(a[0], 8),
    "reinterpretAsFloat64": lambda a: _sql_reinterpret_f64(a[0]),
    "reinterpretAsFloat32": lambda a: _sql_reinterpret_f32(a[0]),
    # reinterpretAsDate/DateTime (FunctionsReinterpret.h: the String
    # reinterpret family — low 2 bytes as epoch days / low 4 as epoch
    # seconds, zero-padded when the string is shorter)
    "reinterpretAsDate": lambda a: (
        f"date_add(DATE '1970-01-01', "
        f"CAST({_sql_reinterpret_uint(a[0], 2)} AS INT))"
    ),
    "reinterpretAsDateTime": lambda a: (
        f"CAST(from_unixtime({_sql_reinterpret_uint(a[0], 4)}) "
        f"AS TIMESTAMP)"
    ),
    # SHA2 family (FunctionsHashing.h FunctionStringHashFixedString):
    # FixedString(28/32) raw digest bytes, same shape as our MD5-binary
    # convention — hex() of it prints the reference's uppercase digest
    "SHA224": lambda a: f"unhex(sha2({a[0]}, 224))",
    "SHA256": lambda a: f"unhex(sha2({a[0]}, 256))",
    # sipHash128 (SipHash.h get128): FixedString(16), bit-exact port
    "sipHash128": lambda a: f"ch_sip128({a[0]})",
    # bitmaskToList (FunctionsFormatting.h writeBitmask): ascending set
    # bits as comma-joined powers of two; bit 63 prints as the signed
    # value, matching writeIntText over a signed T
    "bitmaskToList": lambda a: (
        "array_join(filter(transform(sequence(0, 63), __b -> "
        f"CASE WHEN (shiftrightunsigned(CAST({a[0]} AS BIGINT), __b) & 1) = 1 "
        "THEN (CASE WHEN __b = 63 THEN '-9223372036854775808' "
        "ELSE CAST(shiftleft(CAST(1 AS BIGINT), __b) AS STRING) END) "
        "END), __v -> __v IS NOT NULL), ',')"
    ),
    # URL family stragglers (FunctionsURL.h):
    # queryStringAndFragment<true>: from after the first '?' to the
    # end; else from '#' (kept); else ''
    "queryStringAndFragment": lambda a: _sql_let(
        a[0],
        "__u",
        "(CASE WHEN instr(__u, '?') > 0 THEN substr(__u, instr(__u, '?') + 1) "
        "WHEN instr(__u, '#') > 0 THEN substr(__u, instr(__u, '#')) "
        "ELSE '' END)",
    ),
    # CutSubstringImpl<ExtractQueryStringAndFragment<false>>: drop from
    # the first '?' (or '#') to the end
    "cutQueryStringAndFragment": lambda a: _sql_let(
        a[0],
        "__u",
        "(CASE WHEN instr(__u, '?') > 0 THEN left(__u, instr(__u, '?') - 1) "
        "WHEN instr(__u, '#') > 0 THEN left(__u, instr(__u, '#') - 1) "
        "ELSE __u END)",
    ),
    # URLPathHierarchy (FunctionsURL.h:811): growing prefixes of the
    # path+query+fragment, one per segment, each including its trailing
    # separator; empty array without a {proto}://… prefix.  The
    # protocol scan uses the reference's own STRICT comparisons
    # (*pos > 'a' && < 'z', > '0' && < '9') — chars a,z,0,9 end it.
    "URLPathHierarchy": lambda a: _sql_let(
        f"regexp_extract({a[0]}, '^[b-y1-8]+://[^/?#]*(.*)$', 1)",
        "__rest",
        "(CASE WHEN __rest IS NULL OR __rest = '' THEN array() ELSE "
        "filter(transform(sequence(1, length(__rest)), __i -> "
        "CASE WHEN (__i = length(__rest) "
        "          AND substr(__rest, __i, 1) NOT IN ('/', '?', '#')) "
        "       OR (substr(__rest, __i, 1) IN ('/', '?', '#') AND __i > 1 "
        "          AND substr(__rest, __i - 1, 1) NOT IN ('/', '?', '#')) "
        "THEN left(__rest, __i) END), __t -> __t IS NOT NULL) END)"
    ),
    # timeSlots(t, duration): half-hour slot starts covering
    # [t, t + duration] (FunctionsDateTime.h:796, TIME_SLOT_SIZE 1800)
    "timeSlots": lambda a: (
        f"transform(sequence(CAST(floor(unix_timestamp({a[0]}) / 1800) AS BIGINT), "
        f"CAST(floor((unix_timestamp({a[0]}) + ({a[1]})) / 1800) AS BIGINT)), "
        "__s -> CAST(from_unixtime(__s * 1800) AS TIMESTAMP))"
    ),
    # timezone(): the server timezone — our sessions pin UTC
    "timezone": lambda a: "'UTC'",
    # sleep(n) returns UInt8 0; the timing side effect is a test aid
    # with no bearing on results, so it is a documented no-op here
    "sleep": lambda a: "CAST(0 AS TINYINT)",
    # uptime(): seconds since this engine process loaded (the
    # reference reports seconds since server start — same contract,
    # nondeterministic by design).  Translate-time literal.
    "uptime": lambda a: str(
        max(int(__import__("time").monotonic() - _PROCESS_START), 0)
    ),
    # comparison / logic
    "equals": lambda a: f"({a[0]} = {a[1]})",
    "notEquals": lambda a: f"({a[0]} <> {a[1]})",
    "less": lambda a: f"({a[0]} < {a[1]})",
    "greater": lambda a: f"({a[0]} > {a[1]})",
    "lessOrEquals": lambda a: f"({a[0]} <= {a[1]})",
    "greaterOrEquals": lambda a: f"({a[0]} >= {a[1]})",
    "and": lambda a: f"({' AND '.join(a)})",
    "or": lambda a: f"({' OR '.join(a)})",
    "not": lambda a: f"(NOT {a[0]})",
    "xor": lambda a: f"(({a[0]}) <> ({a[1]}))",
    # strings
    "empty": lambda a: f"(coalesce(length({a[0]}), 0) = 0)",
    "notEmpty": lambda a: f"(coalesce(length({a[0]}), 0) > 0)",
    # position() counts BYTES (FunctionsStringSearch.cpp PositionImpl
    # over the raw byte haystack); positionUTF8 counts code points.
    # The CaseInsensitive (non-UTF8) variant folds ASCII letters only.
    "position": lambda a: _sql_byte_position(a[0], a[1]),
    "positionUTF8": lambda a: f"locate({a[1]}, {a[0]})",
    "positionCaseInsensitive": lambda a: _sql_byte_position(
        _sql_ascii_lower(a[0]), _sql_ascii_lower(a[1])
    ),
    "positionCaseInsensitiveUTF8": lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    # lower/upper fold ASCII bytes only (FunctionsString.cpp LowerUpperImpl);
    # the UTF8 variants (mapped to Spark's lower/upper in SIMPLE) fold Unicode
    "lower": lambda a: _sql_ascii_lower(a[0]),
    "upper": lambda a: (
        f"translate({a[0]}, '{_ASCII_UPPER.lower()}', '{_ASCII_UPPER}')"
    ),
    "replaceRegexpOne": _t_replace_regexp_one,
    # FixedString(N): zero-padded byte string (DataTypeFixedString.h);
    # divergence: rpad truncates instead of erroring when len > N
    "toFixedString": lambda a: f"rpad({a[0]}, {a[1]}, chr(0))",
    # NOT Spark's url_decode: the reference keeps malformed %-sequences
    # verbatim and does not map '+' to space (FunctionsURL.cpp decodeURL)
    "decodeURLComponent": lambda a: f"ch_url_decode({a[0]})",
    # constant-per-query random (FunctionsRandom.cpp randConstant):
    # a scalar subquery evaluates once
    # materialized as a translate-time literal, ONE draw per query: a
    # scalar-subquery rand() (and a per-call literal) re-evaluates per
    # REFERENCE — the ternary guard and arm would draw different
    # values (golden 00223's WHERE number < (randConstant() % 2 ? 5 :
    # 10)).  translate_sql refreshes the draw per statement.
    "randConstant": lambda a: str(_rand_constant()),
    # text width of the value as the Pretty formats print it
    # (FunctionsMiscellaneous.cpp visibleWidth): composites render
    # without spaces, tuples parenthesized — Spark's struct cast gives
    # '{1, 2}' so squeeze ', ' and map braces to parens
    # sample variants return INF below 2 values
    # (AggregateFunctionsStatistics.h VarSampImpl::apply); Spark's
    # var_samp yields NULL there
    "varSamp": lambda a: (
        f"ifnull(var_samp({a[0]}), CAST('Infinity' AS DOUBLE))"
    ),
    "stddevSamp": lambda a: (
        f"ifnull(stddev_samp({a[0]}), CAST('Infinity' AS DOUBLE))"
    ),
    "covarSamp": lambda a: (
        f"ifnull(covar_samp({a[0]}, {a[1]}), CAST('Infinity' AS DOUBLE))"
    ),
    # CorrImpl: count < 2 → inf (Spark's corr gives NULL/NaN there)
    "corr": lambda a: (
        f"(CASE WHEN count({a[0]}) < 2 THEN CAST('Infinity' AS DOUBLE) "
        f"ELSE corr({a[0]}, {a[1]}) END)"
    ),
    # the ", " -> "," squeeze normalizes Spark's composite rendering
    # ([1, 2] -> [1,2]) and must NOT touch plain strings ('a, b' is 4
    # wide); typeof() gates it to array/struct/map values only
    "visibleWidth": lambda a: _sql_let(
        f"CAST({a[0]} AS STRING)",
        "__vw",
        f"(CASE WHEN typeof({a[0]}) RLIKE '^(array|struct|map)' "
        f"THEN length(translate(replace(__vw, ', ', ','), '{{}}', '()')) "
        f"ELSE length(__vw) END)",
    ),
    # little-endian integer bytes up to the first NUL — SQL twin of
    # functions/reinterpret.py:reinterpretAsString (FunctionsReinterpret.cpp)
    # NOTE: built from the hex bytes, NOT char() — Spark's char(n)
    # emits the code POINT (char(208) = 'Ð', two UTF-8 bytes), while
    # the reference emits raw bytes (reinterpretAsString(33232) = 'Ё',
    # bytes D0 81 — golden 00003)
    # returns BINARY so arbitrary bytes survive collect() — the JVM's
    # UTF8String→java.lang.String hop would mangle them to U+FFFD;
    # formats collect strings byte-faithfully (golden 00309)
    "reinterpretAsString": lambda a: _sql_let(
        f"lpad(hex(CAST({a[0]} AS BIGINT)), 16, '0')",
        "__h",
        "unhex(regexp_replace(concat("
        "substr(__h, 15, 2), substr(__h, 13, 2), substr(__h, 11, 2), "
        "substr(__h, 9, 2), substr(__h, 7, 2), substr(__h, 5, 2), "
        "substr(__h, 3, 2), substr(__h, 1, 2)), '(00)+$', ''))",
    ),
    # FunctionsCharset.cpp convertCharset — Arrow UDF over the
    # pure-Python codec layer (functions/charset.py; ICU-parity incl.
    # BOCU-1/SCSU encoders); returns BINARY (the bytes may not be
    # valid UTF-8 — hex()/display handle both)
    "convertCharset": lambda a: f"ch_convert_charset({a[0]}, {a[1]}, {a[2]})",
    "match": lambda a: f"({a[0]} RLIKE {a[1]})",
    "like": lambda a: f"({a[0]} LIKE {a[1]})",
    "notLike": lambda a: f"({a[0]} NOT LIKE {a[1]})",
    "extract": _t_extract,
    "extractAll": _t_extract_all,
    "replaceAll": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    "replaceOne": _t_replace_one,
    "replaceRegexpAll": lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    "splitByChar": _t_split_by_char,
    "splitByString": _t_split_by_char,
    "alphaTokens": lambda a: f"regexp_extract_all({a[0]}, '[A-Za-z]+', 0)",
    # empty input stays empty (FunctionsString.cpp
    # AppendTrailingCharIfAbsent: only non-empty strings are appended)
    "appendTrailingCharIfAbsent": lambda a: (
        f"(CASE WHEN ({a[0]}) = '' OR endswith({a[0]}, {a[1]}) THEN {a[0]} "
        f"ELSE concat({a[0]}, {a[1]}) END)"
    ),
    "toStringCutToZero": lambda a: f"element_at(split({a[0]}, chr(0)), 1)",
    # conditional / null (FunctionsConditional.cpp, FunctionsNull.cpp)
    "multiIf": _t_multi_if,
    # NULL condition yields NULL (FunctionsConditional.cpp Nullable
    # branch), and UInt8 truthiness needs the boolean cast
    "if": lambda a: (
        f"if(({a[0]}) IS NULL, NULL, "
        f"if({_bool(a[0])}, {a[1]}, {a[2]}))"
    ),
    "transform": _t_transform,
    "ifNull": lambda a: f"coalesce({a[0]}, {a[1]})",
    # NOT Spark's nullif: the reference builds multiIf(x = y, NULL, x)
    # and a NULL condition yields NULL — so nullIf(9, NULL) is NULL,
    # where Spark's nullif returns 9 (golden 00395)
    "nullIf": lambda a: (
        f"(CASE WHEN NOT (({a[0]}) = ({a[1]})) THEN ({a[0]}) END)"
    ),
    "isNull": lambda a: f"({a[0]} IS NULL)",
    "isNotNull": lambda a: f"({a[0]} IS NOT NULL)",
    "assumeNotNull": lambda a: a[0],
    "toNullable": lambda a: a[0],
    "isFinite": lambda a: f"(NOT isnan({a[0]}) AND abs({a[0]}) <> double('Infinity'))",
    "isInfinite": lambda a: f"(abs({a[0]}) = double('Infinity'))",
    # rounding (FunctionsRound.cpp)
    # reference rounds half-to-even (FunctionsRound.cpp) → bround
    "round": _t_round_scale("bround"),
    "ceil": _t_round_scale("ceil"),
    "ceiling": _t_round_scale("ceil"),
    "floor": _t_round_scale("floor"),
    # truncate = round toward zero (FunctionsRound.cpp truncate)
    "truncate": lambda a: (
        f"(CAST(({a[0]}) * power(10, {a[1] if len(a) > 1 else 0}) AS BIGINT)"
        f" / power(10, {a[1] if len(a) > 1 else 0}))"
    ),
    "trunc": lambda a: (
        f"(CAST(({a[0]}) * power(10, {a[1] if len(a) > 1 else 0}) AS BIGINT)"
        f" / power(10, {a[1] if len(a) > 1 else 0}))"
    ),
    "roundToExp2": lambda a: (
        f"(CASE WHEN {a[0]} < 1 THEN 0 ELSE CAST(power(2, floor(log2(CAST({a[0]} AS DOUBLE)))) AS BIGINT) END)"
    ),
    "roundDuration": _t_round_duration,
    "roundAge": _t_round_age,
    # conversion (FunctionsConversion.cpp) — unsigned widen by one size
    "toUInt8": _int_cast_tpl("SMALLINT"),
    "toUInt16": _int_cast_tpl("INT"),
    "toUInt32": _int_cast_tpl("BIGINT"),
    # UInt64 literals beyond Int64 range keep full precision as
    # DECIMAL(20,0) (same convention as the UserID64 benchmark column)
    "toUInt64": lambda a: (
        f"CAST({a[0]} AS DECIMAL(20, 0))"
        if a[0].strip().isdigit() and int(a[0].strip()) > 2**63 - 1
        else _int_cast_tpl("BIGINT")(a)
    ),
    "toInt8": _int_cast_tpl("TINYINT"),
    "toInt16": _int_cast_tpl("SMALLINT"),
    "toInt32": _int_cast_tpl("INT"),
    "toInt64": _int_cast_tpl("BIGINT"),
    "toFloat32": _float_cast_tpl("FLOAT"),
    "toFloat64": _float_cast_tpl("DOUBLE"),
    "toUInt8OrZero": _cast_or_zero_tpl("SMALLINT"),
    "toUInt16OrZero": _cast_or_zero_tpl("INT"),
    "toUInt32OrZero": _cast_or_zero_tpl("BIGINT"),
    "toUInt64OrZero": _cast_or_zero_tpl("BIGINT"),
    "toInt8OrZero": _cast_or_zero_tpl("TINYINT"),
    "toInt16OrZero": _cast_or_zero_tpl("SMALLINT"),
    "toInt32OrZero": _cast_or_zero_tpl("INT"),
    "toInt64OrZero": _cast_or_zero_tpl("BIGINT"),
    "toFloat32OrZero": _float_cast_or_zero_tpl("FLOAT"),
    "toFloat64OrZero": _float_cast_or_zero_tpl("DOUBLE"),
    "toString": lambda a: (
        f"CAST({a[0]} AS STRING)"
        if len(a) == 1
        # toString(DateTime, tz): writeDateTimeText renders date+hour
        # from the zone's DateLUT but minute/second from the RAW UTC
        # value (toMinuteInaccurate = (t/60)%60) — visible for zones
        # with half-hour offsets (golden 00189 Pitcairn 1970)
        else f"concat(date_format(convert_timezone('UTC', {a[1]}, "
        f"CAST({a[0]} AS TIMESTAMP)), 'yyyy-MM-dd HH'), "
        f"date_format(CAST({a[0]} AS TIMESTAMP), ':mm:ss'))"
    ),
    "toDate": lambda a: _t_to_date(a),
    # 2nd arg is a TIMEZONE (FunctionsDateTime.cpp), not a format —
    # string parsed as wall-clock in that zone
    "toUnixTimestamp": lambda a: (
        f"unix_timestamp({a[0]})"
        if len(a) == 1
        else f"CAST(to_utc_timestamp(CAST({a[0]} AS TIMESTAMP), {a[1]}) AS BIGINT)"
    ),
    # a digits-only String parses as a unix timestamp
    # (ReadHelpers.h readDateTimeText falls back to readIntText —
    # 00142_parse_timestamp_as_datetime)
    "toDateTime": lambda a: (
        # the STRING bounce makes the epoch probe analyzable for any
        # input type (try_cast DATE→BIGINT is an analysis error)
        f"coalesce(CAST(try_cast(CAST({a[0]} AS STRING) AS BIGINT) AS TIMESTAMP), "
        f"try_cast({a[0]} AS TIMESTAMP))"
        if len(a) == 1
        else f"convert_timezone({a[1]}, 'UTC', CAST({a[0]} AS TIMESTAMP))"
    ),
    # dates — each takes an optional timezone 2nd arg
    "toYear": _tz_part("year"),
    "toMonth": _tz_part("month"),
    "toDayOfMonth": _tz_part("day"),
    "toHour": _tz_part("hour"),
    # ToMinuteImpl/ToSecondImpl use DateLUT to*Inaccurate — raw UTC
    # seconds arithmetic, the tz argument is IGNORED (valid only for
    # whole-hour offsets; faithful to the golden for half-hour zones)
    "toMinute": lambda a: f"minute(CAST({a[0]} AS TIMESTAMP))",
    "toSecond": lambda a: f"second(CAST({a[0]} AS TIMESTAMP))",
    # toTime: keep the LOCAL time-of-day, anchor at 1970-01-02 — the
    # stored DateTime value is 86400 + local_tod - offset_at_epoch so
    # that rendering it in the same zone shows 1970-01-02 <local tod>
    # (ToTimeImpl = DateLUT toTime(t) + 86400, counted from local
    # 1970-01-01 00:00:00 via offset_at_start_of_epoch)
    "toTime": lambda a: (
        f"CAST(concat('1970-01-02 ', date_format("
        f"CAST({a[0]} AS TIMESTAMP), 'HH:mm:ss')) AS TIMESTAMP)"
        if len(a) == 1
        else (
            # convert_timezone yields TIMESTAMP_NTZ; the NTZ→TIMESTAMP
            # cast re-reads the wall clock as UTC seconds
            f"timestamp_seconds(86400 + pmod(CAST(CAST(convert_timezone('UTC', {a[1]}, "
            f"CAST({a[0]} AS TIMESTAMP)) AS TIMESTAMP) AS BIGINT), 86400) - "
            f"CAST(CAST(convert_timezone('UTC', {a[1]}, "
            f"TIMESTAMP '1970-01-01 00:00:00') AS TIMESTAMP) AS BIGINT))"
        )
    ),
    "toDayOfWeek": lambda a: f"(weekday({_tz_ts(a)}) + 1)",  # Monday=1 (reference)
    "toMonday": _tz_local_date(lambda d: f"date_sub({d}, weekday({d}))"),
    "toStartOfDay": lambda a: f"CAST(CAST({a[0]} AS DATE) AS TIMESTAMP)",
    "toStartOfMonth": _tz_local_date(lambda d: f"trunc({d}, 'MM')"),
    "toStartOfQuarter": _tz_local_date(lambda d: f"trunc({d}, 'QUARTER')"),
    "toStartOfYear": _tz_local_date(lambda d: f"trunc({d}, 'YYYY')"),
    # toStartOfHour/Minute/FiveMinute/timeSlot map to the DateLUT
    # *Inaccurate family: raw t/N*N UTC truncation, tz argument ignored
    "toStartOfHour": lambda a: f"date_trunc('HOUR', CAST({a[0]} AS TIMESTAMP))",
    "toStartOfMinute": lambda a: f"date_trunc('MINUTE', CAST({a[0]} AS TIMESTAMP))",
    "toStartOfFiveMinute": lambda a: (
        f"timestamp_seconds(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) - "
        f"(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) % 300))"
    ),
    "timeSlot": lambda a: (
        f"timestamp_seconds(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) - "
        f"(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) % 1800))"
    ),
    "toRelativeYearNum": _tz_part("year"),
    "toRelativeMonthNum": lambda a: (
        f"(year({_tz_ts(a)}) * 12 + month({_tz_ts(a)}))"
    ),
    # DateLUT toRelativeWeekNum: (local daynum - (dayOfWeek-1)) / 7
    "toRelativeWeekNum": lambda a: (
        f"((datediff(CAST({_tz_ts(a)} AS DATE), DATE '1970-01-01') - "
        f"weekday({_tz_ts(a)})) DIV 7)"
    ),
    "toRelativeDayNum": lambda a: (
        f"datediff(CAST({_tz_ts(a)} AS DATE), DATE '1970-01-01')"
    ),
    "toRelativeHourNum": lambda a: f"(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) DIV 3600)",
    "toRelativeMinuteNum": lambda a: f"(CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT) DIV 60)",
    "toRelativeSecondNum": lambda a: f"CAST(CAST({a[0]} AS TIMESTAMP) AS BIGINT)",
    "now": lambda a: "current_timestamp()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    # math
    "exp2": lambda a: f"power(2, {a[0]})",
    "exp10": lambda a: f"power(10, {a[0]})",
    # IEEE log edges (libm log/log2/log10 via vectorized impl in the
    # reference): 0 → -inf, negative → nan; Spark's ln() yields NULL
    # for both
    "log": lambda a: _sql_ieee_log("ln", a[0]),
    "ln": lambda a: _sql_ieee_log("ln", a[0]),
    "log2": lambda a: _sql_ieee_log("log2", a[0]),
    "log10": lambda a: _sql_ieee_log("log10", a[0]),
    "e": lambda a: "exp(1)",
    # glibc-exact exp via Arrow UDF: Java Math.exp differs in the last
    # ulp (golden 00232); conformance path only — the DataFrame API
    # keeps F.exp JVM-side
    "exp": lambda a: f"ch_exp(CAST({a[0]} AS DOUBLE))",
    # SQL twins of functions/math_fns.py erf/erfc/lgamma/tgamma
    # (Abramowitz-Stegun 7.1.26 / Lanczos g=7) — let-bound via a
    # single-element transform so t is evaluated once
    # erf(±0) = ±0 exactly (IEEE odd function; the A-S polynomial at
    # t=1 only approximates it)
    "erf": lambda a: (
        f"(CASE WHEN ({a[0]}) = 0 THEN 0.0d ELSE {_sql_erf(a[0])} END)"
    ),
    "erfc": lambda a: (
        f"(CASE WHEN ({a[0]}) = 0 THEN 1.0d "
        f"ELSE 1.0d - {_sql_erf(a[0])} END)"
    ),
    # poles at non-positive integers (libm): lgamma → +inf,
    # tgamma(0) → +inf, tgamma(neg int) → nan; the Lanczos series
    # would otherwise hit a NULL-ing /0 in Spark.  Negative
    # non-integers keep the principal-branch approximation.
    "lgamma": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 AND floor({a[0]}) = ({a[0]}) "
        f"THEN CAST('Infinity' AS DOUBLE) ELSE {_sql_lgamma(a[0])} END)"
    ),
    "tgamma": lambda a: (
        f"(CASE WHEN ({a[0]}) = 0 THEN CAST('Infinity' AS DOUBLE) "
        f"WHEN ({a[0]}) < 0 AND floor({a[0]}) = ({a[0]}) "
        f"THEN CAST('NaN' AS DOUBLE) "
        # integer arguments are exact factorials (libm tgamma is
        # correctly rounded there; the Lanczos+exp round-trip isn't)
        f"WHEN floor({a[0]}) = ({a[0]}) AND ({a[0]}) <= 21 "
        f"THEN CAST(factorial(CAST({a[0]} AS INT) - 1) AS DOUBLE) "
        f"ELSE exp({_sql_lgamma(a[0])}) END)"
    ),
    "rand": lambda a: "CAST(rand() * 4294967296 AS BIGINT)",
    "rand64": lambda a: "CAST(rand() * 9.223372036854776e18 AS BIGINT)",
    # arrays
    "arrayMap": lambda a: f"transform({', '.join(a[1:])}, {a[0]})"
    if len(a) == 2
    else f"zip_with({a[1]}, {a[2]}, {a[0]})",
    "arrayFilter": lambda a: f"filter({a[1]}, {_lam_bool(a[0])})",
    "arrayCount": lambda a: (
        f"size(filter({a[1]}, {_lam_bool(a[0])}))"
        if len(a) == 2
        else f"size(filter({a[0]}, __x -> __x <> 0))"
    ),
    "arrayExists": lambda a: f"exists({a[1]}, {_lam_bool(a[0])})",
    "arrayAll": lambda a: f"forall({a[1]}, {_lam_bool(a[0])})",
    # 1-arg form sums the array; 2-arg maps the lambda first
    # (FunctionsHigherOrder.h arraySum takes the lambda as arg 1)
    "arraySum": lambda a: (
        f"aggregate({a[0] if len(a) == 1 else f'transform({a[1]}, {a[0]})'}, "
        f"CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
    ),
    "arrayFirst": lambda a: f"element_at(filter({a[1]}, {_lam_bool(a[0])}), 1)",
    # 1-based index of first satisfying element, 0 when none
    # (FunctionsHigherOrder.h arrayFirstIndex)
    "arrayFirstIndex": lambda a: (
        f"array_position(transform({a[1]}, {_lam_bool(a[0])}), TRUE)"
    ),
    # 1-based occurrence counter per element (FunctionsArray.cpp
    # arrayEnumerateUniq, single-array form): count equal elements in
    # the prefix up to the current position
    "arrayEnumerateUniq": lambda a: (
        f"transform({a[0]}, (x, i) -> "
        f"size(filter(slice({a[0]}, 1, i + 1), y -> y = x)))"
    ),
    # null-safe 1-based access, negative from end; 0/out-of-range → NULL
    # (FunctionsArray.cpp arrayElement; same form as the [] subscript in
    # translate._postfix)
    "arrayElement": lambda a: (
        f"get({a[0]}, (CASE WHEN ({a[1]}) > 0 THEN ({a[1]}) - 1 "
        f"ELSE size({a[0]}) + ({a[1]}) END))"
    ),
    # lambda forms sort by the mapped key (FunctionsHigherOrder.h
    # arraySort(f, arr)): decorate-sort-undecorate over structs
    "arraySort": lambda a: (
        f"sort_array({a[0]})"
        if len(a) == 1
        else _sort_by_key(a[0], a[1:], reverse=False)
    ),
    "arrayReverseSort": lambda a: (
        f"reverse(sort_array({a[0]}))"
        if len(a) == 1
        else _sort_by_key(a[0], a[1:], reverse=True)
    ),
    # separator defaults to '' (FunctionsString.cpp arrayStringConcat)
    # elements may be BINARY (reinterpretAsString) — cast keeps the
    # bytes JVM-side without validation
    "arrayStringConcat": lambda a: (
        f"array_join(transform({a[0]}, __asc -> CAST(__asc AS STRING)), "
        f"{a[1] if len(a) > 1 else chr(39) * 2})"
    ),
    # multi-array form counts unique TUPLES across the zipped arrays
    # (FunctionsArray.cpp FunctionArrayUniq: one hash over all columns)
    "arrayUniq": lambda a: (
        f"size(array_distinct({a[0]}))"
        if len(a) == 1
        else "size(array_distinct(zip_with({}, (__za, __zb) -> struct(__za, __zb))))".format(
            ", ".join(a)
        )
        if len(a) == 2
        else (_ for _ in ()).throw(
            ValueError("arrayUniq supports at most 2 arrays")
        )
    ),
    "countEqual": lambda a: f"size(filter({a[0]}, __x -> __x = {a[1]}))",
    "arrayEnumerate": lambda a: f"sequence(1, size({a[0]}))",
    "arrayPushBack": lambda a: f"concat({a[0]}, array({a[1]}))",
    "arrayPushFront": lambda a: f"concat(array({a[1]}), {a[0]})",
    "emptyArrayUInt8": lambda a: "CAST(array() AS ARRAY<SMALLINT>)",
    "emptyArrayUInt16": lambda a: "CAST(array() AS ARRAY<INT>)",
    "emptyArrayUInt32": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayUInt64": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayInt8": lambda a: "CAST(array() AS ARRAY<TINYINT>)",
    "emptyArrayInt16": lambda a: "CAST(array() AS ARRAY<SMALLINT>)",
    "emptyArrayInt32": lambda a: "CAST(array() AS ARRAY<INT>)",
    "emptyArrayInt64": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayFloat32": lambda a: "CAST(array() AS ARRAY<FLOAT>)",
    "emptyArrayFloat64": lambda a: "CAST(array() AS ARRAY<DOUBLE>)",
    "emptyArrayString": lambda a: "CAST(array() AS ARRAY<STRING>)",
    "emptyArrayDate": lambda a: "CAST(array() AS ARRAY<DATE>)",
    "emptyArrayDateTime": lambda a: "CAST(array() AS ARRAY<TIMESTAMP_NTZ>)",
    # range(0) must be [] — a bare sequence(0, -1) DESCENDS in Spark
    "range": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE sequence(CAST(0 AS BIGINT), CAST({a[0]} AS BIGINT) - 1) END)"
        if len(a) == 1
        else f"(CASE WHEN ({a[1]}) <= ({a[0]}) THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE sequence(CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT) - 1) END)"
    ),
    # tuples — positional col1..colN names, so tupleElement / t.N access
    # stays valid when an element is a bare column (plain struct() would
    # keep the column's own name instead of colN)
    "tuple": lambda a: (
        "named_struct("
        + ", ".join(f"'col{i + 1}', {x}" for i, x in enumerate(a))
        + ")"
    ),
    "tupleElement": lambda a: f"({a[0]}.col{a[1]})",
    # emptyArrayToSingle (FunctionsArray.cpp): [] → [0] / [''].  Element
    # type is not known syntactically; string default only when the
    # argument is a syntactic string-array constructor.
    "emptyArrayToSingle": lambda a: (
        f"if(size({a[0]}) = 0, array("
        + ("''" if "STRING" in a[0].upper() or "VARCHAR" in a[0].upper() else "0")
        + f"), {a[0]})"
    ),
    # has/indexOf compare with NULL-safe equality: has(arr, NULL) finds
    # a NULL element (array_contains/array_position reject NULL probes)
    "has": lambda a: f"exists({a[0]}, __he -> __he <=> ({a[1]}))",
    "indexOf": lambda a: (
        f"coalesce(element_at(filter(transform({a[0]}, "
        f"(__ie, __ii) -> IF(__ie <=> ({a[1]}), __ii + 1, NULL)), "
        f"__ix -> __ix IS NOT NULL), 1), 0)"
    ),
    # arrayReduce('agg', a) (FunctionsArray.h:1387) — array-native, no
    # explode; the aggregate name must be a string literal
    "arrayReduce": lambda a: _array_reduce(a),
    # bitTestAll/bitTestAny (FunctionsCoding.cpp): conjunction /
    # disjunction over the tested bit positions
    # result is UInt8 (usable as a number — golden 00216 shifts it)
    "bitTestAll": lambda a: (
        "CAST(("
        + " AND ".join(f"((shiftright({a[0]}, {i}) & 1) = 1)" for i in a[1:])
        + ") AS INT)"
    ),
    "bitTestAny": lambda a: (
        "CAST(("
        + " OR ".join(f"((shiftright({a[0]}, {i}) & 1) = 1)" for i in a[1:])
        + ") AS INT)"
    ),
    # formatReadableSize (FunctionsFormatting.cpp) — mirror of
    # functions/misc.py:52 (same tier ladder, format_number 2 dp)
    "formatReadableSize": lambda a: _format_readable_size(a[0]),
    # URL (FunctionsURL.cpp)
    # CH String results are never NULL — an unparseable URL yields ''
    "protocol": lambda a: f"coalesce(parse_url({a[0]}, 'PROTOCOL'), '')",
    "domain": lambda a: f"coalesce(parse_url({a[0]}, 'HOST'), '')",
    "domainWithoutWWW": lambda a: (
        f"coalesce(regexp_replace(parse_url({a[0]}, 'HOST'), '^www\\\\.', ''), '')"
    ),
    # ExtractTopLevelDomain: strip one trailing dot, take the label
    # after the last dot, and yield '' when it starts with a char
    # <= '9' (IPv4 numerics / punctuation)
    "topLevelDomain": lambda a: _sql_let(
        f"regexp_extract(regexp_replace(coalesce(parse_url({a[0]}, 'HOST'), ''), "
        f"'\\\\.$', ''), '\\\\.([^.]+)$', 1)",
        "__tld",
        "CASE WHEN __tld = '' OR substr(__tld, 1, 1) <= '9' THEN '' ELSE __tld END",
    ),
    "path": lambda a: f"parse_url({a[0]}, 'PATH')",
    # ExtractPathFull: path + query string + fragment — everything
    # after the authority
    "pathFull": lambda a: f"regexp_replace({a[0]}, '^[a-zA-Z0-9+.!-]+://[^/?#]*', '')",
    "queryString": lambda a: f"parse_url({a[0]}, 'QUERY')",
    "fragment": lambda a: f"parse_url({a[0]}, 'REF')",
    "extractURLParameter": _sql_extract_url_param,
    "extractURLParameters": lambda a: _sql_extract_url_params(a[0], names=False),
    "extractURLParameterNames": lambda a: _sql_extract_url_params(a[0], names=True),
    "cutURLParameter": _sql_cut_url_param,
    "firstSignificantSubdomain": lambda a: _sql_fss(a[0], _FSS_CASE),
    "cutToFirstSignificantSubdomain": lambda a: _sql_fss(a[0], _CUT_FSS_CASE),
    "cutWWW": lambda a: f"regexp_replace({a[0]}, '//www\\\\.', '//')",
    # URLHierarchy: cumulative prefixes proto://host, /seg1, /seg1/seg2…
    # (SQL twin of functions/url.py:URLHierarchy)
    "URLHierarchy": lambda a: _sql_url_hierarchy(a[0]),
    # URLHash stand-in (FunctionsHashing.cpp URLHash): hash of the URL
    # with ONE trailing slash/fragment stripped — equality-compatible
    # with appendTrailingCharIfAbsent(url, '/'); values differ from
    # the reference (xxhash64 stand-in, never golden-test them)
    "URLHash": lambda a: (
        f"xxhash64(regexp_replace({a[0]}, '[/#]$', ''))"
        if len(a) == 1
        else (
            f"xxhash64(regexp_replace(element_at("
            f"{_sql_url_hierarchy(a[0])}, CAST(({a[1]}) + 1 AS INT)), "
            f"'[/#]$', ''))"
        )
    ),
    # UUID codecs (FunctionsCoding.cpp): FixedString(16) ↔ canonical text
    "UUIDNumToString": lambda a: _sql_let(
        f"lower(hex({a[0]}))",
        "__x",
        "concat_ws('-', substr(__x, 1, 8), substr(__x, 9, 4), "
        "substr(__x, 13, 4), substr(__x, 17, 4), substr(__x, 21, 12))",
    ),
    "UUIDStringToNum": lambda a: f"unhex(replace({a[0]}, '-', ''))",
    # replicate(x, arr): constant x expanded to arr's shape
    # (FunctionsMiscellaneous.cpp FunctionReplicate)
    "replicate": lambda a: f"transform({a[1]}, __x -> {a[0]})",
    "cutQueryString": lambda a: f"regexp_replace({a[0]}, '\\\\?.*$', '')",
    "cutFragment": lambda a: f"regexp_replace({a[0]}, '#.*$', '')",
    # IP (FunctionsCoding.cpp)
    "IPv4NumToString": _t_ipv4_num_to_string,
    "IPv4StringToNum": _t_ipv4_string_to_num,
    # class-C mask: last octet rendered as 'xxx'
    # (FunctionsCoding.cpp IPv4NumToStringClassC: mask_tail_octets=1)
    "IPv4NumToStringClassC": lambda a: (
        f"concat_ws('.', CAST(({a[0]} DIV 16777216) % 256 AS STRING), "
        f"CAST(({a[0]} DIV 65536) % 256 AS STRING), "
        f"CAST(({a[0]} DIV 256) % 256 AS STRING), 'xxx')"
    ),
    # v4-mapped FixedString(16): 10 zero bytes, 0xFFFF, then the addr
    # (FunctionsCoding.cpp FunctionIPv4ToIPv6 / mapIPv4ToIPv6)
    "IPv4ToIPv6": lambda a: (
        f"unhex(concat('00000000000000000000FFFF', "
        f"lpad(hex(CAST({a[0]} AS BIGINT)), 8, '0')))"
    ),
    # JSON-ish (FunctionsVisitParam.cpp)
    "visitParamHas": lambda a: f"(get_json_object({a[0]}, concat('$.', {a[1]})) IS NOT NULL)",
    "visitParamExtractUInt": lambda a: (
        f"coalesce(CAST(get_json_object({a[0]}, concat('$.', {a[1]})) AS BIGINT), 0)"
    ),
    "visitParamExtractInt": lambda a: (
        f"coalesce(CAST(get_json_object({a[0]}, concat('$.', {a[1]})) AS BIGINT), 0)"
    ),
    "visitParamExtractFloat": lambda a: (
        f"coalesce(CAST(get_json_object({a[0]}, concat('$.', {a[1]})) AS DOUBLE), 0.0)"
    ),
    "visitParamExtractBool": lambda a: (
        f"(get_json_object({a[0]}, concat('$.', {a[1]})) = 'true')"
    ),
    "visitParamExtractString": lambda a: (
        f"coalesce(get_json_object({a[0]}, concat('$.', {a[1]})), '')"
    ),
    "visitParamExtractRaw": lambda a: f"coalesce(get_json_object({a[0]}, concat('$.', {a[1]})), '')",
    # misc (FunctionsMiscellaneous.cpp)
    "finalizeAggregation": lambda a: a[0],
    "materialize": lambda a: a[0],
    "identity": lambda a: a[0],
    # evaluates its arguments, returns 0 (FunctionIgnore) — keep the
    # args in the plan via a non-foldable always-0 form so e.g.
    # ignore(sum(x)) still aggregates the query
    "ignore": lambda a: (
        f"pmod(hash({', '.join(a)}), 1)" if a else "0"
    ),
    "indexHint": lambda a: "true",
    "version": lambda a: "'1.1.54189-spark'",
    "hostName": lambda a: "'localhost'",
    "currentDatabase": lambda a: "'default'",
    "bar": lambda a: (
        f"repeat('█', CAST(bround((({a[0]}) - ({a[1]})) / (({a[2]}) - ({a[1]})) * "
        f"{a[3] if len(a) > 3 else '80'}) AS INT))"
    ),
    "greatCircleDistance": lambda a: (
        # haversine over the reference's EARTH_RADIUS_IN_METERS
        # (FunctionsGeo.h:21,96); args parenthesized — they may be
        # compound expressions
        f"(2 * 6372797.560856 * asin(sqrt(power(sin(radians((({a[3]}) - ({a[1]})) / 2)), 2) + "
        f"cos(radians(({a[1]}))) * cos(radians(({a[3]}))) * "
        f"power(sin(radians((({a[2]}) - ({a[0]})) / 2)), 2))))"
    ),
}

# ------------------------------------------------------- parametric aggs



def _exact_q_nth(x: str, levels: list[str], as_array: bool) -> str:
    """quantile(s)Exact (AggregateFunctionQuantileExact.h
    insertResultInto): nth_element at n = floor(level * size) (level
    >= 1 -> size-1), the ELEMENT itself — no interpolation, result
    keeps the argument type."""
    arr = f"array_sort(collect_list({x}))"

    def one(p: str) -> str:
        lv = f"CAST({p} AS DOUBLE)"
        n = (
            f"IF({lv} < 1, CAST({lv} * size(__qx) AS BIGINT), "
            f"size(__qx) - 1)"
        )
        return f"element_at(__qx, CAST({n} AS INT) + 1)"

    body = (
        "array(" + ", ".join(one(p) for p in levels) + ")"
        if as_array
        else one(levels[0])
    )
    return _sql_let(arr, "__qx", body)

def _p_quantile(exact: bool) -> Callable[[Args, Args], str]:
    fn = "percentile" if exact else "percentile_approx"

    def tpl(params: Args, args: Args) -> str:
        p = params[0] if params else "0.5"
        return f"{fn}({args[0]}, {p})"

    return tpl


def _empty_quantiles(x: str) -> str:
    """quantiles…() with zero levels → empty Array(Float64), still an
    aggregate expression (the count() ride-along keeps the query
    grouped — AggregateFunctionQuantiles with empty params returns an
    empty array per group, 00382_quantiles_empty_levels_segfaults)."""
    return f"slice(array(CAST(count({x}) AS DOUBLE)), 1, 0)"


def _p_quantiles(exact: bool) -> Callable[[Args, Args], str]:
    fn = "percentile" if exact else "percentile_approx"

    def tpl(params: Args, args: Args) -> str:
        if not params:
            return _empty_quantiles(args[0])
        return f"{fn}({args[0]}, array({', '.join(params)}))"

    return tpl


def _interp_quantile_of(arr_sql: str, p: str) -> str:
    """ReservoirSampler::quantileInterpolated (the reference's plain
    quantile/quantiles finalizer): g = level*(n-1), linear interpolation
    between the two straddling sorted samples — exact whenever the
    sample fits the reservoir (8192), which covers every golden."""
    a = f"array_sort({arr_sql})"
    # the level is a Float64 in the reference; Spark would parse the
    # bare literal as DECIMAL and compute an exact frac, diverging in
    # the last ulp from the reference's double arithmetic
    pos = f"(CAST({p} AS DOUBLE) * (size({a}) - 1))"
    lo = f"CAST(floor({pos}) AS INT)"
    frac = f"({pos} - floor({pos}))"
    lov = f"CAST(element_at({a}, {lo} + 1) AS DOUBLE)"
    hiv = f"CAST(element_at({a}, least({lo} + 2, size({a}))) AS DOUBLE)"
    # bit-exact to the reference: left*(1-frac) + right*frac, NOT
    # left + frac*(right-left) — the two round differently in the last
    # ulp and the golden corpus prints shortest-roundtrip doubles
    return f"({lov} * (1 - {frac}) + {hiv} * {frac})"


def _seq_encoded(args: Args) -> str:
    """Time-ordered condition-digit string — SQL twin of
    operators/sequence_match.py:_encode_events (same sort_array over
    collect_list aggregate, first-match-wins digit)."""
    ts, conds = args[0], args[1:]
    whens = " ".join(
        f"WHEN {_bool(c)} THEN '{i + 1}'" for i, c in enumerate(conds)
    )
    char = f"(CASE {whens} ELSE 'x' END)"
    pairs = f"collect_list(named_struct('t', {ts}, 'c', {char}))"
    return f"array_join(transform(array_sort({pairs}), s -> s.c), '')"


def _p_sequence(count: bool) -> Callable[[Args, Args], str]:
    from ..operators.sequence_match import _pattern_to_regex

    def tpl(params: Args, args: Args) -> str:
        pattern = params[0].strip("'")
        if "(?t" in pattern:
            return _seq_timed_sql(pattern, args, count)
        regex = _pattern_to_regex(pattern)
        enc = _seq_encoded(args)
        if count:
            import re as _re

            if _re.match(f"(?:{regex})$", ""):
                # empty-matchable: forced progress = one match per event
                return f"CAST(length({enc}) AS BIGINT)"
            return f"CAST(size(regexp_extract_all({enc}, '({regex})', 1)) AS BIGINT)"
        return f"CAST(({enc} RLIKE '{regex}') AS INT)"

    return tpl


SEQ_UDF_PREFIX = "__seq_"


def _seq_timed_sql(pattern: str, args: Args, count: bool) -> str:
    """Time-constrained sequenceMatch/Count in SQL: register the exact
    NFA (operators/sequence_match.py:match_events — the port of
    AggregateFunctionSequenceMatch.h:364-497) as a grouped-agg pandas
    UDF on the active session and emit a call to it over (epoch-secs,
    condition-bitmask)."""
    import hashlib

    from pyspark.sql import SparkSession

    from ..operators.sequence_match import _timed_udf

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("time-constrained sequenceMatch needs an active SparkSession")
    tag = hashlib.md5(f"{pattern}|{count}".encode()).hexdigest()[:10]
    name = f"{SEQ_UDF_PREFIX}{'count' if count else 'match'}_{tag}"
    registered = spark.conf.get(f"spark.__seq_udf.{name}", None)
    if registered is None:
        spark.udf.register(name, _timed_udf(pattern, count))
        spark.conf.set(f"spark.__seq_udf.{name}", "1")
    ts, conds = args[0], args[1:]
    mask = " + ".join(
        f"(CASE WHEN {_bool(c)} THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(conds)
    )
    call = (
        f"{name}(CAST(CAST({ts} AS TIMESTAMP) AS BIGINT), "
        f"CAST({mask} AS BIGINT))"
    )
    return call if count else f"CAST({call} AS INT)"


PARAMETRIC: dict[str, Callable[[Args, Args], str]] = {
    "sequenceMatch": _p_sequence(count=False),
    "sequenceCount": _p_sequence(count=True),
    # plain quantile(s): the reference SAMPLES above 8192 values
    # (ReservoirSampler.h taus88 seeded 123456) — replayed bit-exact
    # by dialect/reservoir.py; at or below the reservoir bound the
    # result equals the interpolated percentile
    "quantile": lambda p, a: (
        f"element_at(ch_rsv_quantiles(collect_list(CAST({a[0]} AS DOUBLE)), "
        f"array({p[0] if p else '0.5'})), 1)"
    ),
    # deterministic: ReservoirSamplerDeterministic keeps the values
    # whose uint32(intHash64(determinator)) passes the skip_degree
    # zero-low-bits filter — a pure order-independent filter, replayed
    # exactly in dialect/reservoir.py
    "quantileDeterministic": lambda p, a: (
        f"element_at(ch_rsv_det_quantiles("
        f"collect_list(CAST({a[0]} AS DOUBLE)), "
        f"collect_list(CAST({a[1]} AS BIGINT)), "
        f"array({p[0] if p else '0.5'})), 1)"
        if len(a) > 1
        else _p_quantile(exact=False)(p, a)
    ),
    "quantileTiming": lambda p, a: _timing_quantile(a[0], p or ["0.5"]),
    "quantileTDigest": _p_quantile(exact=False),
    "quantileExact": lambda p, a: _exact_q_nth(a[0], [p[0] if p else "0.5"], False),
    # weighted exact: sort (value, weight) pairs, threshold =
    # ceil(sum_weight * level), first value whose accumulated weight
    # reaches it — NO interpolation, result keeps the argument type
    # (AggregateFunctionQuantileExactWeighted.h insertResultInto)
    "quantileExactWeighted": lambda p, a: _exact_weighted_q(
        a[0], a[1], [p[0] if p else "0.5"]
    ),
    "quantiles": lambda p, a: (
        f"ch_rsv_quantiles(collect_list(CAST({a[0]} AS DOUBLE)), "
        f"array({', '.join(p)}))"
        if p
        else _empty_quantiles(a[0])
    ),
    "quantilesExact": lambda p, a: (_exact_q_nth(a[0], p, True) if p else _empty_quantiles(a[0])),
    "quantilesTiming": lambda p, a: (
        _timing_quantile(a[0], p, force_array=True)
        if p
        else _empty_quantiles(a[0])
    ),
    "quantilesDeterministic": lambda p, a: (
        f"ch_rsv_det_quantiles("
        f"collect_list(CAST({a[0]} AS DOUBLE)), "
        f"collect_list(CAST({a[1]} AS BIGINT)), "
        f"array({', '.join(p)}))"
        if p and len(a) > 1
        else _p_quantiles(exact=False)(p, a)
    ),
    "quantilesTDigest": _p_quantiles(exact=False),
    "quantileTDigestWeighted": lambda p, a: (
        f"percentile({a[0]}, {p[0] if p else '0.5'}, CAST({a[1]} AS BIGINT))"
    ),
    "quantilesTDigestWeighted": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}), CAST({a[1]} AS BIGINT))"
        if p
        else _empty_quantiles(a[0])
    ),
    "quantileTimingWeighted": lambda p, a: _timing_weighted_q(
        a[0], a[1], [p[0] if p else "0.5"]
    ),
    "quantilesTimingWeighted": lambda p, a: (
        _timing_weighted_q(a[0], a[1], p, force_array=True)
        if p
        else _empty_quantiles(a[0])
    ),
    "quantilesExactWeighted": lambda p, a: (
        _exact_weighted_q(a[0], a[1], p, as_array=True)
        if p
        else _empty_quantiles(a[0])
    ),
    # -State on parametric quantiles: our state IS the finished value
    # (finalizeAggregation is then the identity — functions/state.py)
    "quantileTimingState": lambda p, a: _timing_quantile(a[0], p or ["0.5"]),
    "quantilesTimingState": lambda p, a: _timing_quantile(
        a[0], p, force_array=True
    ),
    # plain quantile(s): ReservoirSampler state = the value list (exact
    # below the 8192 reservoir bound); Merge concatenates lists and
    # applies the interpolated finalizer
    "quantileState": lambda p, a: f"collect_list({a[0]})",
    "quantilesState": lambda p, a: f"collect_list({a[0]})",
    "quantileMerge": lambda p, a: _interp_quantile_of(
        f"flatten(collect_list({a[0]}))", (p or ["0.5"])[0]
    ),
    "quantilesMerge": lambda p, a: "array(" + ", ".join(
        _interp_quantile_of(f"flatten(collect_list({a[0]}))", pp) for pp in p
    ) + ")",
    "uniqUpTo": lambda p, a: (
        f"least(count(DISTINCT {', '.join(a)}), {p[0]} + 1)"
    ),
    "groupArray": lambda p, a: f"slice(collect_list({a[0]}), 1, {p[0]})",
    "topK": lambda p, a: (
        f"slice(transform(array_sort(transform(map_entries("
        f"aggregate(collect_list({a[0]}), map(), (m, x) -> map_concat(map_filter(m, (k, v) -> k != x), "
        f"map(x, coalesce(element_at(m, x), 0) + 1)))), e -> struct(- e.value AS n, e.key AS k))), "
        f"s -> s.k), 1, {p[0]})"
    ),
}

# ------------------------------------------------- quantile scale guard
#
# The bit-exact quantile family (taus88 reservoir replay, Timing
# histogram, Exact nth-element) funnels each group's full value list
# through collect_list into an Arrow UDF — exact vs the reference, but
# unbounded per-group memory: a skewed group at 100 TB spills or OOMs
# the executor.  `SET approx_quantiles = 1` (session or per-query
# SETTINGS) reroutes the whole family to Spark's percentile_approx
# (Greenwald-Khanna sketch: bounded memory, map-side partials, one
# ordinary shuffle) for plans where bit-fidelity isn't required.
# translate.translate_sql flips this module flag per statement.
APPROX_QUANTILES = False

_APPROX_ACCURACY = 10000  # GK sketch accuracy (Spark default)


def _approx_q(x: str, levels: list[str], plural: bool) -> str:
    if plural:
        return (
            f"percentile_approx(CAST({x} AS DOUBLE), "
            f"array({', '.join(levels)}), {_APPROX_ACCURACY})"
        )
    return (
        f"percentile_approx(CAST({x} AS DOUBLE), {levels[0]}, "
        f"{_APPROX_ACCURACY})"
    )


def _guard_quantile(orig, plural: bool):
    """Wrap a PARAMETRIC quantile builder: approx mode wins when set."""

    def inner(p, a):
        if APPROX_QUANTILES:
            levels = p or ["0.5"]
            if plural and not p:
                return _empty_quantiles(a[0])
            return _approx_q(a[0], levels, plural)
        return orig(p, a)

    return inner


for _qn in (
    "quantile", "quantileDeterministic", "quantileTiming",
    "quantileExact", "quantileExactWeighted", "quantileTimingWeighted",
):
    PARAMETRIC[_qn] = _guard_quantile(PARAMETRIC[_qn], plural=False)
for _qn in (
    "quantiles", "quantilesDeterministic", "quantilesTiming",
    "quantilesExact", "quantilesExactWeighted", "quantilesTimingWeighted",
):
    PARAMETRIC[_qn] = _guard_quantile(PARAMETRIC[_qn], plural=True)
del _qn

# parametric ForEach forms (AggregateFunctionForEach over a parametric
# base — quantilesExactForEach(0.5, 0.9)(arr), golden 00447)
PARAMETRIC["quantilesExactForEach"] = lambda p, a: _foreach_generic(
    "quantilesExact", a[0], p
)
PARAMETRIC["quantileExactForEach"] = lambda p, a: _foreach_generic(
    "quantileExact", a[0], p
)

_orig_median = TEMPLATES["median"]
TEMPLATES["median"] = (
    lambda a: _approx_q(a[0], ["0.5"], False)
    if APPROX_QUANTILES
    else _orig_median(a)
)


# -------------------------------------------------------------- -If combo

_IF_COMBINATOR_BASES: dict[str, str] = {
    "sum": "sum",
    "count": "count",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "any": "first",
    "anyLast": "last",
    "uniq": "approx_count_distinct",
    "uniqExact": "count_distinct_case",  # special-cased below
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "argMin": "min_by",
    "argMax": "max_by",
}


_FOREACH_MERGES = {
    "sum": "coalesce(__p, 0.0d) + coalesce(CAST(__q AS DOUBLE), 0.0d)",
    "min": "least(__p, CAST(__q AS DOUBLE))",
    "max": "greatest(__p, CAST(__q AS DOUBLE))",
    "count": "coalesce(__p, 0.0d) + (CASE WHEN __q IS NULL THEN 0.0d ELSE 1.0d END)",
}


def foreach_combinator(name: str, args: Args) -> str | None:
    """``<agg>ForEach(arr)`` — per-index aggregation across rows.

    SQL twin of functions/aggregates.py:_for_each (reference:
    AggregateFunctionForEach.h): fold collected arrays with zip_with,
    which pads the shorter side with NULL.  avgForEach divides the sum
    and count folds; groupArrayForEach transposes into arrays-per-index.
    """
    if not name.endswith("ForEach"):
        return None
    base = name[: -len("ForEach")]
    arr = args[0]
    lists = f"collect_list({arr})"

    def fold(merge: str, init: str = "CAST(array() AS ARRAY<DOUBLE>)") -> str:
        return (
            f"aggregate({lists}, {init}, "
            f"(__acc, __arr) -> zip_with(__acc, __arr, (__p, __q) -> {merge}))"
        )

    if base in _FOREACH_MERGES:
        return fold(_FOREACH_MERGES[base])
    if base == "avg":
        return f"zip_with({fold(_FOREACH_MERGES['sum'])}, {fold(_FOREACH_MERGES['count'])}, (__s, __c) -> __s / __c)"
    return _foreach_generic(base, arr)


def _foreach_generic(
    base: str, arr: str, params: Args | None = None
) -> str | None:
    """Type-preserving ForEach: per index i, collect every row's i-th
    element (rows shorter than i contribute nothing) and run the base
    aggregate's finalizer over that list (AggregateFunctionForEach.h
    nested-state-per-index — golden 00447).  The collected list is
    let-bound so no aggregate appears inside a lambda body."""
    vals = (
        "filter(transform(__fls, __fa -> element_at(__fa, __fi)), "
        "__fe -> __fe IS NOT NULL)"
    )
    if base in ("quantileExact", "quantilesExact"):
        levels = list(params or ["0.5"])

        def one(p: str) -> str:
            lv = f"CAST({p} AS DOUBLE)"
            n = (
                f"IF({lv} < 1, CAST({lv} * size(__qfx) AS BIGINT), "
                f"size(__qfx) - 1)"
            )
            return f"element_at(__qfx, CAST({n} AS INT) + 1)"

        inner = (
            "array(" + ", ".join(one(p) for p in levels) + ")"
            if base == "quantilesExact"
            else one(levels[0])
        )
        fin = _sql_let("array_sort(__fv)", "__qfx", inner)
    else:
        fins = {
            "min": "array_min(__fv)",
            "max": "array_max(__fv)",
            "uniq": "size(array_distinct(__fv))",
            "uniqExact": "size(array_distinct(__fv))",
            "any": "element_at(__fv, 1)",
            "anyLast": "element_at(__fv, -1)",
            "groupArray": "__fv",
            "groupUniqArray": "array_distinct(__fv)",
        }
        fin = fins.get(base)
        if fin is None:
            return None
    maxlen = "aggregate(__fls, 0, (__fm, __fa) -> greatest(__fm, size(__fa)))"
    body = (
        f"transform(IF({maxlen} = 0, CAST(array() AS ARRAY<INT>), "
        f"sequence(1, {maxlen})), "
        f"__fi -> {_sql_let(vals, '__fv', fin)})"
    )
    return _sql_let(f"collect_list({arr})", "__fls", body)


def array_combinator(
    name: str, args: Args, elem_ch_type: str | None = None
) -> str | None:
    """``<agg>Array(arr)`` — the aggregate applied to all elements of
    all arrays in the group (AggregateFunctionArray.h, combinator at
    AggregateFunctionFactory.cpp:51-55).

    Composed as <agg> over flatten(collect_list(arr)): the per-group
    element list is materialized, so group cardinality bounds memory —
    same profile as groupArray, which the reference shares.
    """
    if not name.endswith("Array") or name in ("groupUniqArray", "emptyToArray"):
        return None
    base = name[: -len("Array")]
    if base in ("argMin", "argMax") and len(args) == 2:
        xs = f"flatten(collect_list({args[0]}))"
        ys = f"flatten(collect_list({args[1]}))"
        pick = "array_min" if base == "argMin" else "array_max"
        return (
            f"element_at({xs}, CAST(array_position({ys}, {pick}({ys})) AS INT))"
        )
    if len(args) != 1:
        return None
    arr = f"flatten(collect_list({args[0]}))"
    num = "BIGINT"
    if elem_ch_type in ("Float32", "Float64"):
        num = "DOUBLE"
    forms = {
        "sum": f"aggregate({arr}, CAST(0 AS {num}), (__a, __x) -> __a + __x)",
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "count": f"size({arr})",
        "avg": f"(aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x) / size({arr}))",
        "uniq": f"size(array_distinct({arr}))",
        "uniqExact": f"size(array_distinct({arr}))",
        "any": f"element_at({arr}, 1)",
        "anyLast": f"element_at({arr}, -1)",
        "groupUniqArray": f"array_distinct({arr})",
        "groupArray": arr,
    }
    return forms.get(base)


def if_combinator(name: str, args: Args) -> str | None:
    """``<agg>If(x, cond)`` / ``countIf(cond)`` → CASE-wrapped aggregate.

    Reference: AggregateFunctionIf.h (combinator registered at
    AggregateFunctionFactory.cpp:51-55).
    """
    if not name.endswith("If"):
        return None
    base = name[: -len("If")]
    target = _IF_COMBINATOR_BASES.get(base)
    if target is None:
        return None
    if base == "count":
        return f"count(CASE WHEN CAST(({args[0]}) AS BOOLEAN) THEN 1 END)"
    cond = f"CAST(({args[-1]}) AS BOOLEAN)"
    inner = ", ".join(args[:-1])
    if target == "count_distinct_case":
        return f"count(DISTINCT CASE WHEN {cond} THEN {inner} END)"
    return f"{target}(CASE WHEN {cond} THEN {inner} END)"
