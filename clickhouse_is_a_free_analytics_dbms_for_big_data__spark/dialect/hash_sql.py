"""Bit-exact hash functions on the Spark SQL path.

Dispatch for the reference's fast-hash family
(dbms/src/Functions/FunctionsHashing.h): cityHash64 (multi-arg
NeighbourhoodHash, :378), sipHash64 (String-only, :841+886),
intHash32/intHash64 (:288), halfMD5 (:54), URLHash (:628).

Execution strategy (scale-first):

- Integer/Date/DateTime/Enum elements hash with PURE Spark SQL —
  wrapping BIGINT arithmetic + shiftrightunsigned reproduce the C++
  uint64 ops bit-for-bit (session runs ANSI off), so the common
  numeric case stays inside whole-stage codegen with zero Python.
- The pairwise combine (Hash128to64) and array folds (aggregate()
  over element hashes) are also pure SQL.
- String elements go through Arrow-batched pandas UDFs backed by the
  scalar ports in functions/exact_hash.py (CityHash64 v1.0 /
  SipHash-2-4).  This is the documented slow-exact path; the hot
  analytics queries hash integers.

All intermediates are two's-complement BIGINT bit patterns; the final
result converts once to the unsigned DECIMAL(20,0) that renders as the
reference's UInt64.
"""

# NOTE: no `from __future__ import annotations` — the pandas-UDF type
# hints below must be live objects for PySpark's signature inference.

M64 = (1 << 64) - 1


def _s64(v: int) -> int:
    """uint64 constant → the signed BIGINT literal with the same bits."""
    v &= M64
    return v - (1 << 64) if v >= (1 << 63) else v


def _let(value: str, var: str, body: str) -> str:
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def u64_to_signed(v: str) -> str:
    """DECIMAL(20,0)-typed UInt64 → same-bits signed BIGINT."""
    d = f"CAST({v} AS DECIMAL(21, 0))"
    return (
        f"CAST({d} - (CASE WHEN {d} > 9223372036854775807 "
        f"THEN CAST(18446744073709551616 AS DECIMAL(21, 0)) ELSE 0 END) AS BIGINT)"
    )


def signed_to_u64(v: str) -> str:
    """Signed BIGINT bit pattern → unsigned DECIMAL(20,0) value."""
    return (
        f"CAST(CAST({v} AS DECIMAL(21, 0)) + (CASE WHEN ({v}) < 0 "
        f"THEN CAST(18446744073709551616 AS DECIMAL(21, 0)) ELSE 0 END) AS DECIMAL(20, 0))"
    )


def sql_murmur_fin(x: str) -> str:
    """MurmurHash3 finalizer (Hash.h:13) on a BIGINT bit pattern."""
    c1, c2 = _s64(0xFF51AFD7ED558CCD), _s64(0xC4CEB9FE1A85EC53)
    b1 = f"(__h0 ^ shiftrightunsigned(__h0, 33)) * {c1}"
    b2 = f"(__h1 ^ shiftrightunsigned(__h1, 33)) * {c2}"
    b3 = "(__h2 ^ shiftrightunsigned(__h2, 33))"
    return _let(x, "__h0", _let(b1, "__h1", _let(b2, "__h2", b3)))


def sql_int_hash64(x: str) -> str:
    """IntHash64Impl (FunctionsHashing.h:159): murmur_fin(x ^ salt)."""
    return sql_murmur_fin(f"(({x}) ^ {_s64(0x4CF2D2BAAE6DA887)})")


def sql_int_hash32(x: str) -> str:
    """intHash32<0x75D9543DE018BF45> (Hash.h:144), UInt32 result."""
    rot = lambda v, n: f"(shiftrightunsigned({v}, {n}) | shiftleft({v}, {64 - n}))"
    steps = _let(
        f"(~__k0) + shiftleft(__k0, 18)",
        "__k1",
        _let(
            f"(__k1 ^ {rot('__k1', 31)}) * 21",
            "__k2",
            _let(
                f"__k2 ^ {rot('__k2', 11)}",
                "__k3",
                _let(
                    f"__k3 + shiftleft(__k3, 6)",
                    "__k4",
                    f"(__k4 ^ {rot('__k4', 22)}) & 4294967295",
                ),
            ),
        ),
    )
    return _let(f"(({x}) ^ {_s64(0x75D9543DE018BF45)})", "__k0", steps)


def sql_h128(lo: str, hi: str) -> str:
    """Hash128to64(uint128(lo, hi)) (city.h:79) on BIGINT patterns."""
    kmul = _s64(0x9DDFEA08EB382D69)
    body = _let(
        f"(__lo ^ __hi) * {kmul}",
        "__a0",
        _let(
            f"(__hi ^ (__a0 ^ shiftrightunsigned(__a0, 47))) * {kmul}",
            "__b0",
            f"((__b0 ^ shiftrightunsigned(__b0, 47)) * {kmul})",
        ),
    )
    # bind hi once (lo is referenced once inside)
    return _let(hi, "__hi", _let(lo, "__lo", body))


# ---------------------------------------------------------------- UDFs


def register_hash_udfs(spark) -> None:
    """Arrow-batched pandas UDFs for the string-input hash paths.
    Results are BIGINT bit patterns (combined/finalized in SQL)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        LongType,
        StringType,
    )

    from ..functions import exact_hash as xh

    def _sign(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    def scalar_udf(fn):
        @pandas_udf(LongType())
        def udf(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: None if v is None else _sign(
                    fn(v if isinstance(v, bytes) else str(v).encode())
                ),
                na_action="ignore",
            )

        return udf

    def array_udf(fn):
        @pandas_udf(ArrayType(LongType()))
        def udf(s: pd.Series) -> pd.Series:
            return s.map(
                lambda arr: None if arr is None else [
                    _sign(fn(str(v).encode())) for v in arr
                ],
                na_action="ignore",
            )

        return udf

    @pandas_udf(BinaryType())
    def ch_sip128(s: pd.Series) -> pd.Series:
        # FixedString(16): SipHash.h get128 — LE (v0^v1) then (v2^v3)
        return s.map(
            lambda v: None if v is None else
            xh.sip_hash_128(v if isinstance(v, bytes) else str(v).encode()),
            na_action="ignore",
        )

    @pandas_udf(LongType())
    def ch_uniq_key(vals: pd.Series, widths: pd.Series) -> pd.Series:
        # UniqVariadicHash.h approximate variadic key: h = CityHash64
        # (LE bytes of arg0); then h = Hash128to64(CityHash64(bytes of
        # arg_i), h).  Each arg arrives as its decimal string (integer
        # bit pattern) with its byte width, or the raw string itself
        # with width -1 — IColumn::getDataAt byte images.
        out = []
        for vs, ws in zip(vals, widths):
            if vs is None:
                out.append(None)
                continue
            h = None
            ok = True
            for v, w in zip(vs, ws):
                if v is None:
                    ok = False
                    break
                if w > 0:
                    iv = int(v)
                    b = iv.to_bytes(int(w), "little", signed=iv < 0)
                else:
                    b = str(v).encode()
                c = xh.city_hash_64(b)
                h = c if h is None else xh.hash128to64(c, h)
            out.append(_sign(h) if ok and h is not None else None)
        return pd.Series(out, dtype="object")

    @pandas_udf(LongType())
    def ch_hash32(v: pd.Series) -> pd.Series:
        # low 32 bits of DefaultHash64 = unsalted intHash64 —
        # UniquesHashSet's stored hash (uniq over UDF-produced keys,
        # where the in-SQL murmur template can't be used: Python UDFs
        # are barred from higher-order-function lambdas)
        return v.map(
            lambda x: None if x is None else int(xh.murmur_fin(int(x))) & 0xFFFFFFFF,
            na_action="ignore",
        )

    @pandas_udf(LongType())
    def ch_urlhash(s: pd.Series, level: pd.Series) -> pd.Series:
        out = []
        for v, lv in zip(s, level):
            if v is None:
                out.append(None)
            else:
                out.append(
                    _sign(xh.url_hash(str(v).encode(), None if lv is None or lv < 0 else int(lv)))
                )
        return pd.Series(out, dtype="object")

    @pandas_udf(DoubleType())
    def ch_exp(s: pd.Series) -> pd.Series:
        # glibc-exact exp: Java's Math.exp differs from the reference
        # host's libm in the last ulp (exp(26) = ...83878 vs ...83875,
        # golden 00232); CPython's math.exp calls the platform libm.
        import math

        return s.map(lambda v: None if v is None else math.exp(v), na_action="ignore")

    @pandas_udf(StringType())
    def ch_url_decode(s: pd.Series) -> pd.Series:
        # DecodeURLComponentImpl (FunctionsURL.cpp decodeURL): only
        # valid %XX triplets decode; malformed sequences stay verbatim;
        # '+' is NOT turned into a space; a trailing '%' with < 2 chars
        # left copies the rest unchanged
        def dec(v):
            b = v.encode("utf-8", "surrogateescape")
            out = bytearray()
            i, n = 0, len(b)
            while i < n:
                if b[i] == 0x25:  # '%'
                    if n - i < 3:
                        out.extend(b[i:])
                        break
                    hexpair = b[i + 1 : i + 3]
                    # strict hex-digit check (char_to_digit_table):
                    # int(, 16) would also accept '+f' / ' f'
                    if all(c in b"0123456789abcdefABCDEF" for c in hexpair):
                        out.append(int(hexpair, 16))
                    else:
                        # invalid triplet copied verbatim — the scan
                        # still advances 3 (src_curr_pos += 3 runs on
                        # both branches), so a '%' inside the skipped
                        # pair is not re-examined
                        out.extend(b[i : i + 3])
                    i += 3
                    continue
                out.append(b[i])
                i += 1
            return bytes(out).decode("utf-8", "surrogateescape")

        return s.map(lambda v: None if v is None else dec(str(v)), na_action="ignore")

    @pandas_udf(LongType())
    def ch_f64_bits(s: pd.Series) -> pd.Series:
        import numpy as np

        vals = s.to_numpy(dtype="float64")
        bits = vals.view("int64")
        out = pd.Series(bits)
        return out.mask(s.isna(), None)

    @pandas_udf(LongType())
    def ch_f32_bits(s: pd.Series) -> pd.Series:
        import numpy as np

        vals = s.to_numpy(dtype="float32")
        bits = vals.view("uint32").astype("int64")
        out = pd.Series(bits)
        return out.mask(s.isna(), None)

    # the string Hash64 of each NeighbourhoodHash impl, per value and
    # per array element (dialect array folds), and String-only SipHash
    for name, fn in (
        ("city64", xh.city_hash_64),
        ("farm64", xh.farm_hash_64),
        ("metro64", xh.metro_hash_64_1),
    ):
        spark.udf.register(f"ch_{name}", scalar_udf(fn))
        spark.udf.register(f"ch_{name}_arr", array_udf(fn))
    spark.udf.register("ch_sip64", scalar_udf(xh.sip_hash_64))
    spark.udf.register("ch_sip128", ch_sip128)
    spark.udf.register("ch_uniq_key", ch_uniq_key)
    spark.udf.register("ch_hash32", ch_hash32)
    spark.udf.register("ch_urlhash", ch_urlhash)

    @pandas_udf(StringType())
    def ch_urlhash_u64(s: pd.Series, level: pd.Series) -> pd.Series:
        # unsigned decimal TEXT (cast to DECIMAL(20,0) in SQL): keeps
        # the call site to a SINGLE UDF occurrence — signed_to_u64's
        # CASE would duplicate a potentially huge argument expression
        # past the codegen limit (golden 00149)
        out = []
        for v, lv in zip(s, level):
            if v is None:
                out.append(None)
            else:
                out.append(str(xh.url_hash(
                    str(v).encode(),
                    None if lv is None or lv < 0 else int(lv),
                )))
        return pd.Series(out, dtype="object")

    spark.udf.register("ch_urlhash_u64", ch_urlhash_u64)

    @pandas_udf(LongType())
    def ch_k128_slot(
        allrows: pd.Series, own: pd.Series, widths: pd.Series
    ) -> pd.Series:
        # aggregation output ORDER for the keys128 method: simulate
        # the reference hash table (UInt128HashCRC32, 256-bucket
        # grower, linear probing) over ALL group keys and return each
        # row's iteration position (exact_hash.keys128_slot_order —
        # golden 00120).  `allrows` is the same full key list per row
        # (window collect); the simulation runs once per batch.
        out = []
        for rows, mine, ws in zip(allrows, own, widths):
            krows = [tuple(int(v) for v in r) for r in rows]
            order = xh.keys128_slot_order(krows, [int(w) for w in ws])
            out.append(order[krows.index(tuple(int(v) for v in mine))])
        return pd.Series(out, dtype="object")

    spark.udf.register("ch_k128_slot", ch_k128_slot)

    @pandas_udf(LongType())
    def ch_k64_slot(allrows: pd.Series, own: pd.Series) -> pd.Series:
        # aggregation output ORDER for the key32/key64 methods:
        # simulate HashMap<UInt64, …, HashCRC32<UInt64>> (256-bucket
        # grower, linear probing, first-occurrence insertion) over ALL
        # group keys and return each row's iteration position
        # (exact_hash.key64_slot_order — golden 00212).  `allrows` is
        # the same full (rank, bits) list per row (window collect).
        out = []
        for rows, mine in zip(allrows, own):
            ranked = [
                (lambda v: (int(v[0]), int(v[1])))(
                    list(r.values()) if hasattr(r, "values") else list(r)
                )
                for r in rows
            ]
            order = xh.key64_slot_order(ranked)
            bits = [b for _, b in ranked]
            out.append(order[bits.index(int(mine))])
        return pd.Series(out, dtype="object")

    spark.udf.register("ch_k64_slot", ch_k64_slot)

    @pandas_udf(LongType())
    def ch_uniq_hll12(keys: pd.Series, trivial: pd.Series) -> pd.Series:
        # bit-exact uniqHLL12 (HyperLogLogWithSmallSetOptimization
        # <_, 16, 12>) — see dialect/reservoir.py hll12_count
        from . import reservoir as R
        import numpy as np

        out = []
        for ks, tr in zip(keys, trivial):
            arr = np.asarray([] if ks is None else ks, dtype=np.int64).astype(
                np.uint64
            )
            out.append(int(R.hll12_count(arr, bool(tr))))
        return pd.Series(out, dtype="object")

    spark.udf.register("ch_uniq_hll12", ch_uniq_hll12)

    @pandas_udf(LongType())
    def ch_uniq_combined(keys: pd.Series, kind: pd.Series) -> pd.Series:
        # bit-exact uniqCombined (CombinedCardinalityEstimator 16/14/17
        # + HLL++ bias tables) — dialect/reservoir.py
        from . import reservoir as R
        import numpy as np

        out = []
        for ks, kd in zip(keys, kind):
            arr = np.asarray([] if ks is None else ks, dtype=np.int64).astype(
                np.uint64
            )
            out.append(int(R.uniq_combined_count(arr, str(kd))))
        return pd.Series(out, dtype="object")

    spark.udf.register("ch_uniq_combined", ch_uniq_combined)

    @pandas_udf(StringType())
    def ch_collate_key(s: pd.Series, loc: pd.Series) -> pd.Series:
        # ORDER BY … COLLATE — ICU-tailored sort key
        # (functions/collation.py)
        from ..functions.collation import collate_key

        return pd.Series([
            None if v is None else collate_key(str(v), str(lo))
            for v, lo in zip(s, loc)
        ], dtype="object")

    spark.udf.register("ch_collate_key", ch_collate_key)
    spark.udf.register("ch_exp", ch_exp)
    spark.udf.register("ch_url_decode", ch_url_decode)
    spark.udf.register("ch_f64_bits", ch_f64_bits)
    spark.udf.register("ch_f32_bits", ch_f32_bits)


# ------------------------------------------------------------- dispatch

_INT_TYPES = {
    "UInt8", "UInt16", "UInt32", "Int8", "Int16", "Int32", "Int64",
    "UInt64",
}


def _enum_value_sql(x: str, ch_type: str) -> str | None:
    from .statements import _enum_pairs

    pairs = _enum_pairs(ch_type)
    if not pairs:
        return None
    whens = " ".join(
        "WHEN '{}' THEN {}".format(n.replace("'", "\\'"), v) for n, v in pairs
    )
    return f"CAST((CASE {x} {whens} END) AS BIGINT)"


def element_to_int_sql(x: str, ch_type: str) -> str | None:
    """Render the toInteger() bit pattern (FunctionsHashing.cpp:26) of a
    scalar as BIGINT SQL, or None when the type needs a UDF/other path."""
    t = ch_type or ""
    if t.startswith("Nullable("):
        t = t[9:-1]
    if t in _INT_TYPES:
        if t == "UInt64":
            return u64_to_signed(x)
        return f"CAST(({x}) AS BIGINT)"
    if t == "Date":
        return f"CAST(datediff(({x}), DATE '1970-01-01') AS BIGINT)"
    if t == "DateTime":
        return f"CAST(unix_timestamp({x}) AS BIGINT)"
    if t.startswith("Enum"):
        return _enum_value_sql(x, t)
    return None


def scalar_hash_sql(x: str, ch_type: str, str_udf: str = "ch_city64") -> str | None:
    """Per-element hash used inside the multi-arg combine: intHash64 of
    the integer pattern, or the string Hash64 UDF."""
    t = ch_type or ""
    if t.startswith("Nullable("):
        t = t[9:-1]
    as_int = element_to_int_sql(x, t)
    if as_int is not None:
        return sql_int_hash64(as_int)
    if t == "String" or t.startswith("FixedString"):
        return f"{str_udf}({x})"
    if t == "Float64":
        return sql_int_hash64(f"ch_f64_bits({x})")
    if t == "Float32":
        return sql_int_hash64(f"ch_f32_bits({x})")
    return None


def array_fold_sql(
    arr: str, elem_type: str, prev: str | None, arr_udf: str = "ch_city64_arr"
) -> str | None:
    """FunctionNeighbourhoodHash64::executeArray (FunctionsHashing.h:478):
    h = IntHash64(len); combined into the running value, then each
    element hash in order.  Pure SQL via transform + aggregate."""
    ln = sql_int_hash64(f"CAST(size({arr}) AS BIGINT)")
    init = ln if prev is None else sql_h128(prev, ln)
    et = elem_type or ""
    if et.startswith("Nullable("):
        et = et[9:-1]
    as_int = element_to_int_sql("__e", et)
    if as_int is not None:
        hashes = f"transform({arr}, __e -> {sql_int_hash64(as_int)})"
    elif et == "String" or et.startswith("FixedString"):
        hashes = f"{arr_udf}({arr})"
    else:
        return None
    return f"aggregate({hashes}, CAST(({init}) AS BIGINT), (__acc, __h) -> {sql_h128('__acc', '__h')})"
