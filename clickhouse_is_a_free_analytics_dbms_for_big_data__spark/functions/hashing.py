"""Hash functions.

Reference: dbms/src/Functions/FunctionsHashing.cpp: halfMD5, MD5,
SHA1/224/256, sipHash64/128, cityHash64, farmHash64, metroHash64,
intHash32/64, URLHash.

Every helper returns the reference's value: the cryptographic hashes
are Spark built-ins, intHash32/64 are the reference's salted integer
finalizers in JVM arithmetic, and the fast 64-bit family
(sipHash64/cityHash64/farmHash64/metroHash64/URLHash) runs the scalar
ports in exact_hash.py.  64-bit results are the signed-BIGINT bit
pattern of the reference's UInt64 (wraparound documented).  Only
``hashMod``, the engine's own sharding primitive, is xxhash64.
"""

# NOTE: no `from __future__ import annotations` — the pandas-UDF type
# hints below must be live objects for PySpark's signature inference.

from pyspark.sql import Column
from pyspark.sql import functions as F

from ._util import col_of, let_

__all__ = [
    "MD5", "halfMD5", "SHA1", "SHA224", "SHA256", "sipHash64",
    "cityHash64", "farmHash64", "metroHash64", "intHash32", "intHash64",
    "URLHash", "hashMod",
]


def MD5(s) -> Column:
    return F.md5(col_of(s).cast("binary"))


def halfMD5(s) -> Column:
    """First 8 bytes of MD5 as a big-endian UInt64 (reference halfMD5).
    Returned as signed long (wraparound documented)."""
    return F.conv(F.substring(F.md5(col_of(s).cast("binary")), 1, 16), 16, 10).cast(
        "decimal(20,0)"
    )


def SHA1(s) -> Column:
    return F.sha1(col_of(s).cast("binary"))


def SHA224(s) -> Column:
    return F.sha2(col_of(s).cast("binary"), 224)


def SHA256(s) -> Column:
    return F.sha2(col_of(s).cast("binary"), 256)


_INT_TYPES = ("tinyint", "smallint", "int", "bigint", "decimal(20,0)")


def _exact_hash64(name: str, scalar_fn_name: str, ints_as_text: bool):
    """One-argument hash: an Arrow-batched pandas UDF over the scalar
    port in exact_hash.py, dispatched on the argument's Spark type as
    the CH-SQL path (dialect/hash_sql.py) dispatches on its CH type.
    A String hashes its UTF-8 bytes; an integer hashes as intHash64 of
    its value (FunctionNeighbourhoodHash64), or as its decimal text for
    the String-only functions.  The value travels as text, so a 64-bit
    integer keeps every bit even with NULLs in the column."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def _make():
        import pandas as pd

        from . import exact_hash as xh

        fn = getattr(xh, scalar_fn_name)

        def one(v: str, t: str) -> int:
            if t == "string" or (ints_as_text and t in _INT_TYPES):
                h = fn(v.encode())
            elif t in _INT_TYPES:
                h = xh.int_hash_64(int(v))
            else:
                raise TypeError(
                    f"{name}: no bit-exact DataFrame path for type {t}; "
                    "run it through ChEngine"
                )
            return h - (1 << 64) if h >= (1 << 63) else h

        @pandas_udf(LongType())
        def _hash(s: pd.Series, t: pd.Series) -> pd.Series:
            return pd.Series(
                [None if v is None else one(v, tt) for v, tt in zip(s, t)],
                dtype="object",
            )

        return _hash

    def wrapper(*cols) -> Column:
        if len(cols) != 1:
            raise ValueError(
                f"{name}: the DataFrame helper hashes one argument; "
                "multi-argument combines run through ChEngine"
            )
        c = col_of(cols[0])
        return _make()(c.cast("string"), F.typeof(c))

    wrapper.__name__ = name
    wrapper.__doc__ = f"Bit-exact {name} (functions/exact_hash.{scalar_fn_name})."
    return wrapper


sipHash64 = _exact_hash64("sipHash64", "sip_hash_64", ints_as_text=True)
cityHash64 = _exact_hash64("cityHash64", "city_hash_64", ints_as_text=False)
farmHash64 = _exact_hash64("farmHash64", "farm_hash_64", ints_as_text=False)
metroHash64 = _exact_hash64("metroHash64", "metro_hash_64_1", ints_as_text=False)
URLHash = _exact_hash64("URLHash", "url_hash", ints_as_text=True)


def _chain(x: Column, *steps) -> Column:
    """``steps`` applied in turn, each one's input evaluated once."""
    return x if not steps else let_(x, lambda v: _chain(steps[0](v), *steps[1:]))


def _rotr(x: Column, n: int) -> Column:
    return F.shiftrightunsigned(x, n).bitwiseOR(F.shiftleft(x, 64 - n))


def _xorshift(x: Column, n: int) -> Column:
    return x.bitwiseXOR(F.shiftrightunsigned(x, n))


def intHash64(x) -> Column:
    """IntHash64Impl (FunctionsHashing.h:159): the MurmurHash3
    finalizer over ``x ^ 0x4CF2D2BAAE6DA887``.  Signed-long wraparound
    is identical to C++ unsigned mul mod 2^64."""
    return _chain(
        col_of(x).cast("long").bitwiseXOR(F.lit(0x4CF2D2BAAE6DA887)),
        lambda h: _xorshift(h, 33) * F.lit(-49064778989728563),  # 0xff51afd7ed558ccd
        lambda h: _xorshift(h, 33) * F.lit(-4265267296055464877),  # 0xc4ceb9fe1a85ec53
        lambda h: _xorshift(h, 33),
    )


def intHash32(x) -> Column:
    """intHash32<0x75D9543DE018BF45> (Hash.h:144), UInt32 result —
    the steps of hash_sql.sql_int_hash32."""
    return _chain(
        col_of(x).cast("long").bitwiseXOR(F.lit(0x75D9543DE018BF45)),
        lambda k: F.bitwise_not(k) + F.shiftleft(k, 18),
        lambda k: k.bitwiseXOR(_rotr(k, 31)) * 21,
        lambda k: k.bitwiseXOR(_rotr(k, 11)),
        lambda k: k + F.shiftleft(k, 6),
        lambda k: k.bitwiseXOR(_rotr(k, 22)).bitwiseAND(F.lit(0xFFFFFFFF)),
    )


def hashMod(x, mod: int) -> Column:
    """Deterministic bucket id in [0, mod) — the engine's sharding/
    sampling primitive (used by SAMPLE, LSH banding, IVF routing)."""
    return F.pmod(F.xxhash64(col_of(x)), F.lit(mod))
