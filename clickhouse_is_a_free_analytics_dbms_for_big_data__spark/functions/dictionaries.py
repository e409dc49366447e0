"""External dictionaries (reference: Dictionaries/ dir,
FunctionsExternalDictionaries.cpp, FunctionsEmbeddedDictionaries.cpp).

The reference replicates small key-value tables into every server's RAM
and probes them with dictGetT/dictHas/dictGetHierarchy/dictIsIn plus
the regionTo* geo helpers.  The Spark-native equivalent of "replicated
in-RAM table" is a **broadcast DataFrame**: every dictGet becomes a
broadcast hash join (scale-correct: the dim ships once per executor,
the fact table never moves).

Layouts:
- flat/hashed (DictionaryStructure.h) → plain broadcast join on the key;
- range_hashed → broadcast join with a BETWEEN predicate — the single
  "range join" in the reference (SURVEY §2.8);
- hierarchy (dictGetHierarchy/dictIsIn, regionTo*) → ancestor closure
  precomputed once on the driver (hierarchy dicts are small dims by
  definition) and broadcast as a literal map.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["Dictionary", "RangeDictionary", "HierarchyDictionary"]


class Dictionary:
    """flat/hashed layout: unique key → attribute row."""

    def __init__(self, df: DataFrame, key: str):
        self.key = key
        self._df = df.cache()

    def get(
        self,
        df: DataFrame,
        attr: str,
        key_expr: Column,
        default=None,
        out: str | None = None,
    ) -> DataFrame:
        """dictGetT / dictGetTOrDefault: broadcast-join lookup adding
        column ``out`` (default: attr name).  Missing keys → ``default``
        (reference dictGet returns the type default; pass 0/'' for
        bit-parity, None for SQL NULL)."""
        out = out or attr
        dim = F.broadcast(
            self._df.select(
                F.col(self.key).alias("__dk"), F.col(attr).alias("__dv")
            )
        )
        joined = df.join(dim, on=key_expr == F.col("__dk"), how="left")
        val = F.col("__dv")
        if default is not None:
            val = F.coalesce(val, F.lit(default))
        return joined.withColumn(out, val).drop("__dk", "__dv")

    def has(self, df: DataFrame, key_expr: Column, out: str = "has") -> DataFrame:
        """dictHas: membership flag via broadcast join."""
        dim = F.broadcast(
            self._df.select(F.col(self.key).alias("__dk")).distinct()
        )
        joined = df.join(dim, on=key_expr == F.col("__dk"), how="left")
        return joined.withColumn(out, F.col("__dk").isNotNull()).drop("__dk")


class RangeDictionary:
    """range_hashed layout: (key, range_min..range_max) → attributes.
    dictGetT(dict, attr, key, date) matches the row whose range contains
    the probe value (Dictionaries/RangeHashedDictionary.h analog)."""

    def __init__(self, df: DataFrame, key: str, range_min: str, range_max: str):
        self.key, self.lo, self.hi = key, range_min, range_max
        self._df = df.cache()

    def get(
        self,
        df: DataFrame,
        attr: str,
        key_expr: Column,
        point_expr: Column,
        default=None,
        out: str | None = None,
    ) -> DataFrame:
        out = out or attr
        dim = F.broadcast(
            self._df.select(
                F.col(self.key).alias("__dk"),
                F.col(self.lo).alias("__dlo"),
                F.col(self.hi).alias("__dhi"),
                F.col(attr).alias("__dv"),
            )
        )
        cond = (
            (key_expr == F.col("__dk"))
            & (point_expr >= F.col("__dlo"))
            & (point_expr <= F.col("__dhi"))
        )
        joined = df.join(dim, on=cond, how="left")
        val = F.col("__dv")
        if default is not None:
            val = F.coalesce(val, F.lit(default))
        return joined.withColumn(out, val).drop("__dk", "__dlo", "__dhi", "__dv")


class HierarchyDictionary:
    """hierarchical layout (id, parent_id): dictGetHierarchy, dictIsIn,
    and the regionTo* family (RegionsHierarchy in the reference's
    embedded dictionaries).

    The ancestor closure is computed once on the driver — hierarchy
    dictionaries are small (regions/categories); the closure broadcasts
    as a literal map so probes stay JVM-side with zero shuffles.
    """

    def __init__(self, df: DataFrame, id_col: str, parent_col: str):
        rows = df.select(id_col, parent_col).collect()
        parent = {r[0]: r[1] for r in rows}
        self._chains: dict[int, list[int]] = {}
        for node in parent:
            chain = [node]
            cur = parent.get(node)
            while cur is not None and cur not in chain and len(chain) < 64:
                chain.append(cur)
                cur = parent.get(cur)
            self._chains[node] = chain
        self._parent = parent

    def hierarchy_expr(self, key_expr: Column) -> Column:
        """dictGetHierarchy(key) → array [key, parent, grandparent, ...]."""
        mapping = F.map_from_arrays(
            F.array(*[F.lit(k) for k in self._chains]),
            F.array(*[F.array(*[F.lit(v) for v in chain]) for chain in self._chains.values()]),
        )
        return F.coalesce(
            F.element_at(mapping, key_expr), F.array(key_expr)
        )

    def is_in_expr(self, child_expr: Column, ancestor_expr: Column) -> Column:
        """dictIsIn(child, ancestor): ancestor ∈ hierarchy(child)."""
        return F.array_contains(self.hierarchy_expr(child_expr), ancestor_expr)

    def ancestor_at_expr(self, key_expr: Column, depth: int) -> Column:
        """regionToCountry-style: the ancestor ``depth`` levels up
        (0 = self), NULL when the chain is shorter."""
        return F.element_at(self.hierarchy_expr(key_expr), depth + 1)
