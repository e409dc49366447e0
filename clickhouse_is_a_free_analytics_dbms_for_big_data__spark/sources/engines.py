"""Non-MergeTree storage engines (reference StorageFactory.cpp:242-859)
re-expressed as Spark-native table policies.

| Engine       | Reference                           | Here                         |
|--------------|-------------------------------------|------------------------------|
| Memory       | StorageFactory.cpp:398 (RAM blocks) | cached DataFrame             |
| Null         | :402 (discard writes, empty reads)  | no-op sink / empty DF        |
| Set          | :330 (persisted IN-set)             | broadcast distinct keys      |
| Join         | :336 (persisted hash-join RHS)      | persisted broadcast DF       |
| File         | :276 (file(format) table)           | read_format over a path      |
| Merge        | :406 (union tables by regex)        | unionByName over catalog     |
| Buffer       | :495 (RAM buffer, flush thresholds) | streaming/buffer.py          |
| Distributed  | :436 (scatter/gather)               | no-op: Spark IS distributed  |
| numbers      | StorageSystemNumbers.h              | spark.range                  |
| merge()/remote() table fns | TableFunctions/       | helpers below                |

Everything here returns plain DataFrames, so Catalyst owns the plan:
a Set probe is a broadcast semi-join, a Join engine lookup is a
broadcast hash join — which is exactly the reference's in-RAM hash
structure, but executor-replicated instead of single-node.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .formats import read_format
from .mergetree import winner_per_key

__all__ = [
    "MemoryTable",
    "SetTable",
    "JoinTable",
    "null_table",
    "file_table",
    "merge_tables",
    "numbers",
    "numbers_mt",
    "one",
    "remote",
]


class MemoryTable:
    """Engine=Memory: rows pinned in RAM (StorageMemory.h).  On Spark:
    a cached DataFrame; appends re-cache (reference semantics are
    append-only inserts into an in-RAM block list)."""

    def __init__(self, df: DataFrame):
        self._df = df.cache()

    def read(self) -> DataFrame:
        return self._df

    def insert(self, rows: DataFrame) -> "MemoryTable":
        old = self._df
        self._df = old.unionByName(rows).cache()
        self._df.count()  # materialize before dropping the old cache
        old.unpersist()
        return self

    def drop(self) -> None:
        self._df.unpersist()


def null_table(spark: SparkSession, schema: str) -> DataFrame:
    """Engine=Null (StorageFactory.cpp:402): reads are empty, writes
    vanish.  The read side: an empty DataFrame with the declared schema."""
    return spark.createDataFrame([], schema)


class SetTable:
    """Engine=Set (Storages/StorageSet; Interpreters/Set.h:24): a
    persisted set probed by ``IN``.  Spark: distinct key frame; probe =
    broadcast LEFT SEMI join (the scale-correct form of the reference's
    replicated in-RAM hash set)."""

    def __init__(self, keys: DataFrame):
        self._keys = keys.distinct().cache()

    def contains_filter(self, df: DataFrame, col: str, negate: bool = False) -> DataFrame:
        key_col = self._keys.columns[0]
        probe = F.broadcast(self._keys.withColumnRenamed(key_col, "__set_k"))
        how = "left_anti" if negate else "left_semi"
        return df.join(probe, on=df[col] == probe["__set_k"], how=how)

    def insert(self, keys: DataFrame) -> "SetTable":
        old = self._keys
        self._keys = old.unionByName(keys.toDF(*old.columns)).distinct().cache()
        self._keys.count()
        old.unpersist()
        return self


class JoinTable:
    """Engine=Join (StorageJoin.h; StorageFactory.cpp:336): a persisted
    pre-built join RHS.  Spark: cached DataFrame joined with an explicit
    broadcast hint; ``strictness='any'`` reproduces ANY-join first-match
    (right side deduped per key)."""

    def __init__(self, df: DataFrame, key_cols: Sequence[str], strictness: str = "all"):
        self.key_cols = list(key_cols)
        if strictness == "any":
            df = winner_per_key(df, self.key_cols, pick="min")
        self._df = df.cache()

    def join(self, left: DataFrame, how: str = "left") -> DataFrame:
        return left.join(F.broadcast(self._df), on=self.key_cols, how=how)

    def read(self) -> DataFrame:
        return self._df


def file_table(
    spark: SparkSession, path: str, fmt: str, schema: str | None = None
) -> DataFrame:
    """Engine=File(format) (StorageFactory.cpp:276): a table backed by a
    file in one of the FormatFactory formats."""
    return read_format(spark, path, fmt, schema=schema)


def merge_tables(
    spark: SparkSession, pattern: str, tables: Sequence[str] | None = None
) -> DataFrame:
    """Engine=Merge(db, 'regex') / merge() table function
    (StorageFactory.cpp:406, TableFunctions/TableFunctionMerge.h):
    union of all catalog tables whose name matches the regex, with a
    ``_table`` virtual column naming the source (reference virtual
    column of the same name)."""
    rx = re.compile(pattern)
    if tables is None:
        tables = [t.name for t in spark.catalog.listTables()]
    names = [t for t in tables if rx.fullmatch(t)]
    if not names:
        raise ValueError(f"no tables match {pattern!r}")
    parts = [
        spark.table(n).withColumn("_table", F.lit(n)) for n in names
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def numbers(spark: SparkSession, n: int, start: int = 0) -> DataFrame:
    """system.numbers / numbers(N) (StorageSystemNumbers.h): integers
    0..n-1 as column ``number``; spark.range is already a parallel,
    partitioned source."""
    return spark.range(start, start + n).withColumnRenamed("id", "number")


def numbers_mt(spark: SparkSession, n: int, parallelism: int | None = None) -> DataFrame:
    """system.numbers_mt — multithreaded variant; numPartitions maps to
    the reference's thread count."""
    rng = (
        spark.range(0, n, 1, parallelism) if parallelism else spark.range(n)
    )
    return rng.withColumnRenamed("id", "number")


def one(spark: SparkSession) -> DataFrame:
    """system.one: single row, column ``dummy`` = 0 (StorageSystemOne)."""
    return spark.createDataFrame([(0,)], "dummy TINYINT")


def shard_by_hash(
    spark: SparkSession,
    table: str,
    key_value: str,
    n_shards: int,
    shard_key: str,
) -> DataFrame:
    """shardByHash(cluster, key, db, table) analog
    (TableFunctions/TableFunctionShardByHash.h): the reference hashes
    ``key`` to pick ONE shard of the cluster and reads that shard's
    table.  Spark has no physical shards, so a shard is the hash-slice
    of rows whose ``shard_key`` lands on the selected index — the same
    subset a sharded-by-key cluster would hold on that node."""
    df = spark.table(table)
    # the selected shard index is a literal expression — Catalyst
    # constant-folds it inside the predicate, no driver-side job
    idx = F.pmod(F.xxhash64(F.lit(key_value)), F.lit(n_shards))
    return df.filter(
        F.pmod(F.xxhash64(F.col(shard_key)), F.lit(n_shards)) == idx
    )


def remote(spark: SparkSession, table: str) -> DataFrame:
    """remote()/Distributed (TableFunctionRemote.h, StorageFactory.cpp:436):
    on the reference this ships the query to shards and gathers
    WithMergeableState results; Spark's scheduler already does exactly
    this for any catalog table, so remote() degenerates to a table read."""
    return spark.table(table)
