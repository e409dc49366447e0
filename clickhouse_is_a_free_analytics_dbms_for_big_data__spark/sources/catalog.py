"""Table catalog: parquet dirs -> DataFrames / temp views.

Plays the role of the reference's table registry
(dbms/src/Storages/StorageFactory.cpp) for the test corpus: every table
is columnar storage read through the vectorized parquet reader with
predicate pushdown and column pruning — the Spark analog of the
reference's column files + PREWHERE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..memo import Memo, session_key, source_sig

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Table readers and temp-view registrations are memoized (memo.py):
# ``spark.read.parquet`` pays a driver-side footer read + schema
# inference of ~80 ms PER CALL (measured r11), and re-registering ten
# temp views costs ten py4j calls per query build.  Both memos hold
# PLANS, never data — every execution still scans parquet — and a
# rewritten table changes its signature, so it is re-read.
_READERS = Memo()
_VIEWS = Memo()
_CONF_PINNED: set[tuple] = set()


def table_paths(sf_dir: str, tables: tuple[str, ...] = TABLES) -> list[str]:
    return [os.path.join(sf_dir, f"{name}.parquet") for name in tables]


def sf_dir_sig(sf_dir: str, tables: tuple[str, ...] = TABLES) -> tuple:
    """Signature of the catalog tables under ``sf_dir`` (``None``
    entries for absent tables, so one appearing is a change too)."""
    return tuple(source_sig(p) for p in table_paths(sf_dir, tables))


def parquet_row_count(path: str) -> int | None:
    """Exact row count from the parquet FOOTERS (file or directory of
    part files) — a metadata read, no data scan: the same way the
    reference serves a bare count() from part metadata
    (MergeTree data parts carry row counts).  Returns None when the
    path is not readable parquet so callers can fall back to a scan.
    """
    import pyarrow.parquet as pq

    try:
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        total = 0
        found = False
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
                    found = True
        return total if found else None
    except Exception:
        return None


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load each parquet table lazily; missing files are skipped."""
    # Queries must run under ANY caller-provided session (the driver
    # builds its own), so pin the runtime confs the engine relies on:
    # nanos timestamps read as long, and non-ANSI arithmetic (the
    # reference wraps on overflow; ANSI would throw on hash mixing).
    # Pinned once per session (two py4j round trips otherwise re-paid
    # on every query build).
    sess = session_key(spark)
    # keyed on the (app, id) SESSION tuple, not the app alone:
    # spark.conf.set is per-SparkSession, and a driver may hand us a
    # spark.newSession() clone that shares the applicationId but not
    # the runtime conf (r11 advice)
    if sess not in _CONF_PINNED:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        _CONF_PINNED.add(sess)
    out: dict[str, DataFrame] = {}
    for name, path in zip(tables, table_paths(sf_dir, tables)):
        if os.path.exists(path):
            out[name] = _READERS.get_or_build(
                spark, path, lambda p=path: source_sig(p),
                lambda n=name, p=path: _read_table(spark, n, p),
            )
    return out


def _read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # TIMESTAMP(NANOS) columns arrive as long nanos (see session
    # conf); surface them as microsecond timestamps like every other
    # engine (DuckDB/pyarrow truncate the same way).
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load and register every table as a temp view (idempotent).

    Views are session-global, so the memo has one entry per session,
    recording which ``sf_dir`` (and table files) the views point at:
    a call for another directory, another table set, or after a
    rewrite registers again, whichever caller made the last one.  The
    catalog's table names are registered only here; a view replaced
    by other code is not noticed."""

    def register() -> dict[str, DataFrame]:
        dfs = load_tables(spark, sf_dir, tables)
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return dfs

    return dict(_VIEWS.get_or_build(
        spark, "views",
        lambda: (sf_dir, tables, sf_dir_sig(sf_dir, tables)), register,
    ))
