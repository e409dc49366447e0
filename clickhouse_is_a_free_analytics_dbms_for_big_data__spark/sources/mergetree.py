"""MergeTree-family table engines re-expressed as Spark write/compaction
policies.

Reference architecture (dbms/src/Storages/MergeTree/MergeTreeData.h:38-73):
a table is a set of sorted parts — inserts write sorted parts,
background merges combine them, and the *merge-time semantics* of each
engine variant (Summing/Replacing/Collapsing/Aggregating/Graphite) are
incremental aggregation/dedup policies.

Spark-first translation (SURVEY.md §2.1): the storage layout is
month-partitioned parquet with rows sorted by the primary key inside
each file — parquet row-group min/max stats then play the role of the
sparse primary index (primary.idx), and partition pruning plays the
role of the month-part selection.  Merge semantics become one SQL rule
per engine (``merge_rule``): FINAL applies it at read time, and its
``compact_*`` DataFrame entry points run it as an idempotent
*compaction job* — for OPTIMIZE, batch, or as foreachBatch in
streaming.

Scale notes: compactions are single-shuffle (one groupBy/window on the
PK).  At 100 TB run them per partition (the month column) so each job
shuffles one partition's worth, exactly like the reference's per-part
merges.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import Memo, source_sig


def _lc_dict_path(path: str, col: str) -> str:
    # the leading underscore makes Spark's file index skip the dict
    # directory when scanning the main table
    return os.path.join(path, "__lc__", col)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — storage-
    agnostic (local, HDFS, object stores with configured connectors)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _list_lc_cols(spark: SparkSession, path: str) -> list[str]:
    """Names of dictionary-encoded columns of a MergeTree table: the
    subdirectories of ``path/__lc__``, listed through Hadoop's
    FileSystem so discovery works on any storage the session can read
    the table from (not just the driver's local FS)."""
    fs, hpath = _hadoop_fs(spark, os.path.join(path, "__lc__"))
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory()
    )


def write_mergetree(
    df: DataFrame,
    path: str,
    date_col: str,
    order_by: Sequence[str],
    mode: str = "append",
    partition_granularity: str = "month",
    low_cardinality: Sequence[str] = (),
    parts_per_partition: int = 1,
) -> None:
    """MergeTree writer: partition by toYYYYMM(date), sort by PK within
    partitions (MergeTreeData.h:43-61 — month partitions + primary.idx).

    Sorted writes give parquet row-group min/max stats on the PK, so
    PK-range predicates skip row groups like the reference's
    markRangesFromPKRange (MergeTreeDataSelectExecutor.cpp:93).

    ``low_cardinality`` columns are DICTIONARY-ENCODED at write time —
    the descendant of the reference's LowCardinality idea
    (DataTypeString keys are the whole cost of a string GROUP BY:
    Columns/ColumnString.h): the stored column holds a dense int CODE
    and the (code, value) dictionary lives under ``path/__lc__/<col>``.
    Downstream GROUP BYs then hash/compare 4-byte ints and shuffle
    codes instead of strings, decoding via a broadcast join AFTER the
    aggregation (late materialization — see ``read_mergetree``'s
    ``decode_lc`` and ``lc_decode``).  Codes are assigned by value
    order, so equal inputs produce identical tables on every engine.

    ``mode="append"`` MERGES dictionaries — the analog of the
    reference's per-part dictionary unification on merge
    (MergeTreeData.h parts are self-describing; merged parts share one
    dict): values already in the table's dict keep their codes
    unchanged (no rewrite of stored data), genuinely-new values get
    codes after the current max, assigned in value order.  The merged
    (superset) dict lands BEFORE the appended rows so a reader never
    sees a code without a dict entry.
    """
    # spark handle for dict reads/FS checks (df is always attached)
    spark = df.sparkSession
    dicts: dict[str, DataFrame] = {}
    for col in low_cardinality:
        # NULL never joins the encode equality, so it encodes to a NULL
        # code and decodes back to NULL without a dict entry — keep it
        # out of the vocab (an append would otherwise add a fresh
        # NULL-value row per insert)
        vocab = (
            df.select(F.col(col).alias("__lc_value"))
            .filter(F.col("__lc_value").isNotNull())
            .distinct()
        )
        # vocab-sized global window: the dictionary is RAM-resident in
        # the reference too; a 100 TB corpus with a genuinely-low-
        # cardinality column keeps this tiny.  Materialize BEFORE the
        # main write touches ``path`` out from under the lineage.
        # Dict columns use reserved __lc_* names so a table that itself
        # has a `value`/`code` column survives the encode join.
        fs, tbl_path = _hadoop_fs(spark, path)
        dict_exists = fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(_lc_dict_path(path, col))
        )
        if mode == "append" and fs.exists(tbl_path) and not dict_exists:
            raise ValueError(
                f"append with low_cardinality={col!r}: table {path} "
                "exists but has no dictionary for that column (it was "
                "written unencoded) — appending codes onto stored "
                "strings would corrupt the column"
            )
        if mode == "append" and dict_exists:
            old = _read_lc_dict(spark, path, col)
            new_vals = vocab.join(
                old, on="__lc_value", how="left_anti"
            ).withColumn(
                "__lc_code",
                F.row_number().over(Window.orderBy("__lc_value")).cast("int")
                + F.lit(old.agg(F.max("__lc_code")).collect()[0][0] or 0),
            )
            dict_df = old.unionByName(new_vals).localCheckpoint(eager=True)
        else:
            dict_df = vocab.withColumn(
                "__lc_code",
                F.row_number().over(Window.orderBy("__lc_value")).cast("int"),
            ).localCheckpoint(eager=True)
        dicts[col] = dict_df
        order = df.columns
        df = (
            df.join(
                F.broadcast(dict_df), df[col] == dict_df["__lc_value"], "left"
            )
            .withColumn(col, F.col("__lc_code"))
            .drop("__lc_value", "__lc_code")
            .select(*order)
        )
    if mode == "append":
        # superset dict first: old rows still decode, and a failure
        # between the two writes never strands an undecodable code
        for col, dict_df in dicts.items():
            dict_df.write.mode("overwrite").parquet(_lc_dict_path(path, col))
    fmt = {"month": "yyyyMM", "day": "yyyyMMdd"}[partition_granularity]
    out = df.withColumn("_partition", F.date_format(F.col(date_col), fmt))
    # Overwrite with LC columns builds in a STAGING dir and publishes
    # with a rename swap: writing data straight to ``path`` (overwrite
    # clears it) and dictionaries after would leave a crash window
    # where the table reads back raw int codes with no dict — silently
    # wrong values.  With the swap, a crash leaves either the old
    # table intact or (in the instant between renames) no table at
    # all — a loud error, never codes.
    target = path
    publish = mode != "append" and bool(dicts)
    if publish:
        target = path.rstrip("/") + ".__lc_staging__"
    # ``parts_per_partition`` > 1 writes several PK-sorted files per
    # month — the analog of multiple parts within a MergeTree
    # partition.  One file per month serializes downstream scans when
    # the file fits a single parquet row group (measured r10: the
    # stored hits table at 1M rows scanned on ONE task); PK-hashed
    # parts restore scan parallelism while each file stays sorted for
    # row-group pruning.  repartitionByRange over the PK hash with an
    # EXPLICIT partition count: a column-hash repartition without a
    # count is AQE-coalescible (measured r11 at 10M rows: the 32
    # requested parts collapsed to 8 files with 4x size skew, and the
    # partial agg of every stored GROUP BY ran on 8 uneven tasks —
    # slower than the derived view it was built to beat), and hashing
    # a k-valued salt into k buckets loses ~1/e of the parts to
    # collisions; even hash RANGES give exactly N files per month.
    # The range sampling pass reads one hashed column — O(sample).
    if parts_per_partition > 1:
        out = out.repartitionByRange(
            parts_per_partition,
            F.xxhash64(*[F.col(c) for c in order_by]),
        )
    else:
        out = out.repartition(F.col("_partition"))
    try:
        (
            out.sortWithinPartitions(*order_by)
            .write.mode("overwrite" if publish else mode)
            .partitionBy("_partition")
            .parquet(target)
        )
        if publish:
            for col, dict_df in dicts.items():
                dict_df.write.mode("overwrite").parquet(
                    _lc_dict_path(target, col)
                )
            jP = spark._jvm.org.apache.hadoop.fs.Path
            fs, tbl_path = _hadoop_fs(spark, path)
            backup = jP(path.rstrip("/") + ".__lc_old__")
            fs.delete(backup, True)
            # Hadoop rename reports failure by RETURNING FALSE, not
            # raising — an unchecked swap could delete the backup
            # after a failed rename (old table destroyed) or rename
            # the staging dir INTO the still-existing table dir.
            # Check both; only a fully-successful swap may drop the
            # backup.
            if fs.exists(tbl_path) and not fs.rename(tbl_path, backup):
                raise IOError(
                    f"LC publish: could not move current table "
                    f"{path} aside; table left untouched"
                )
            if not fs.rename(jP(target), tbl_path):
                # restore the old table before failing loudly
                fs.rename(backup, tbl_path)
                raise IOError(
                    f"LC publish: could not move staging into place "
                    f"for {path}; previous table restored"
                )
            fs.delete(backup, True)
    except Exception:
        # never leak the fixed-name staging dir (a full table copy)
        # on a failed build or publish; the swap above guarantees the
        # previous table survives
        if publish:
            try:
                fs, _ = _hadoop_fs(spark, path)
                fs.delete(
                    spark._jvm.org.apache.hadoop.fs.Path(target), True
                )
            except Exception:  # pragma: no cover - best-effort
                pass
        raise


def _read_lc_dict(spark: SparkSession, path: str, col: str) -> DataFrame:
    d = spark.read.parquet(_lc_dict_path(path, col))
    if "__lc_value" not in d.columns:
        # pre-r10 on-disk layout used bare value/code column names
        d = d.select(
            F.col("value").alias("__lc_value"),
            F.col("code").alias("__lc_code"),
        )
    return d.select("__lc_value", "__lc_code")


_LC_MAPS = Memo()


def lc_dict_map(
    spark: SparkSession, path: str, col: str, max_entries: int = 100_000
) -> dict[int, str]:
    """A LowCardinality dictionary as a collected ``{code: value}``
    dict, memoized per (session, dictionary) until the dictionary's
    files change — a writer that rewrites them needs no hook.  The
    reference holds LC dictionaries RAM-resident the same way;
    ``max_entries`` guards the contract (raise rather than silently
    collect a high-cardinality column — use the broadcast-join
    ``lc_decode`` for those)."""
    dict_path = _lc_dict_path(path, col)

    def collect() -> dict[int, str]:
        rows = _read_lc_dict(spark, path, col).limit(max_entries + 1).collect()
        if len(rows) > max_entries:
            raise ValueError(
                f"LC dictionary {col!r} at {path} exceeds "
                f"max_entries={max_entries}; use lc_decode (broadcast "
                "join) instead of a collected map"
            )
        return {r["__lc_code"]: r["__lc_value"] for r in rows}

    return _LC_MAPS.get_or_build(
        spark, (dict_path, max_entries), lambda: source_sig(dict_path), collect
    )


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lc_decode_expr(
    spark: SparkSession, path: str, col: str, max_entries: int = 100_000
) -> Column:
    """Decode a LowCardinality code column as a PURE PROJECTION — a
    map literal built from the collected dictionary (no join, no extra
    job; ideal AFTER an aggregation, where it touches only group
    rows).  One expr string, not N py4j Column calls."""
    m = lc_dict_map(spark, path, col, max_entries)
    if not m:
        return F.lit(None).cast("string")
    entries = ", ".join(
        f"{c}, {_sql_str(v)}"
        for c, v in sorted(m.items())
        if c is not None and v is not None  # NULL decodes to NULL anyway
    )
    return F.expr(f"element_at(map({entries}), `{col}`)")


def lc_decode(df: DataFrame, spark: SparkSession, path: str, col: str) -> DataFrame:
    """Restore a LowCardinality column's string values by broadcast-
    joining its dictionary — call AFTER the aggregation for late
    materialization (the join then touches group rows, not data rows).
    Dict columns carry reserved ``__lc_*`` names so tables that
    themselves have a ``value`` or ``code`` column decode cleanly."""
    bdict = F.broadcast(_read_lc_dict(spark, path, col))
    order = df.columns
    return (
        df.join(bdict, df[col] == bdict["__lc_code"], "left")
        .withColumn(col, F.col("__lc_value"))
        .drop("__lc_code", "__lc_value")
        .select(*order)
    )


def read_mergetree(
    spark: SparkSession,
    path: str,
    date_range: tuple[str, str] | None = None,
    keep_partition_col: bool = False,
    decode_lc: bool = True,
) -> DataFrame:
    """Read a MergeTree-layout table.  ``date_range=(lo, hi)`` (ISO
    dates, inclusive) prunes month partitions BEFORE the scan — the
    analog of the reference's per-part min/max date part selection
    (MergeTreeDataSelectExecutor part filter; MergeTreeData.h:48-52).
    The yyyyMM partition key compares correctly as a string.

    LowCardinality columns decode transparently (broadcast dict join)
    unless ``decode_lc=False`` — pass False to aggregate on the int
    CODES and decode the group rows afterwards with ``lc_decode``
    (late materialization, the whole point of the encoding)."""
    df = spark.read.parquet(path)
    if date_range is not None:
        lo, hi = date_range
        df = df.filter(
            (F.col("_partition") >= lo[:7].replace("-", ""))
            & (F.col("_partition") <= hi[:7].replace("-", ""))
        )
    if decode_lc:
        # dict discovery through Hadoop's FileSystem — works on every
        # store the session can scan the table from (local, HDFS,
        # object stores), so encoded columns can't silently skip decode.
        # Small dictionaries decode as a map-literal PROJECTION (no
        # join, no dict-scan job); big ones fall back to the broadcast
        # join.
        for col in _list_lc_cols(spark, path):
            if col in df.columns:
                try:
                    df = df.withColumn(
                        col, lc_decode_expr(spark, path, col,
                                            max_entries=10_000)
                    )
                except ValueError:
                    df = lc_decode(df, spark, path, col)
    return df if keep_partition_col else df.drop("_partition")


# --- merge-time semantics: one rule per engine ----------------------------


class MergeRule(NamedTuple):
    """One engine's merge, as the reference's FINAL read and background
    merge share one *SortedBlockInputStream.  ``sql(src, final)`` is the
    merge over ``src`` as a FROM-able SQL subquery — a FINAL read
    (``final=True``) or a merge.  ``compact(df)`` runs the merge over a
    DataFrame through the engine's ``compact_*`` entry point (OPTIMIZE
    TABLE); None when a merge rewrites no rows (a plain MergeTree)."""

    sql: Callable[[str, bool], str]
    compact: Callable[[DataFrame], DataFrame] | None


def merge_rule(meta, columns: Sequence[tuple[str, str]] | None) -> MergeRule:
    """The merge rule of ``meta.engine`` — picked here and nowhere else.

    ``meta`` is the table's ``TableMeta``; ``columns`` are its stored
    (name, type) pairs — the Spark simple type, or the declared
    ``AggregateFunction(fn, …)`` type of a state column — or None when
    unknown.  Rows merge per ``key_columns``.  A plain MergeTree read
    FINAL keeps one row per key, like Replacing."""
    pk = key_columns(meta.primary_key, columns)
    if not pk:
        raise ValueError(
            f"a merge needs primary-key columns; {meta.primary_key!r} reads none"
        )
    # without a schema the key entries go in as written
    keys = list(pk) if columns is None else [_quote(k) for k in pk]
    engine = meta.engine
    if engine.startswith("Summing"):
        metrics, maps = summing_parts(meta, columns)
        return MergeRule(
            lambda src, fin: summing_merge_sql(src, keys, columns, metrics, maps, fin),
            lambda df: compact_summing(df, pk, metrics, maps),
        )
    sign = meta.sign_col
    if engine.startswith("Collapsing") and sign:
        return MergeRule(
            lambda src, fin: collapsing_merge_sql(src, keys, columns, sign, final=fin),
            lambda df: compact_collapsing(df, pk, sign),
        )
    if engine.startswith("Aggregating"):
        return MergeRule(
            lambda src, fin: aggregating_merge_sql(src, keys, columns, fin),
            lambda df: _sql_over(
                df, lambda v, _: aggregating_merge_sql(v, keys, columns)
            ),
        )
    order = [meta.version_col] if meta.version_col else []
    replacing = engine.startswith("Replacing")
    return MergeRule(
        lambda src, fin: winner_per_key_sql(src, keys, columns, order),
        (lambda df: compact_replacing(df, pk, meta.version_col)) if replacing else None,
    )


def key_columns(
    primary_key: Sequence[str], columns: Sequence[tuple[str, str]] | None
) -> list[str]:
    """The columns a primary key reads, in key order: an entry naming a
    column, else the columns its expression references.  Rows merge per
    them — as per the key, for an injective expression (``-x``,
    ``intHash32(UserID)``) — and none is summed."""
    if columns is None:
        return list(primary_key)
    names = {c for c, _ in columns}
    out: list[str] = []
    for k in primary_key:
        refs = [k] if k in names else re.findall(r"[A-Za-z_][\w.]*", k)
        out += [c for c in refs if c in names and c not in out]
    return out


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _tie_order(
    keys: Sequence[str],
    columns: Sequence[tuple[str, str]] | None,
    order: Sequence[str],
) -> list[str]:
    """The ``order`` columns, then every other orderable non-key column
    of ``columns``, quoted.  Map columns cannot be ordered and ``_part``
    (the MergeTree virtual part name) is renamed by every merge, so
    neither breaks ties."""
    tie = [_quote(c) for c in order]
    tie += [
        _quote(c)
        for c, t in columns or ()
        if c not in order
        and c not in keys
        and _quote(c) not in keys
        and c != "_part"
        and "map<" not in t.lower()
    ]
    return tie


def winner_per_key_sql(
    src: str,
    keys: Sequence[str],
    columns: Sequence[tuple[str, str]] | None,
    order: Sequence[str] = (),
    pick: str = "max",
) -> str:
    """One row per key, as a FROM-able SQL subquery over ``src`` — the
    single lowering of every "keep one row per key" clause: a
    ReplacingMergeTree FINAL read and merge keep the max-version row
    (DataStreams/ReplacingSortedBlockInputStream.h:15), ANY JOIN and
    the Join engine keep one right row per key (Interpreters/Join.h:
    352-378, MapsAny).

    ``keys`` are SQL key expressions, ``order`` column names,
    ``columns`` the (name, simple type) schema of ``src`` (None when it
    could not be analyzed), and ``pick`` is ``"max"`` or ``"min"``.
    The winner is the first row of a ``row_number()`` window over
    ``_tie_order`` — DESC NULLS LAST for ``"max"``, ASC NULLS FIRST for
    ``"min"`` — so ties break the same way on every path, and FINAL and
    OPTIMIZE pick the same row when versions tie.

    A window, not ``max_by(struct(all), struct(tie))`` grouped by key:
    the struct buffer forces a sort-based aggregate on both sides of
    the shuffle, and an interleaved A/B (Spark 4.1, local[4] on a
    4-core host, sf0.1) measured the window faster — FINAL over events
    302 vs 438 ms, the customer ANY LEFT JOIN 446 vs 584 ms.
    """
    d = " DESC" if pick == "max" else ""
    tie = _tie_order(keys, columns, order)
    rn = "__wpk_rn"
    return (
        f"(SELECT * EXCEPT ({rn}) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {', '.join(keys)} ORDER BY "
        f"{', '.join(t + d for t in tie) or '1'}) AS {rn} FROM {src}) "
        f"WHERE {rn} = 1)"
    )


_SUM_NUM = {"TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE"}
_SUM_ARR_INT = {
    "ARRAY<TINYINT>", "ARRAY<SMALLINT>", "ARRAY<INT>", "ARRAY<BIGINT>"
}
_SUM_ARR = _SUM_ARR_INT | {"ARRAY<FLOAT>", "ARRAY<DOUBLE>"}


def summing_parts(
    meta, columns: Sequence[tuple[str, str]] | None
) -> tuple[list[str], list[tuple[list[str], list[str]]]]:
    """SummingMergeTree merge inputs: (metric columns, *Map nested
    groups as (key cols, value cols)).  Metrics are ``meta.sum_cols``
    when declared, else every numeric non-key column outside a map.
    Map membership follows SummingSortedBlockInputStream maps_to_sum:
    the first member and any name ending ID/Key/Type are keys
    (non-float integers), the rest are summed values; any violation
    rejects the whole group."""
    if columns is None:
        raise ValueError("a SummingMergeTree merge needs the table's columns")
    pk = set(key_columns(meta.primary_key, columns))
    types = {c: t.upper() for c, t in columns}
    groups: dict[str, list[str]] = {}
    for c in types:
        if "." in c:
            groups.setdefault(c.split(".", 1)[0], []).append(c)
    maps: list[tuple[list[str], list[str]]] = []
    for prefix, g in groups.items():
        if not prefix.endswith("Map") or len(g) < 2:
            continue
        if any(c in pk for c in g):
            continue
        keys: list[str] = []
        vals: list[str] = []
        ok = True
        for idx, c in enumerate(g):
            if idx == 0 or c.split(".")[-1].endswith(("ID", "Key", "Type")):
                if types[c] not in _SUM_ARR_INT:
                    ok = False
                    break
                keys.append(c)
            else:
                if types[c] not in _SUM_ARR:
                    ok = False
                    break
                vals.append(c)
        if ok and vals:
            maps.append((keys, vals))
    map_cols = {c for ks, vs in maps for c in ks + vs}
    if meta.sum_cols:
        metrics = [c for c in types if c in meta.sum_cols]
    else:
        metrics = [
            c
            for c, t in types.items()
            if c not in pk and c not in map_cols and t in _SUM_NUM
        ]
    return metrics, maps


def summing_merge_sql(
    src: str,
    keys: Sequence[str],
    columns: Sequence[tuple[str, str]],
    metrics: Sequence[str],
    maps: Sequence[tuple[Sequence[str], Sequence[str]]] = (),
    final: bool = False,
) -> str:
    """SummingMergeTree's merge (DataStreams/SummingSortedBlockInputStream.h:22)
    as a FROM-able SQL subquery over ``src``; a FINAL read (``final``)
    returns its rows in key order.

    Per key (``keys``, quoted columns), ``metrics`` are summed and the
    other non-key columns keep the first row's value (insertCurrentRow).
    Each ``maps`` group ``(key columns, value columns)`` — a Nested
    ``*Map`` — merges as one map: values summed per composite key, keys
    sorted, entries whose values are all zero dropped (maps_to_sum).  A
    multi-row group whose metrics all sum to zero and whose maps all
    emptied is deleted (current_row_is_zero), except that the last group
    is written when the output would otherwise be empty (golden 00043)."""
    elem_t = {
        c: t.upper()[6:-1] for c, t in columns if t.upper().startswith("ARRAY<")
    }
    map_cols = {c for ks, vs in maps for c in (*ks, *vs)}
    inner = list(keys)
    inner += [f"sum({_quote(m)}) AS {_quote(m)}" for m in metrics]
    inner += [
        f"first({_quote(c)}) AS {_quote(c)}"
        for c, _ in columns
        if _quote(c) not in keys and c not in metrics and c not in map_cols
    ]
    inner.append("count(1) AS __sm_n")
    merged = []
    for gi, (mkeys, vals) in enumerate(maps):
        fields = ", ".join(
            [f"element_at(`{c}`, __i) AS k{j}" for j, c in enumerate(mkeys)]
            + [f"element_at(`{c}`, __i) AS v{j}" for j, c in enumerate(vals)]
        )
        inner.append(
            f"flatten(collect_list(transform(sequence(1, size(`{mkeys[0]}`)), "
            f"__i -> struct({fields})))) AS `__map{gi}`"
        )
        nk = len(mkeys)
        match = " AND ".join(f"e.k{j} = __k.k{j}" for j in range(nk))
        keysel = ", ".join(f"e.k{j} AS k{j}" for j in range(nk))
        keyout = ", ".join(f"__k.k{j} AS k{j}" for j in range(nk))
        zero = " AND ".join(f"s.v{j} = 0" for j in range(len(vals)))
        sums = ", ".join(
            f"aggregate(filter(`__map{gi}`, e -> {match}), "
            f"CAST(0 AS {elem_t[c]}), (acc, e) -> acc + e.v{j}) AS v{j}"
            for j, c in enumerate(vals)
        )
        merged.append(
            f"filter(transform(array_sort(array_distinct("
            f"transform(`__map{gi}`, e -> struct({keysel})))), "
            f"__k -> struct({keyout}, {sums})), s -> NOT ({zero})) AS `__m{gi}`"
        )
    outer = []
    for c, _ in columns:
        for gi, (mkeys, vals) in enumerate(maps):
            if c in mkeys or c in vals:
                s = f"k{mkeys.index(c)}" if c in mkeys else f"v{vals.index(c)}"
                outer.append(f"transform(`__m{gi}`, s -> s.{s}) AS {_quote(c)}")
                break
        else:
            outer.append(_quote(c))
    key_refs = ", ".join(keys)
    grouped = (
        f"(SELECT *{''.join(', ' + m for m in merged)} FROM (SELECT "
        f"{', '.join(inner)} FROM {src} GROUP BY {key_refs}))"
    )
    order = f" ORDER BY {key_refs}" if final else ""
    if not (metrics or maps):
        return f"(SELECT {', '.join(outer)} FROM {grouped}{order})"
    all_zero = " AND ".join(
        [f"{_quote(m)} = 0" for m in metrics]
        + [f"size(`__m{gi}`) = 0" for gi in range(len(maps))]
    )
    last = f"struct({key_refs})"
    return (
        f"(WITH __sm AS (SELECT *, coalesce({all_zero}, false) AND "
        f"__sm_n > 1 AS __sm_drop FROM {grouped}) "
        f"SELECT /*+ BROADCAST(__sm_s) */ {', '.join(outer)} FROM __sm "
        f"CROSS JOIN (SELECT min(CAST(__sm_drop AS INT)) AS __sm_all, "
        f"max({last}) AS __sm_last FROM __sm) __sm_s "
        f"WHERE NOT __sm_drop OR (__sm_all = 1 AND {last} = __sm_last){order})"
    )


def collapsing_merge_sql(
    src: str,
    keys: Sequence[str],
    columns: Sequence[tuple[str, str]] | None,
    sign: str,
    order: Sequence[str] = (),
    final: bool = True,
) -> str:
    """CollapsingMergeTree's merge as a FROM-able SQL subquery over
    ``src``: per key the ``sign`` +1/-1 rows cancel pairwise.

    A key whose signs sum above zero keeps one +1 row — the first in
    ``winner_per_key_sql``'s tie order (``order``, then every other
    orderable non-key column, DESC NULLS LAST), so FINAL and OPTIMIZE
    keep the same row.  A key that nets to zero is dropped.  A
    net-negative key is dropped by a FINAL read (``final=True``,
    DataStreams/CollapsingFinalBlockInputStream.h:14) and keeps its
    earliest -1 row in a merge (``final=False``, DataStreams/
    CollapsingSortedBlockInputStream.h:23 — it stays mergeable).

    ``max_by``/``min_by`` over a struct of the tie columns — a struct
    sorts NULL fields first, so its max is the DESC NULLS LAST winner —
    not a window: an interleaved A/B of ``collapsing_mergetree`` (Spark
    4.1, local[4] on a 4-core host, sf0.1) measured 369 vs 455 ms."""
    tie = f"struct({', '.join(_tie_order(keys, columns, [sign, *order]))})"
    s = _quote(sign)
    picks = f"max_by(struct(*), {tie}) FILTER (WHERE {s} > 0) AS __cm_pos"
    if final:
        row, keep = "__cm_pos", "__cm_net > 0"
    else:
        picks += f", min_by(struct(*), {tie}) FILTER (WHERE {s} < 0) AS __cm_neg"
        row, keep = "if(__cm_net > 0, __cm_pos, __cm_neg)", "__cm_net <> 0"
    return (
        f"(SELECT __cm_r.* FROM (SELECT {row} AS __cm_r FROM (SELECT "
        f"sum({s}) AS __cm_net, {picks} FROM {src} "
        f"GROUP BY {', '.join(keys)}) WHERE {keep}))"
    )


def agg_merge_sql(fn: str, col: str) -> str:
    """Merge expression for one AggregateFunction(fn, ...) state column
    (AggregatingSortedBlockInputStream.h merges states per PK; state
    schemas per functions/state.py)."""
    f = fn.lower()
    qc = _quote(col)
    if f in ("uniq", "uniqhll12", "uniqcombined"):
        return f"hll_union_agg({qc})"
    if f in ("sum", "count"):
        return f"sum({qc})"
    if f == "max" or f == "argmax":
        return f"max({qc})"
    if f == "avg":
        return f"named_struct('sum', sum({qc}.sum), 'cnt', sum({qc}.cnt))"
    if f in ("grouparray", "groupuniqarray", "quantileexact"):
        return f"flatten(collect_list({qc}))"
    # min / any / anyLast / argMin and ordinary columns: deterministic
    # single value (the reference keeps the first-seen row's value)
    return f"min({qc})"


def aggregating_merge_sql(
    src: str,
    keys: Sequence[str],
    columns: Sequence[tuple[str, str]] | None,
    final: bool = False,
) -> str:
    """AggregatingMergeTree's merge (DataStreams/
    AggregatingSortedBlockInputStream.h) as a FROM-able SQL subquery
    over ``src``: each ``AggregateFunction(fn, …)`` column merges its
    states per key (``agg_merge_sql``), other non-key columns keep one
    value; a FINAL read (``final``) returns its rows in key order.  The
    state function comes from the declared column type, so columns
    without one — a view registered without CREATE TABLE — raise
    instead of merging wrongly."""
    if not any(t.startswith("AggregateFunction(") for _, t in columns or ()):
        raise ValueError(
            "an AggregatingMergeTree merge needs the CREATE TABLE "
            "AggregateFunction(fn, ...) column types"
        )
    sel = []
    for c, t in columns:
        if _quote(c) in keys:
            sel.append(_quote(c))
            continue
        m = re.match(r"AggregateFunction\((\w+)", t)
        sel.append(f"{agg_merge_sql(m.group(1) if m else '', c)} AS {_quote(c)}")
    by = ", ".join(keys)
    order = f" ORDER BY {by}" if final else ""
    return f"(SELECT {', '.join(sel)} FROM {src} GROUP BY {by}{order})"


def _sql_over(df: DataFrame, build) -> DataFrame:
    """``build(view, columns)``'s SQL over ``df``, through a scoped temp
    view (the plan is resolved before the view is dropped)."""
    import uuid

    spark = df.sparkSession
    view = f"__mt_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(build(
            view, [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        ))
    finally:
        spark.catalog.dropTempView(view)


def winner_per_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[str] = (),
    pick: str = "max",
) -> DataFrame:
    """``winner_per_key_sql`` over a DataFrame."""
    qkeys = [_quote(k) for k in keys]
    return _sql_over(
        df, lambda v, cols: winner_per_key_sql(v, qkeys, cols, order, pick)
    )


def compact_replacing(
    df: DataFrame, pk: Sequence[str], version: str | None = None
) -> DataFrame:
    """ReplacingMergeTree: keep the max-version row per PK
    (DataStreams/ReplacingSortedBlockInputStream.h:15) — the same
    winner a FINAL read picks."""
    return winner_per_key(df, pk, [version] if version else [])


def compact_summing(
    df: DataFrame,
    pk: Sequence[str],
    metrics: Sequence[str],
    maps: Sequence[tuple[Sequence[str], Sequence[str]]] = (),
) -> DataFrame:
    """SummingMergeTree: ``summing_merge_sql`` over a DataFrame; ``maps``
    are (key columns, value columns) Nested groups."""
    qkeys = [_quote(k) for k in pk]
    return _sql_over(
        df, lambda v, cols: summing_merge_sql(v, qkeys, cols, metrics, maps)
    )


def compact_collapsing(
    df: DataFrame, pk: Sequence[str], sign: str, order: str | None = None
) -> DataFrame:
    """CollapsingMergeTree: ``collapsing_merge_sql``'s merge over a
    DataFrame — the +1 survivor is the max ``order`` row, a
    net-negative key keeps its earliest -1 row."""
    qkeys = [_quote(k) for k in pk]
    return _sql_over(
        df,
        lambda v, cols: collapsing_merge_sql(
            v, qkeys, cols, sign, [order] if order else [], final=False
        ),
    )


def graphite_rollup(
    df: DataFrame,
    ts: str,
    value: str,
    keys: Sequence[str],
    retentions: Sequence[tuple[int, int]],
    now_ts: Column | None = None,
    agg: str = "avg",
    avg_round: int | None = None,
) -> DataFrame:
    """GraphiteMergeTree rollup: downsample by age-dependent precision
    (DataStreams/GraphiteRollupSortedBlockInputStream.h:125).

    ``retentions`` = [(min_age_seconds, precision_seconds), ...] sorted
    by age ascending; a row older than min_age is bucketed to its
    precision and aggregated within the bucket per ``agg`` — the
    pattern's aggregation function in the reference's
    <graphite_rollup> config (avg/sum/max/min/any).  ``avg_exact2``
    computes a decimal-exact average of 2-decimal inputs (sum in
    DECIMAL, divide by count): plain double avg is shuffle-order
    dependent in the last ulp, which flips ROUND boundaries on big
    buckets — the reference avoids this only because its merge is
    single-streamed.  ``avg_round=D`` (avg_exact2 only, non-negative
    values) additionally rounds the average HALF-UP at D decimals on
    the exact rational in integer arithmetic — rounding the double
    afterwards is engine-dependent exactly at half-ties.
    """
    now_ = now_ts if now_ts is not None else F.current_timestamp()
    # Two-step cast: TIMESTAMP_NTZ (how Spark 4.x loads untagged
    # parquet timestamp[us]) cannot cast directly to BIGINT.
    ts_epoch = F.col(ts).cast("timestamp").cast("long")
    age = now_.cast("timestamp").cast("long") - ts_epoch
    precision = F.lit(retentions[0][1])
    for min_age, prec in retentions:
        precision = F.when(age >= min_age, F.lit(prec)).otherwise(precision)
    epoch = ts_epoch
    bucket = F.timestamp_seconds(epoch - (epoch % precision))
    if agg == "avg_exact2":
        from ..operators.exact_sum import exact_sum_scaled

        if avg_round is not None:
            # Exact HALF-UP rounding of (sum / n) at ``avg_round``
            # decimals, computed on INTEGERS: rounding the correctly-
            # rounded double instead ties at the last digit engine-
            # dependently (found at sf1 — two 1-ulp flips per 3600
            # buckets).  round(a/b) = (2a + b) div (2b) for a, b > 0;
            # the final /10^D divides the same integer by the same
            # double on every engine.  Non-negative values only (the
            # half-up identity flips for negative sums).
            scale_f = 10 ** int(avg_round)
            grouped = (
                df.withColumn("__bucket", bucket)
                .groupBy(*keys, "__bucket")
                .agg(
                    exact_sum_scaled(F.col(value)).alias("__s"),
                    F.count(F.lit(1)).alias("__n"),
                )
            )
            return (
                grouped.withColumn(
                    value,
                    F.expr(
                        f"CAST((2 * CAST(__s * {scale_f} AS DECIMAL(38,0))"
                        f" + __n) DIV (2 * __n) AS DOUBLE) / {scale_f}"
                    ),
                )
                .drop("__s", "__n")
                .withColumnRenamed("__bucket", ts)
                .select(*keys, ts, value)
            )
        agg_col = (
            exact_sum_scaled(F.col(value)).cast("double")
            / F.count(F.lit(1))
        ).alias(value)
    else:
        # Explicit allowlist: CH ``any`` = some-value (first seen), but
        # getattr(F, "any") would resolve to PySpark's boolean ANY
        # (bool_or) and fail analysis / change semantics on a metric.
        rollup_aggs = {
            "avg": F.avg,
            "sum": F.sum,
            "max": F.max,
            "min": F.min,
            "any": F.any_value,
        }
        if agg not in rollup_aggs:
            raise ValueError(
                f"graphite_rollup agg must be one of "
                f"{sorted(rollup_aggs)} or 'avg_exact2', got {agg!r}"
            )
        agg_col = rollup_aggs[agg](value).alias(value)
    return (
        df.withColumn("__bucket", bucket)
        .groupBy(*keys, "__bucket")
        .agg(agg_col)
        .withColumnRenamed("__bucket", ts)
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    compaction,
    target_files_per_partition: int = 1,
) -> None:
    """OPTIMIZE-style maintenance job: apply a compaction transform and
    rewrite (the reference's background merge, made explicit).
    Writes to a staging dir then swaps, so readers never see a torn
    table.

    Layout is preserved: a ``_partition``-partitioned table is
    rewritten partitioned (compaction runs per month, like the
    reference's per-part merges), and LowCardinality dictionaries
    under ``__lc__`` carry over unchanged — compaction transforms
    operate on the stored CODES, which the merge semantics
    (first/max/dedup per PK) keep valid."""
    import shutil

    df = spark.read.parquet(path)
    partitioned = "_partition" in df.columns
    compacted = compaction(df)
    staging = path.rstrip("/") + ".__staging__"
    if partitioned:
        # one merged file per month (the post-merge ideal part count);
        # target_files_per_partition applies to unpartitioned tables
        (
            compacted.repartition(F.col("_partition"))
            .write.mode("overwrite")
            .partitionBy("_partition")
            .parquet(staging)
        )
    else:
        compacted.coalesce(target_files_per_partition).write.mode(
            "overwrite"
        ).parquet(staging)
    lc_root = os.path.join(path, "__lc__")
    if os.path.isdir(lc_root):
        shutil.copytree(lc_root, os.path.join(staging, "__lc__"))
    backup = path.rstrip("/") + ".__old__"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
