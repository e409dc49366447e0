"""Non-MergeTree engine tests (StorageFactory.cpp surface)."""

from __future__ import annotations

import pytest

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.engines import (
    JoinTable,
    MemoryTable,
    SetTable,
    file_table,
    merge_tables,
    null_table,
    numbers,
    numbers_mt,
    one,
    remote,
)


def test_memory_table(spark):
    t = MemoryTable(spark.createDataFrame([(1,), (2,)], "x INT"))
    assert t.read().count() == 2
    t.insert(spark.createDataFrame([(3,)], "x INT"))
    assert sorted(r["x"] for r in t.read().collect()) == [1, 2, 3]
    t.drop()


def test_null_table(spark):
    df = null_table(spark, "a INT, b STRING")
    assert df.count() == 0 and df.columns == ["a", "b"]


def test_set_table(spark):
    s = SetTable(spark.createDataFrame([(1,), (3,)], "k INT"))
    data = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id INT, v STRING")
    got = sorted(r["v"] for r in s.contains_filter(data, "id").collect())
    assert got == ["a", "c"]
    got_neg = sorted(r["v"] for r in s.contains_filter(data, "id", negate=True).collect())
    assert got_neg == ["b"]
    s.insert(spark.createDataFrame([(2,)], "k INT"))
    assert s.contains_filter(data, "id").count() == 3


def test_join_table_all_and_any(spark):
    right = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "k INT, attr STRING"
    )
    left = spark.createDataFrame([(1,), (2,), (3,)], "k INT")
    all_join = JoinTable(right, ["k"], strictness="all").join(left)
    assert all_join.count() == 4  # k=1 matches twice
    any_join = JoinTable(right, ["k"], strictness="any").join(left)
    assert any_join.count() == 3  # one match per left row
    plan = any_join._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # persisted RHS must broadcast


def test_file_table(spark, tmp_path):
    p = tmp_path / "data.tsv"
    p.write_text("1\thello\n2\tworld\n")
    df = file_table(spark, str(p), "TSV", schema="id INT, s STRING")
    assert sorted((r["id"], r["s"]) for r in df.collect()) == [(1, "hello"), (2, "world")]


def test_merge_tables(spark):
    spark.createDataFrame([(1,)], "x INT").createOrReplaceTempView("m_part_a")
    spark.createDataFrame([(2,)], "x INT").createOrReplaceTempView("m_part_b")
    spark.createDataFrame([(9,)], "x INT").createOrReplaceTempView("other")
    df = merge_tables(spark, "m_part_.*")
    rows = {(r["x"], r["_table"]) for r in df.collect()}
    assert rows == {(1, "m_part_a"), (2, "m_part_b")}
    with pytest.raises(ValueError):
        merge_tables(spark, "nomatch_.*")


def test_numbers(spark):
    assert [r["number"] for r in numbers(spark, 5).collect()] == [0, 1, 2, 3, 4]
    assert numbers_mt(spark, 100, parallelism=4).rdd.getNumPartitions() == 4
    assert one(spark).collect()[0]["dummy"] == 0


def test_remote_degenerates_to_table(spark):
    spark.createDataFrame([(42,)], "x INT").createOrReplaceTempView("rem_t")
    assert remote(spark, "rem_t").collect()[0]["x"] == 42


def test_low_cardinality_roundtrip_and_late_decode(spark, tmp_path):
    """LowCardinality write: stored column is an int code, the dict
    lives under __lc__/<col>, a decoded read equals the source, and
    aggregate-then-decode equals decode-then-aggregate."""
    import os

    from pyspark.sql import functions as F

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        lc_decode,
        read_mergetree,
        write_mergetree,
    )

    src = spark.range(1000).selectExpr(
        "DATE '2024-03-01' AS d",
        "id AS k",
        "concat('v', CAST(id % 7 AS STRING)) AS s",
    )
    path = os.path.join(str(tmp_path), "lc")
    write_mergetree(
        src, path, "d", ["k"], mode="overwrite", low_cardinality=["s"]
    )
    # stored representation: int codes + a 7-row dict
    coded = read_mergetree(spark, path, decode_lc=False)
    assert dict(coded.dtypes)["s"] == "int"
    assert spark.read.parquet(os.path.join(path, "__lc__", "s")).count() == 7
    # transparent decoded read round-trips
    assert sorted(r.s for r in read_mergetree(spark, path).collect()) == sorted(
        r.s for r in src.collect()
    )
    # late materialization: agg on codes + decode == agg on strings
    late = sorted(
        (r.s, r.c)
        for r in lc_decode(
            coded.groupBy("s").agg(F.count(F.lit(1)).alias("c")),
            spark, path, "s",
        ).collect()
    )
    direct = sorted(
        (r.s, r.c)
        for r in read_mergetree(spark, path)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    assert late == direct


def test_low_cardinality_append_merges_dict_with_stable_codes(spark, tmp_path):
    """Append-mode LC write: per-part dict unification analog — values
    already in the dict keep their codes (stored rows are never
    rewritten), new values get codes after the current max, and the
    decoded table equals the union of both writes."""
    import os

    import pytest as _pytest

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    base = spark.createDataFrame(
        [("2024-03-01", 1, "b"), ("2024-03-02", 2, "d")],
        "d string, k long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    path = os.path.join(str(tmp_path), "lc_app")
    write_mergetree(base, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    dict1 = {
        r["__lc_value"]: r["__lc_code"]
        for r in spark.read.parquet(
            os.path.join(path, "__lc__", "s")).collect()
    }
    assert dict1 == {"b": 1, "d": 2}
    extra = spark.createDataFrame(
        [("2024-04-01", 3, "a"), ("2024-04-02", 4, "d"),
         ("2024-04-03", 5, "c")],
        "d string, k long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    write_mergetree(extra, path, "d", ["k"], mode="append",
                    low_cardinality=["s"])
    dict2 = {
        r["__lc_value"]: r["__lc_code"]
        for r in spark.read.parquet(
            os.path.join(path, "__lc__", "s")).collect()
    }
    # pre-existing codes unchanged; new values appended after max
    assert dict2 == {"b": 1, "d": 2, "a": 3, "c": 4}
    got = sorted((r.k, r.s) for r in read_mergetree(spark, path).collect())
    assert got == [(1, "b"), (2, "d"), (3, "a"), (4, "d"), (5, "c")]
    # appending LC onto a table written WITHOUT the dict is refused
    plain = os.path.join(str(tmp_path), "plain")
    write_mergetree(base, plain, "d", ["k"], mode="overwrite")
    with _pytest.raises(ValueError):
        write_mergetree(extra, plain, "d", ["k"], mode="append",
                        low_cardinality=["s"])


def test_low_cardinality_table_with_value_code_columns(spark, tmp_path):
    """The dict join uses reserved __lc_* names, so a table that itself
    has `value`/`code` columns (metric tables) encodes and decodes
    without ambiguous-reference errors or column loss."""
    import os

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    src = spark.createDataFrame(
        [("2024-03-01", 1, "x", 10.0, 7), ("2024-03-01", 2, "y", 20.0, 8)],
        "d string, k long, metric string, value double, code int",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "metric", "value", "code")
    path = os.path.join(str(tmp_path), "lc_vc")
    write_mergetree(src, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["metric"])
    got = sorted(
        (r.k, r.metric, r.value, r.code)
        for r in read_mergetree(spark, path).collect()
    )
    assert got == [(1, "x", 10.0, 7), (2, "y", 20.0, 8)]


def test_lc_dict_map_and_decode_expr(spark, tmp_path):
    """Collected-map decode: lc_dict_map memoizes {code: value};
    lc_decode_expr is a pure projection equal to the broadcast-join
    decode, escapes quotes/backslashes, and the max_entries guard
    raises instead of silently collecting a big vocab."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        lc_decode,
        lc_decode_expr,
        lc_dict_map,
        read_mergetree,
        write_mergetree,
    )

    src = spark.createDataFrame(
        [("2024-03-01", 1, "it's"), ("2024-03-01", 2, "a\\b"),
         ("2024-03-02", 3, "plain"), ("2024-03-02", 4, "it's")],
        "d string, k long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    path = os.path.join(str(tmp_path), "lcq")
    write_mergetree(src, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    m = lc_dict_map(spark, path, "s")
    assert sorted(m.values()) == ["a\\b", "it's", "plain"]
    assert lc_dict_map(spark, path, "s") is m  # memoized
    coded = read_mergetree(spark, path, decode_lc=False)
    via_expr = sorted(
        (r.k, r.s)
        for r in coded.withColumn(
            "s", lc_decode_expr(spark, path, "s")
        ).collect()
    )
    via_join = sorted(
        (r.k, r.s) for r in lc_decode(coded, spark, path, "s").collect()
    )
    assert via_expr == via_join
    assert dict(via_expr)[1] == "it's" and dict(via_expr)[2] == "a\\b"
    # the guard holds for a dictionary already memoized under a larger cap
    with _pytest.raises(ValueError):
        lc_dict_map(spark, path, "s", max_entries=2)


def test_optimize_table_preserves_lc_dicts_and_partitions(spark, tmp_path):
    """optimize_table on a dictionary-encoded, month-partitioned table
    must keep the __lc__ dictionaries (previously destroyed with the
    swapped-out directory) and the partition layout; the compaction
    transform sees stored CODES."""
    import os

    from pyspark.sql import functions as F

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        compact_replacing,
        optimize_table,
        read_mergetree,
        write_mergetree,
    )

    src = spark.createDataFrame(
        [("2024-03-01", 1, 1, "x"), ("2024-03-05", 1, 2, "y"),
         ("2024-04-01", 2, 1, "z")],
        "d string, k long, v long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "v", "s")
    path = os.path.join(str(tmp_path), "opt_lc")
    write_mergetree(src, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    optimize_table(
        spark, path, lambda df: compact_replacing(df, ["k"], version="v")
    )
    assert os.path.isdir(os.path.join(path, "__lc__", "s"))
    # partition dirs survive (directory-partitioned layout, not a
    # flattened _partition data column)
    parts = [p for p in os.listdir(path) if p.startswith("_partition=")]
    assert sorted(parts) == ["_partition=202403", "_partition=202404"]
    got = sorted((r.k, r.v, r.s)
                 for r in read_mergetree(spark, path).collect())
    assert got == [(1, 2, "y"), (2, 1, "z")]


def test_low_cardinality_null_values_roundtrip(spark, tmp_path):
    """NULLs in an LC column encode to NULL codes (no dict entry) and
    decode back to NULL; appends don't grow the dict with NULL rows."""
    import os

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    batch = spark.createDataFrame(
        [("2024-03-01", 1, "x"), ("2024-03-02", 2, None)],
        "d string, k long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    path = os.path.join(str(tmp_path), "lc_null")
    write_mergetree(batch, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    more = spark.createDataFrame(
        [("2024-04-01", 3, None), ("2024-04-02", 4, "y")],
        "d string, k long, s string",
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    write_mergetree(more, path, "d", ["k"], mode="append",
                    low_cardinality=["s"])
    d = spark.read.parquet(os.path.join(path, "__lc__", "s"))
    assert d.count() == 2  # only 'x' and 'y' — no NULL rows ever
    got = sorted(
        ((r.k, r.s) for r in read_mergetree(spark, path).collect()),
        key=lambda t: t[0],
    )
    assert got == [(1, "x"), (2, None), (3, None), (4, "y")]


def test_lc_cache_evicted_on_append(spark, tmp_path):
    """write_mergetree evicts the memoized LC dictionary map for its
    path, so an append's NEW values decode correctly through
    read_mergetree in the SAME session (a stale map would decode the
    new codes to NULL, silently)."""
    import os

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        lc_dict_map,
        read_mergetree,
        write_mergetree,
    )

    base = spark.createDataFrame(
        [("2024-03-01", 1, "b")], "d string, k long, s string"
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    path = os.path.join(str(tmp_path), "lc_evict")
    write_mergetree(base, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    # warm the collected-map cache (what read_mergetree's decode uses)
    assert lc_dict_map(spark, path, "s") == {1: "b"}
    extra = spark.createDataFrame(
        [("2024-04-01", 2, "zz")], "d string, k long, s string"
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    write_mergetree(extra, path, "d", ["k"], mode="append",
                    low_cardinality=["s"])
    got = sorted((r.k, r.s) for r in read_mergetree(spark, path).collect())
    assert got == [(1, "b"), (2, "zz")]  # NEW value visible, not NULL
    assert lc_dict_map(spark, path, "s") == {1: "b", 2: "zz"}


def test_lc_overwrite_crash_leaves_old_table_intact(spark, tmp_path):
    """Overwrite-mode LC writes build in a staging dir and publish
    with a rename swap: a crash BEFORE publish (here: injected failure
    in the dictionary write) leaves the previous table fully readable
    with decoded strings — never a table of raw int codes."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    base = spark.createDataFrame(
        [("2024-03-01", 1, "old")], "d string, k long, s string"
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")
    path = os.path.join(str(tmp_path), "lc_crash")
    write_mergetree(base, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    repl = spark.createDataFrame(
        [("2024-05-01", 9, "new")], "d string, k long, s string"
    ).selectExpr("CAST(d AS DATE) AS d", "k", "s")

    orig = DataFrameWriter.parquet

    def boom(self, p, **kw):
        if "__lc__" in p:
            raise RuntimeError("injected crash before dict publish")
        return orig(self, p, **kw)

    DataFrameWriter.parquet = boom
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected crash"):
            write_mergetree(repl, path, "d", ["k"], mode="overwrite",
                            low_cardinality=["s"])
    finally:
        DataFrameWriter.parquet = orig
    # the fixed-name staging dir (a full table copy) must not leak
    assert not os.path.exists(path.rstrip("/") + ".__lc_staging__")
    # old table untouched and still decodes (no torn/codes-only state)
    got = [(r.k, r.s) for r in read_mergetree(spark, path).collect()]
    assert got == [(1, "old")]
    # and a retried overwrite completes and publishes the new table
    write_mergetree(repl, path, "d", ["k"], mode="overwrite",
                    low_cardinality=["s"])
    got = [(r.k, r.s) for r in read_mergetree(spark, path).collect()]
    assert got == [(9, "new")]


def test_parts_per_partition_writes_even_parts(spark, tmp_path):
    """parts_per_partition=N must land exactly N PK-sorted files per
    month partition with roughly even sizes — a column-hash
    repartition without an explicit count is AQE-coalescible (r11:
    the 10M-row stored table collapsed to 8 files with 4x skew and
    every stored GROUP BY's partial agg ran on 8 uneven tasks)."""
    import glob
    import os

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    src = spark.range(80_000).selectExpr(
        "IF(id % 2 = 0, DATE '2024-03-01', DATE '2024-04-01') AS d",
        "id AS k",
        "CAST(id % 997 AS STRING) AS s",
    )
    path = os.path.join(str(tmp_path), "parts")
    write_mergetree(
        src, path, "d", ["k"], mode="overwrite", parts_per_partition=8
    )
    for month in ("202403", "202404"):
        files = glob.glob(
            os.path.join(path, f"_partition={month}", "*.parquet")
        )
        assert len(files) == 8, (month, len(files))
        sizes = sorted(os.path.getsize(f) for f in files)
        assert sizes[-1] < 3 * sizes[0]  # even-ish, no 4x skew
    # content unaffected by the layout
    assert read_mergetree(spark, path).count() == 80_000
    # each file internally PK-sorted (row-group pruning contract)
    f0 = glob.glob(os.path.join(path, "_partition=202403", "*.parquet"))[0]
    ks = [r.k for r in spark.read.parquet(f0).select("k").collect()]
    assert ks == sorted(ks)
