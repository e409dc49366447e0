"""Plan-shape assertions: the physical plans the 100×-scale story
depends on, locked in via explain-string checks (the analog of the
reference's stream unit tests — DataStreams/tests/filter_stream.cpp
asserts the filter lands in the stream pipeline; here we assert the
filter lands in the parquet scan).

These catch silent plan regressions: a PREWHERE that stops pushing
down, a dimension join that stops broadcasting, a dedup that grows a
second shuffle — all invisible to correctness tests but fatal at
100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
    ChEngine,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
    dedup as D,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.core import (
    _t,
)

from .conftest import SF_ORACLE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_prewhere_reaches_parquet_scan(spark):
    """PREWHERE → WHERE → parquet PushedFilters (the reference reads
    the PREWHERE column set first and skips granules —
    MergeTreeBlockInputStream; Spark's analog is scan-level filter
    pushdown, which must survive the dialect translation)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import (
        register_tables,
    )

    register_tables(spark, SF_ORACLE)
    eng = ChEngine(spark)
    df = spark.sql(
        eng.translate(
            "SELECT event_id, value FROM events PREWHERE user_id = 42"
        )
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "user_id" in plan.split("PushedFilters")[1].splitlines()[0]
    # column pruning: the scan must not read the full events schema
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "event_type" not in read_schema


def test_final_replacing_is_single_window(spark):
    """FINAL on ReplacingMergeTree = ONE window pass on the SQL path
    (merge-on-read dedup, ReplacingSortedBlockInputStream.h:15) — not a
    groupBy + join-back (two shuffles of the full rows)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
        TableMeta,
    )

    (ev,) = _t(spark, SF_ORACLE, "events")
    ev.createOrReplaceTempView("ps_events")
    eng = ChEngine(spark)
    eng.set_meta("ps_events", TableMeta(
        primary_key=("user_id",), version_col="ts",
        engine="ReplacingMergeTree",
    ))
    plan = _plan(eng.sql("SELECT * FROM ps_events FINAL"))
    assert plan.count("Window") >= 1
    # one shuffle total: the window's hash partitioning
    assert _n_exchanges(plan) == 1


def test_dim_join_broadcasts(spark):
    """A small dimension side must become a BroadcastHashJoin — no
    shuffle of the fact table (the reference builds the right-side
    hash table in RAM on every node: Interpreters/Join.h)."""
    nation = spark.read.parquet(os.path.join(SF_ORACLE, "nation.parquet"))
    customer = spark.read.parquet(
        os.path.join(SF_ORACLE, "customer.parquet")
    )
    df = customer.join(
        F.broadcast(nation),
        customer.c_nationkey == nation.n_nationkey,
    ).groupBy("n_name").agg(F.count(F.lit(1)).alias("c"))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_single_shuffle(spark):
    """exact_dedup = one full-row shuffle (window over the fingerprint)
    — the groupBy+join-back shape it replaced shuffled twice."""
    docs = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline.text import (
        fingerprint_md5,
    )

    deduped = D.exact_dedup(docs, fingerprint_md5(F.col("text")), "doc_id")
    plan = _plan(deduped)
    assert _n_exchanges(plan) == 1


def test_minhash_banding_single_shuffle_before_join(spark):
    """MinHash-LSH candidate generation: the banding (explode →
    bucket-keyed self-join) must not introduce shuffles beyond the
    bucket hash exchange feeding the join and the join's own
    requirements — no stray repartition of the raw text."""
    docs = spark.read.parquet(
        os.path.join(SF_ORACLE, "documents.parquet")
    ).limit(200)
    pairs = D.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8, n_hashes=16, bands=4
    )
    plan = _plan(pairs)
    # the banded self-join reads ONE cached annotated frame; beyond
    # its window exchange there must be no full-data reshuffles
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_topk_is_take_ordered(spark):
    """Brute-force cosine top-k must plan as TakeOrderedAndProject —
    per-partition heaps + a k-row driver merge, NOT a global sort
    (the difference between O(k) and O(n log n) network at 100 TB)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline.similarity import (
        topk_brute,
    )

    vecs = spark.read.parquet(os.path.join(SF_ORACLE, "embeddings.parquet"))
    dim = len(vecs.select("embedding").first()[0])
    out = topk_brute(vecs, "embedding", [0.1] * dim, k=5)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage


def test_simhash_banding_single_shuffle(spark):
    """SimHash candidate pairs: the banding (chunk-key bucket window)
    shuffles the NARROW (id, simhash) frame once; beyond it only the
    pair-level dedup may exchange — any further shuffle means the raw
    text is being repartitioned."""
    docs = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    pairs = D.simhash_dedup_pairs(docs, "doc_id", "text")
    plan = _plan(pairs)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # banding window + candidate-pair dedup + output dedup = 3 narrow
    # exchanges max (broadcast of the build side not counted)
    assert _n_exchanges(plan) <= 3


def test_read_mergetree_prunes_partitions(spark, tmp_path):
    """A date-ranged read_mergetree must prune month partitions at
    PLAN time: the parquet scan's partition filters name _partition
    and the untouched months never reach the scan."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.mergetree import (
        read_mergetree,
        write_mergetree,
    )

    src = (
        spark.range(300)
        .withColumn(
            "d", F.expr("date_add(DATE '1995-01-01', CAST(id AS INT))")
        )
        .withColumn("v", F.col("id") * 2)
    )
    path = os.path.join(str(tmp_path), "mt")
    write_mergetree(src, path, date_col="d", order_by=["id"])
    out = read_mergetree(
        spark, path, date_range=("1995-03-01", "1995-04-30")
    ).filter(F.col("v") >= 0)
    plan = _plan(out)
    assert "PartitionFilters" in plan
    assert "_partition" in plan.split("PartitionFilters", 1)[1][:400]


def test_array_join_invariant_hoist_prunes_array(spark):
    """`countIf(has(x, 10)) … ARRAY JOIN x AS y` must NOT carry the
    array x through the explode: the scalar call hoists into a
    pre-explode projection, so Catalyst prunes x from the Generate
    output — otherwise every exploded row copies the whole array
    (1M elements × 1M rows OOM'd before the fix; golden 00041).

    Reference: ARRAY JOIN keeps source columns shared per block
    (Interpreters/ArrayJoinAction), so the reference never pays this
    copy either — the hoist is the Spark-side equivalent."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
        ChEngine,
    )

    eng = ChEngine(spark)
    eng.execute("DROP TABLE IF EXISTS hoist_t")
    eng.execute("CREATE TABLE hoist_t (x Array(UInt8)) ENGINE = Memory")
    eng.execute("INSERT INTO hoist_t VALUES ([1,2,3]), ([4,5,6])")
    try:
        df = eng.execute(
            "SELECT countIf(has(x, 2)), sum(y) FROM hoist_t ARRAY JOIN x AS y"
        )
        assert [tuple(r) for r in df.collect()] == [(3, 21)]
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # the Generate (explode) node must not OUTPUT x — the hoisted
        # has() is computed below it and x is pruned
        gen = [ln for ln in plan.splitlines() if "Generate" in ln]
        assert gen, plan
        assert "has" not in gen[0].lower() or "x#" not in gen[0], plan
        after_gen = plan.split("Generate", 1)[0]
        assert "Aggregate" in after_gen
    finally:
        eng.execute("DROP TABLE hoist_t")


def test_contamination_join_no_cartesian(spark):
    """The contamination sweep is an equi-join on the exploded n-gram —
    never a nested-loop/cartesian (which would be |corpus|×|eval| at
    100 TB)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
        curation as CU,
    )

    (docs,) = _t(spark, SF_ORACLE, "documents")
    evalset = docs.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    plan = _plan(CU.contamination_hits(docs, evalset, "doc_id", "eval_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_seq_packing_window_is_partitioned(spark):
    """The packing cumulative sum must be windowed per partition column
    — a global (empty-partition) window serializes the corpus through
    ONE task at scale."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
        curation as CU,
    )

    (docs,) = _t(spark, SF_ORACLE, "documents")
    df = CU.pack_sequences(docs, "lang", "doc_id", F.length("text"))
    plan = _plan(df)
    assert "windowspecdefinition(part" in plan
    # the empty-partition shape (spec starting at the ORDER column,
    # i.e. no partition keys) must not appear
    assert "windowspecdefinition(_ord" not in plan


def test_dup_cluster_blocking_no_cartesian(spark):
    """Shingle-inverted-index candidate generation: posting-list self-
    join must be an equi-join on the shingle; the hot-block cap is an
    anti-join, not a second agg over the corpus."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
        cluster as CL,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
        text as TXT,
    )

    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(
        CL.shingle_blocked_pairs(
            docs, "doc_id", TXT.shingles(F.col("text"), 3)
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join WITHOUT an Exchange on
    either side — the write-once-join-many co-location lever for
    repeated big-big joins (sources/bucketed.py)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    facts = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    dims = spark.range(500).selectExpr("id AS k", "id * 3 AS w")
    write_bucketed(facts, "bk_facts", "k", buckets=4)
    write_bucketed(dims, "bk_dims", "k", buckets=4)
    try:
        # disable broadcast so the join strategy under test is the
        # sort-merge path a big-big join would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = colocated_join(spark, "bk_facts", "bk_dims", "k")
        plan = _plan(df)
        assert _n_exchanges(plan) == 0, plan
        assert df.count() == 500
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_facts")
        spark.sql("DROP TABLE IF EXISTS bk_dims")


def test_quantized_topk_candidate_stage_is_take_ordered(spark):
    """The int8 candidate ranking must plan as TakeOrderedAndProject
    (per-partition heaps over the 4x-smaller codes, no global sort)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline.similarity import (
        topk_quantized,
    )

    vecs = spark.read.parquet(os.path.join(SF_ORACLE, "embeddings.parquet"))
    dim = len(vecs.select("embedding").first()[0])
    out = topk_quantized(vecs, "embedding", [0.1] * dim, k=5)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan


def test_any_join_dedup_is_single_window(spark):
    """ANY JOIN dedups the right side with the shared winner-per-key
    window: one hash shuffle of the right rows, no aggregate (the
    struct min_by form needs a sort-based aggregate on both sides of
    its shuffle and measured slower)."""
    eng = ChEngine(spark)
    spark.range(100).selectExpr("id AS k").createOrReplaceTempView("ps_l")
    spark.range(1000).selectExpr(
        "id % 100 AS k", "id AS o", "CAST(id AS STRING) AS s"
    ).createOrReplaceTempView("ps_r")
    plan = _plan(eng.sql("SELECT k, o, s FROM ps_l ANY LEFT JOIN ps_r USING (k)"))
    assert plan.count("Window") >= 1
    assert "Aggregate" not in plan
    # the other Exchange is the range sort keeping left-row order
    assert plan.count("Arguments: hashpartitioning(") == 1
    # NULL tie values and secondary ordering match the row_number()
    # reference (nulls first, remaining columns break ties)
    spark.createDataFrame(
        [(1, None, "a"), (1, 5, "b"), (2, 3, "c"), (2, 3, "a")],
        "k long, o long, s string",
    ).createOrReplaceTempView("ps_r2")
    spark.createDataFrame([(1,), (2,)], "k long").createOrReplaceTempView("ps_l2")
    fast = eng.sql(
        "SELECT k, o, s FROM ps_l2 ANY LEFT JOIN ps_r2 USING (k) ORDER BY k "
        "SETTINGS join_use_nulls = 1"
    ).collect()
    slow = spark.sql(
        "SELECT l.k, r.o, r.s FROM ps_l2 l LEFT JOIN (SELECT * FROM (SELECT *, "
        "row_number() OVER (PARTITION BY k ORDER BY o, s) AS rn FROM ps_r2) "
        "WHERE rn = 1) r ON l.k = r.k ORDER BY k"
    ).collect()
    assert fast == slow


def test_final_replacing_name_version_is_single_window(spark):
    """FINAL with a version column: one window per primary key, no
    aggregate, the max-version row wins."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect import (
        TableMeta,
    )

    spark.range(1000).selectExpr(
        "id % 100 AS user_id", "id AS ts", "CAST(id AS STRING) AS v"
    ).createOrReplaceTempView("ps_ev")
    eng = ChEngine(spark)
    eng.set_meta("ps_ev", TableMeta(
        primary_key=("user_id",), version_col="ts",
        engine="ReplacingMergeTree",
    ))
    df = eng.sql("SELECT * FROM ps_ev FINAL")
    plan = _plan(df)
    assert plan.count("Window") >= 1
    assert "Aggregate" not in plan
    assert _n_exchanges(plan) == 1
    rows = {r.user_id: (r.ts, r.v) for r in df.collect()}
    assert rows[0] == (900, "900") and rows[99] == (999, "999")


def test_stored_hits_q21_pushes_code_in_filter(spark):
    """q21_stored's LIKE must run over the DICTIONARY; the scan sees an
    int IN-filter on the code column (PushedFilters), no join node —
    the LowCardinality substring rewrite the 100 TB story depends on."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        queries_map,
    )

    df = queries_map()["hits_q21_stored"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan
    assert "PushedFilters: [In(URL" in plan


def test_stored_hits_q13_decodes_as_projection(spark):
    """q13_stored aggregates on int codes and decodes via a map-literal
    PROJECTION — one exchange pair (partial+final agg), no join, no
    second scan for the dictionary."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        queries_map,
    )

    import re

    df = queries_map()["hits_q13_stored"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan
    # formatted explain lists each node once in the detail section
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_stored_hits_rebuild_fingerprint_tracks_source_mtime(spark, tmp_path):
    """The store's on-disk rebuild marker carries the source's
    signature (mtime_ns, size), so a REGENERATED events.parquet of
    identical byte size still triggers a rebuild."""
    import json
    import os
    import shutil

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        hits_q,
    )

    src = os.path.join(str(tmp_path), "sfx")
    os.makedirs(src)
    ev = os.path.join(src, "events.parquet")
    shutil.copy2("/root/testdata/sf0.001/events.parquet", ev)
    path = hits_q.ensure_hits_stored(spark, src)
    meta1 = json.load(open(os.path.join(path, "_HITS_STORE_META")))
    # simulate source regeneration at the same byte size: bump mtime
    st = os.stat(ev)
    os.utime(ev, (st.st_atime + 5, st.st_mtime + 5))
    path2 = hits_q.ensure_hits_stored(spark, src)
    meta2 = json.load(open(os.path.join(path2, "_HITS_STORE_META")))
    assert meta1[0] == meta2[0]            # projection version unchanged
    assert meta1[1][1] == meta2[1][1]      # source size unchanged
    assert meta1[1][0] != meta2[1][0], "mtime change must force a rebuild"


def test_keyless_aggregate_is_global(spark):
    # a keyless aggregate stays a global Aggregate (no grouping key);
    # over an empty input it still returns no rows, as the reference
    eng = ChEngine(spark)
    eng.register_table("ka", spark.range(10).withColumnRenamed("id", "x"))
    df = eng.sql("SELECT sum(x) FROM ka")
    aggs = [
        p for p in _optimized_nodes(df) if p.nodeName() == "Aggregate"
    ]
    assert aggs and all(a.groupingExpressions().isEmpty() for a in aggs)
    assert [tuple(r) for r in df.collect()] == [(45,)]
    assert eng.sql("SELECT sum(x) FROM ka WHERE 0").collect() == []
    assert eng.sql("SELECT sum(x) AS s FROM ka HAVING s > 100").collect() == []


def _optimized_nodes(df) -> list:
    def walk(node) -> list:
        kids = node.children()
        return [node] + [
            n for i in range(kids.size()) for n in walk(kids.apply(i))
        ]

    return walk(df._jdf.queryExecution().optimizedPlan())
