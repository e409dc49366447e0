"""Semantics tests for the curation ops: connected-components
transitivity, exact-recall shingle blocking, deterministic splits,
PII scrub, repetition scoring, sequence packing."""

from __future__ import annotations

import contextlib
import random

import pytest
from pyspark.sql import functions as F

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
    cluster as CL,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
    curation as CU,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.pipeline import (
    text as TXT,
)


def test_connected_components_transitive(spark):
    # path 1-2-3-4 (no direct 1-4 edge), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r.cluster_root, r.cluster_size)
        for r in CL.dup_clusters(pairs).collect()
    }
    assert got == {(1, 4), (10, 3), (20, 2)}


@contextlib.contextmanager
def _broadcast_off(spark):
    """Force the distributed connected-components round loop."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def _is_local(df) -> bool:
    """The in-process path returns a local relation, not a checkpoint."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan


def test_connected_components_long_path(spark):
    # a 12-node path needs >= 11 propagation rounds worst case; the
    # label-sum convergence check must not stop early — on both paths
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    local = CL.connected_components(pairs)
    with _broadcast_off(spark):
        dist = CL.connected_components(pairs)
    assert _is_local(local) and not _is_local(dist)
    for out in (local, dist):
        rows = out.collect()
        assert {r.label for r in rows} == {100}
        assert len(rows) == 13


def test_connected_components_edge_cap(spark, monkeypatch):
    # above the measured edge cap the rounds run, whatever the
    # broadcast threshold allows
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    monkeypatch.setattr(CL, "_LOCAL_MAX_EDGES", 3)
    assert _is_local(CL.connected_components(pairs))
    monkeypatch.setattr(CL, "_LOCAL_MAX_EDGES", 2)
    dist = CL.connected_components(pairs)
    assert not _is_local(dist)
    assert {tuple(r) for r in dist.collect()} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    }


def test_connected_components_max_iter_raises(spark):
    # one round cannot settle the 12-node path: the distributed loop
    # must refuse to return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    with _broadcast_off(spark), pytest.raises(
        RuntimeError, match="did not converge"
    ):
        CL.connected_components(pairs, max_iter=1)


def _random_graph(rng: random.Random) -> list[tuple[int, int]]:
    """Disjoint components of every shape on separate id ranges:
    paths up to 20 nodes, stars, cycles, duplicate and reversed edges,
    self-loops, and nodes whose only edge is a self-loop."""
    edges: list[tuple[int, int]] = []
    base = rng.randrange(0, 1000)

    def nodes(n: int) -> list[int]:
        nonlocal base
        ids = rng.sample(range(base, base + 3 * n), n)
        base += 3 * n + rng.randrange(1, 50)
        return ids

    for n in [20] + [rng.randint(2, 20) for _ in range(4)]:
        p = nodes(n)
        edges += list(zip(p, p[1:]))
    for _ in range(2):
        hub, *leaves = nodes(rng.randint(2, 9))
        edges += [(hub, v) for v in leaves]
    for _ in range(2):
        c = nodes(rng.randint(3, 10))
        edges += list(zip(c, c[1:] + c[:1]))
    edges += [(v, v) for v in nodes(2) + [rng.choice(edges)[0]]]
    edges += rng.sample(edges, 5)
    edges += [(b, a) for a, b in rng.sample(edges, 5)]
    rng.shuffle(edges)
    return edges


def _union_find_labels(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


@pytest.mark.parametrize(
    "id_type,seed", [("long", 1), ("int", 2), ("long", None)]
)
def test_connected_components_paths_agree(spark, id_type, seed):
    """The in-process path, the distributed round loop and a pure-Python
    union-find give the same (node, label) set, and both paths the same
    schema.  ``seed=None`` is the empty edge list."""
    edges = [] if seed is None else _random_graph(random.Random(seed))
    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    local = CL.connected_components(pairs)
    # the in-process result is built from Arrow: no Python worker
    lineage = local._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    with _broadcast_off(spark):
        dist = CL.connected_components(pairs)
        dist_rows = {tuple(r) for r in dist.collect()}
    assert _is_local(local) and not _is_local(dist)
    assert local.schema == dist.schema
    assert dict(local.dtypes)["node"] == id_type.replace("long", "bigint")
    want = _union_find_labels(edges)
    assert {tuple(r) for r in local.collect()} == want
    assert dist_rows == want


def test_shingle_blocking_exact_recall(spark):
    # doc 1 is doc 0 with one token changed; doc 2 disjoint
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "a b c d e f g x"),
            (2, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    pairs = CL.shingle_blocked_pairs(
        docs, "doc_id", TXT.shingles(F.col("text"), 3), threshold=0.3
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    # jaccard: 3-shingles, 6 each, 5 shared => 5/7
    assert abs(pairs[0].jaccard - 5 / 7) < 1e-6


def test_shingle_blocking_hot_shingle_recall(spark):
    # every doc shares ONE hot shingle ("x y z", freq 10 — classic
    # boilerplate); each pair's true Jaccard is 1/7 >= 0.1, so with
    # prefix filtering and NO cap all 45 pairs must be found — the old
    # freq-capped blocking dropped the hot posting list and emitted 0.
    docs = spark.createDataFrame(
        [(i, f"x y z u{i} v{i} w{i}") for i in range(10)],
        "doc_id long, text string",
    )
    pairs = CL.shingle_blocked_pairs(
        docs, "doc_id", TXT.shingles(F.col("text"), 3), threshold=0.1
    ).collect()
    assert len(pairs) == 45
    assert all(abs(p.jaccard - 1 / 7) < 1e-6 for p in pairs)


def test_shingle_blocking_boilerplate_duplicates(spark):
    # 8 byte-identical docs: EVERY shingle is "hot" (freq 8).  The old
    # max_block=5 cap had zero recall here; prefix filtering finds all
    # 28 pairs at threshold 0.9 because the smallest shared shingle is
    # in every doc's prefix regardless of frequency.
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated verbatim here")
         for i in range(8)],
        "doc_id long, text string",
    )
    pairs = CL.shingle_blocked_pairs(
        docs, "doc_id", TXT.shingles(F.col("text"), 3), threshold=0.9
    ).collect()
    assert len(pairs) == 28
    assert all(p.jaccard == 1.0 for p in pairs)


def test_shingle_blocking_hot_prefix_cap_optional(spark):
    # the optional max_block safety valve caps POST-PREFIX posting
    # lists: with 8 identical docs and max_block=5 the (uniformly hot)
    # prefix blocks are dropped and no candidates survive — documented
    # recall trade-off when the cap is explicitly requested.
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated verbatim here")
         for i in range(8)],
        "doc_id long, text string",
    )
    pairs = CL.shingle_blocked_pairs(
        docs, "doc_id", TXT.shingles(F.col("text"), 3),
        threshold=0.9, max_block=5,
    )
    assert pairs.count() == 0


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    out = (
        df.select(CU.train_val_test(F.col("doc_id")).alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    counts = {r.s: r["count"] for r in out}
    assert sum(counts.values()) == 1000
    # 16-bit hash: proportions within a loose tolerance
    assert 850 <= counts["train"] <= 950
    # re-evaluation yields the identical assignment (pure function)
    again = {r.s: r["count"] for r in (
        df.select(CU.train_val_test(F.col("doc_id")).alias("s"))
        .groupBy("s").count().collect()
    )}
    assert again == counts


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [(0, "write to a.b-c%d@sub.example.org or +4915112345678 today"),
         (1, "no identifiers here"),
         (2, "two mails x@y.de and z@w.io")],
        "doc_id long, text string",
    )
    e, p = CU.pii_counts(F.col("text"))
    rows = df.select(
        "doc_id", e.alias("e"), p.alias("p"),
        CU.scrub_pii(F.col("text")).alias("t"),
    ).orderBy("doc_id").collect()
    assert [(r.e, r.p) for r in rows] == [(1, 1), (0, 0), (2, 0)]
    assert rows[0].t == "write to <EMAIL> or <PHONE> today"
    assert rows[2].t == "two mails <EMAIL> and <EMAIL>"


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(0, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 2/5 distinct
         (1, "a b c d e"),        # all distinct -> 0
         (2, "x")],               # shorter than n -> single gram -> 0
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id", F.round(CU.repetition_ratio(F.col("text"), 2), 6).alias("r")
    ).orderBy("doc_id").collect()
    assert rows[0].r == 0.6
    assert rows[1].r == 0.0
    assert rows[2].r == 0.0


def test_contamination_hits_planted(spark):
    corpus = spark.createDataFrame(
        [(0, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
         (1, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9")],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "t1 t2 t3 t4 t5 t6 t7 t8 t9")],  # doc 0 minus first token
        "eval_id long, text string",
    )
    rows = CU.contamination_hits(
        corpus, evalset, "doc_id", "eval_id", n=8
    ).collect()
    # doc0 8-grams: [t0..t7],[t1..t8],[t2..t9]; eval: [t1..t8],[t2..t9]
    assert [(r.doc_id, r.eval_id, r.shared_ngrams) for r in rows] == [
        (0, 100, 2)
    ]


def test_pack_sequences_layout(spark):
    # 5 docs of 700 tokens in one partition: cumulative 700,1400,2100,
    # 2800,3500; bin = floor(exclusive_cum/2048) -> 0,0,0,1,1
    df = spark.createDataFrame(
        [(i, 700, "en") for i in range(5)],
        "doc_id long, tk long, lang string",
    )
    rows = (
        CU.pack_sequences(df, "lang", "doc_id", F.col("tk"), context=2048)
        .orderBy("part", "bin")
        .collect()
    )
    assert [(r.part, r.bin, r.docs, r.bin_tokens) for r in rows] == [
        ("en", 0, 3, 2100),
        ("en", 1, 2, 1400),
    ]


def test_quota_sample_matches_single_window(spark):
    # two-level salted top-K must equal the naive global window rank
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(200)],
        "doc_id long, source string",
    )
    got = sorted(
        (r.source, r.doc_id, r.rank)
        for r in CU.quota_sample(df, "source", "doc_id", k=5).collect()
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    want = sorted(
        (r.source, r.doc_id, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    assert got == want
    assert len(got) == 20  # 4 sources x k


def test_quota_sample_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "only") for i in range(50)], "doc_id long, source string"
    )
    a = sorted(r.doc_id for r in CU.quota_sample(df, "source", "doc_id", k=7).collect())
    b = sorted(r.doc_id for r in CU.quota_sample(df, "source", "doc_id", k=7).collect())
    assert a == b and len(a) == 7


def test_rare_token_ratio_plants(spark):
    # 'common' appears 4x (not rare at max_freq 2); 'pair' twice
    # (rare, boundary); 'uniq0'/'uniq1' once each (rare)
    df = spark.createDataFrame(
        [
            (0, "common pair uniq0"),
            (1, "common pair uniq1"),
            (2, "common common"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_tokens, r.rare_tokens, r.rare_ratio)
        for r in CU.rare_token_ratio(df, "doc_id", "text", max_freq=2).collect()
    }
    assert rows[0] == (3, 2, round(2 / 3, 6))
    assert rows[1] == (3, 2, round(2 / 3, 6))
    assert rows[2] == (2, 0, 0.0)
