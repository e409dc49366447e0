"""The plan memo (memo.py) and its callers: the table-reader and
temp-view memos (sources/catalog), the shared plan_cache
(queries/registry) and the stored hits table (queries/hits_q).

They cache PLANS, never data: the staleness contract is that a
rewritten table yields a fresh reader, and a plan_cache'd builder
returns one DataFrame per (session, sf_dir) without re-running the
builder body."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.memo import (
    session_key,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.registry import (
    plan_cache,
)
from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.catalog import (
    load_tables,
)

from .conftest import SF_SMOKE

SF_ORACLE = "/root/testdata/sf0.01"


def test_reader_memo_returns_same_plan_for_unchanged_table(spark):
    a = load_tables(spark, SF_ORACLE, ("nation",))["nation"]
    b = load_tables(spark, SF_ORACLE, ("nation",))["nation"]
    assert a is b  # memo hit: same lazy DataFrame (a plan, not data)


def test_reader_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path / "sfx")
    os.makedirs(d)
    src = os.path.join(SF_ORACLE, "nation.parquet")
    dst = os.path.join(d, "nation.parquet")
    shutil.copyfile(src, dst)
    first = load_tables(spark, d, ("nation",))["nation"]
    n_first = first.count()
    # rewrite the table with MORE rows and a bumped mtime
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(src)
    pq.write_table(pa.concat_tables([t, t]), dst)
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 2_000_000_000,) * 2)
    second = load_tables(spark, d, ("nation",))["nation"]
    assert second is not first
    assert second.count() == 2 * n_first  # fresh reader sees new data


def test_plan_cache_memoizes_per_session_and_dir(spark):
    calls = []

    @plan_cache
    def q(s, sf_dir):
        calls.append(sf_dir)
        return s.range(3).select(F.col("id"))

    a = q(spark, "/x")
    b = q(spark, "/x")
    c = q(spark, "/y")
    assert a is b and a is not c
    assert calls == ["/x", "/y"]
    # every execution still computes (the memo holds a lazy plan)
    assert a.count() == 3 and c.count() == 3
    # clearing forces a rebuild (what bench.py's sf1 section relies on)
    q._plans.clear()
    d = q(spark, "/x")
    assert d is not a and calls == ["/x", "/y", "/x"]


def test_quantiles_exact_matches_separate_percentiles(spark):
    df = spark.range(1, 1001).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    )
    got = df.groupBy("k").agg(
        F.expr("percentile(v, array(0.5, 0.9))").alias("qq"),
        F.percentile(F.col("v"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("v"), F.lit(0.9)).alias("p90"),
    ).collect()
    for r in got:
        assert r.qq[0] == r.p50 and r.qq[1] == r.p90


def test_dialect_view_memo_invalidates_on_rewrite(spark, tmp_path):
    """r12 (r11 advice): rewriting a table under the SAME sf_dir must
    re-register the temp views — the memo value carries the tables'
    stat signature, so the dialect keeps seeing the live data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.dialect_q import (
        _engine,
    )

    d = str(tmp_path / "sfdialect")
    os.makedirs(d)
    src = os.path.join(SF_ORACLE, "nation.parquet")
    dst = os.path.join(d, "nation.parquet")
    shutil.copyfile(src, dst)
    eng = _engine(spark, d)
    n_first = eng.sql("SELECT count() AS n FROM nation").collect()[0].n
    t = pq.read_table(src)
    pq.write_table(pa.concat_tables([t, t]), dst)
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 2_000_000_000,) * 2)
    eng2 = _engine(spark, d)
    n_second = eng2.sql("SELECT count() AS n FROM nation").collect()[0].n
    assert n_second == 2 * n_first  # views re-bound to the new file


def test_stored_memo_rebuilds_after_store_dir_deleted(spark):
    """r12 (r11 advice): deleting the store dir mid-session (source
    unchanged) must trigger a rebuild on the next call, not serve a
    memoized plan over missing files."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        hits_q,
    )

    p = hits_q.ensure_hits_stored(spark, SF_ORACLE)
    df1 = hits_q.hits_q13_stored(spark, SF_ORACLE)
    assert df1.count() >= 0  # store readable
    shutil.rmtree(p)
    p2 = hits_q.ensure_hits_stored(spark, SF_ORACLE)  # rebuilt
    assert os.path.exists(os.path.join(p2, "_HITS_STORE_META"))
    df2 = hits_q.hits_q13_stored(spark, SF_ORACLE)
    assert df2.count() >= 0  # plan over the REBUILT store executes


def test_plan_cache_eviction_keeps_live_session_entries(spark):
    calls = []

    @plan_cache
    def q(s, sf_dir):
        calls.append(sf_dir)
        return s.range(1)

    # fake 70 dead-session entries + 1 live entry
    live = q(spark, "/live")
    for i in range(70):
        q._plans[(("deadapp", i), f"/d{i}")] = ((), live)
    assert len(q._plans) > 64
    # next miss evicts ONLY the dead-session keys
    q(spark, "/live2")
    assert q._plans[(session_key(spark), "/live")][1] is live
    assert all(k[0][0] != "deadapp" for k in q._plans)
    assert calls == ["/live", "/live2"]


def test_stored_memo_skips_insert_without_store(spark, tmp_path):
    """A *_stored build that leaves no published store (no
    _HITS_STORE_META) must not be memoized under a None signature: the
    next call re-runs the builder instead of accumulating None keys."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        hits_q,
    )

    calls = []

    @plan_cache(watch=hits_q._hits_store_path)
    def q(s, sf_dir):
        calls.append(sf_dir)
        return s.range(1)

    q(spark, str(tmp_path))
    q(spark, str(tmp_path))
    assert q._plans == {}
    assert calls == [str(tmp_path)] * 2


def test_engine_views_follow_direct_register_tables(spark):
    """A register_tables call for another sf_dir (which bypasses the
    dialect entries) must not leave their views pointing there: the
    next dialect build re-registers its own sf_dir."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.dialect_q import (
        _engine,
    )
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.catalog import (
        register_tables,
    )

    want = load_tables(spark, SF_ORACLE, ("orders",))["orders"].count()
    small = load_tables(spark, SF_SMOKE, ("orders",))["orders"].count()
    assert want != small
    q = "SELECT count() AS n FROM orders"
    assert _engine(spark, SF_ORACLE).sql(q).collect()[0].n == want
    register_tables(spark, SF_SMOKE)
    assert _engine(spark, SF_ORACLE).sql(q).collect()[0].n == want


def test_stored_entry_runs_after_session_restart():
    """A stored-hits entry built in a stopped session must not serve
    that session's DataFrame to the next one.  Runs in a subprocess so
    the suite's shared session survives."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark import get_session
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import hits_q

        counts = []
        for _ in range(2):
            spark = get_session(app_name="restart", master="local[1]",
                                shuffle_partitions=1)
            counts.append(hits_q.hits_q13_stored(spark, {SF_SMOKE!r}).count())
            spark.stop()
        assert counts[0] == counts[1], counts
        print("OK", counts)
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-3000:]
