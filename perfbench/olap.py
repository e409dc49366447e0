"""CH-SQL analyst templates over the derived ``hits`` view.

Each template is the queries.sql shape or a CH clause extension, written
twice: the CH-SQL text a user sends to ``ChEngine.collect`` and the
equivalent DuckDB SQL the oracle runs over the same parquet files.  Every
ORDER BY is total, so LIMIT picks the same rows on both engines.  Literals
are drawn per request, so no two requests of a run send the same text.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np

import check
import datagen
from harness import WARMUP_PASSES, Op, summarize


@dataclass(frozen=True)
class Template:
    name: str
    params: Callable[[np.random.Generator], dict]
    ch: str
    duck: str
    # columns computed by approximate aggregates (``uniq`` is HyperLogLog
    # based), compared within a relative tolerance instead of exactly
    approx: tuple[str, ...] = ()

    def render(self, rng: np.random.Generator) -> tuple[str, str]:
        p = self.params(rng)
        return self.ch.format(**p), self.duck.format(**p)


def _ri(lo: int, hi: int, key: str):
    return lambda rng: {key: int(rng.integers(lo, hi))}


_SUMS_CH = ", ".join(f"sum(ResolutionWidth + {i}) AS s{i}" for i in range(90))
_SUMS_DUCK = ", ".join(
    f"CAST(SUM(ResolutionWidth + {i}) AS BIGINT) AS s{i}" for i in range(90)
)

TEMPLATES: tuple[Template, ...] = (
    Template(
        "q03_multi_agg", _ri(1, 28, "d"),
        "SELECT sum(AdvEngineID) AS s, count() AS c, avg(ResolutionWidth) AS a "
        "FROM hits WHERE EventDate >= toDate('2024-01-{d:02d}')",
        "SELECT CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, "
        "AVG(ResolutionWidth) AS a FROM hits WHERE EventDate >= DATE '2024-01-{d:02d}'",
    ),
    Template(
        "q10_region_uniq",
        lambda rng: {"e": int(rng.integers(0, 7)), "r": int(rng.integers(0, 50))},
        "SELECT RegionID, sum(AdvEngineID) AS s, count() AS c, "
        "avg(ResolutionWidth) AS a, uniq(UserID) AS u FROM hits "
        "WHERE SearchEngineID != {e} AND RegionID != {r} GROUP BY RegionID "
        "ORDER BY c DESC, RegionID LIMIT 10",
        "SELECT RegionID, CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, "
        "AVG(ResolutionWidth) AS a, COUNT(DISTINCT UserID) AS u FROM hits "
        "WHERE SearchEngineID <> {e} AND RegionID <> {r} GROUP BY RegionID "
        "ORDER BY c DESC, RegionID LIMIT 10",
        approx=("u",),
    ),
    Template(
        "q13_phrase_top", _ri(0, 60, "k"),
        "SELECT SearchPhrase, count() AS c FROM hits "
        "WHERE SearchPhrase != '' AND CounterID >= {k} GROUP BY SearchPhrase "
        "ORDER BY c DESC, SearchPhrase LIMIT 10",
        "SELECT SearchPhrase, COUNT(*) AS c FROM hits "
        "WHERE SearchPhrase <> '' AND CounterID >= {k} GROUP BY SearchPhrase "
        "ORDER BY c DESC, SearchPhrase LIMIT 10",
    ),
    Template(
        "q21_url_like", _ri(1, 100, "n"),
        "SELECT count() AS c FROM hits WHERE URL LIKE '%page/{n}%'",
        "SELECT COUNT(*) AS c FROM hits WHERE URL LIKE '%page/{n}%'",
    ),
    Template(
        "q29_domain_having", _ri(10, 100, "k"),
        "SELECT domainWithoutWWW(Referer) AS d, avg(length(Referer)) AS l, "
        "count() AS c, min(Referer) AS r FROM hits "
        "WHERE Referer != '' AND CounterID < {k} GROUP BY d "
        "HAVING count() > 100 ORDER BY l DESC, d LIMIT 25",
        "SELECT regexp_extract(Referer, '^[a-zA-Z]+://(www\\.)?([^/:?#]+)', 2) AS d, "
        "AVG(length(Referer)) AS l, COUNT(*) AS c, MIN(Referer) AS r FROM hits "
        "WHERE Referer <> '' AND CounterID < {k} GROUP BY d "
        "HAVING COUNT(*) > 100 ORDER BY l DESC, d LIMIT 25",
    ),
    Template(
        "q30_ninety_sums", _ri(0, 400, "w"),
        f"SELECT {_SUMS_CH} FROM hits WHERE ResolutionWidth >= 800 + {{w}}",
        f"SELECT {_SUMS_DUCK} FROM hits WHERE ResolutionWidth >= 800 + {{w}}",
    ),
    Template(
        "q34_url_top", _ri(0, 100, "k"),
        "SELECT URL, count() AS c FROM hits WHERE CounterID != {k} "
        "GROUP BY URL ORDER BY c DESC, URL LIMIT 10",
        "SELECT URL, COUNT(*) AS c FROM hits WHERE CounterID <> {k} "
        "GROUP BY URL ORDER BY c DESC, URL LIMIT 10",
    ),
    Template(
        "limit_by", lambda rng: {"r": int(rng.integers(10, 50)), "n": int(rng.integers(1, 4))},
        "SELECT CounterID, SearchEngineID, count() AS c FROM hits "
        "WHERE RegionID < {r} GROUP BY CounterID, SearchEngineID "
        "ORDER BY CounterID, c DESC, SearchEngineID LIMIT {n} BY CounterID",
        "SELECT CounterID, SearchEngineID, c FROM ("
        "SELECT CounterID, SearchEngineID, COUNT(*) AS c, row_number() OVER ("
        "PARTITION BY CounterID ORDER BY COUNT(*) DESC, SearchEngineID) AS rn "
        "FROM hits WHERE RegionID < {r} GROUP BY CounterID, SearchEngineID"
        ") WHERE rn <= {n}",
    ),
    Template(
        "with_totals",
        lambda rng: {"m": (m := int(rng.integers(2, 9))), "r": int(rng.integers(0, m))},
        "SELECT TraficSourceID AS t, count() AS c, sum(Refresh) AS f FROM hits "
        "WHERE UserID % {m} = {r} GROUP BY t WITH TOTALS ORDER BY t",
        "SELECT TraficSourceID AS t, COUNT(*) AS c, CAST(SUM(Refresh) AS BIGINT) AS f "
        "FROM hits WHERE UserID % {m} = {r} GROUP BY t "
        # the totals row's key is NULL in collected rows (the output
        # formats render it as the type default)
        "UNION ALL SELECT NULL, COUNT(*), CAST(SUM(Refresh) AS BIGINT) "
        "FROM hits WHERE UserID % {m} = {r}",
    ),
    Template(
        "array_join", _ri(5, 100, "k"),
        "SELECT tok, count() AS c FROM hits "
        "ARRAY JOIN splitByChar(' ', Title) AS tok WHERE CounterID < {k} "
        "GROUP BY tok ORDER BY c DESC, tok LIMIT 10",
        "SELECT tok, COUNT(*) AS c FROM hits, "
        "unnest(string_split(Title, ' ')) AS u(tok) WHERE CounterID < {k} "
        "GROUP BY tok ORDER BY c DESC, tok LIMIT 10",
    ),
    Template(
        "in_subquery", _ri(0, 199, "n"),
        "SELECT count() AS c, uniq(UserID) AS u FROM hits WHERE UserID IN "
        "(SELECT UserID FROM hits WHERE SearchPhrase = 'phrase_{n}')",
        "SELECT COUNT(*) AS c, COUNT(DISTINCT UserID) AS u FROM hits WHERE UserID IN "
        "(SELECT UserID FROM hits WHERE SearchPhrase = 'phrase_{n}')",
        approx=("u",),
    ),
    Template(
        "any_join",
        lambda rng: {"y": int(rng.integers(1992, 1999)), "m": int(rng.integers(1, 13))},
        "SELECT c_mktsegment AS seg, count() AS n, sum(o_orderkey % 7) AS s "
        "FROM orders ANY LEFT JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderdate >= toDate('{y}-{m:02d}-01') GROUP BY seg ORDER BY seg",
        "SELECT c_mktsegment AS seg, COUNT(*) AS n, "
        "CAST(SUM(o_orderkey % 7) AS BIGINT) AS s "
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
        "WHERE o_orderdate >= DATE '{y}-{m:02d}-01' GROUP BY seg ORDER BY seg",
    ),
    Template(
        # toString(): over a registered DataFrame view the translator
        # cannot type a bare column and lowers cityHash64(URL) to an
        # xxhash64 stand-in with other values
        "cityhash_string", _ri(0, 16, "r"),
        "SELECT count() AS c, uniqExact(URL) AS u FROM hits "
        "WHERE cityHash64(toString(URL)) % 16 = {r}",
        "SELECT COUNT(*) AS c, COUNT(DISTINCT URL) AS u FROM hits "
        "WHERE cityHash64(URL) % 16 = {r}",
    ),
)


class OlapWorkload:
    """Closed-loop analyst mix: one request per template, round robin."""

    def __init__(self, name: str, events: int) -> None:
        self.name = name
        self.events = events
        self.cycle = len(TEMPLATES)
        self._i = 0
        self._sent: set[str] = set()
        self._oracle = None

    def setup(self, spark, data_dir: str, seed: int) -> dict[str, int]:
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.engine import (
            ChEngine,
        )
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.hits_q import (
            hits_view,
        )
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.sources.catalog import (
            load_tables,
        )

        self.data_dir = data_dir
        counts = datagen.write_events(data_dir, self.events, seed)
        self.eng = ChEngine(spark)
        self.eng.register_table("hits", hits_view(spark, data_dir))
        for table, df in load_tables(spark, data_dir, ("orders", "customer")).items():
            self.eng.register_table(table, df)
        self.rng = np.random.default_rng([seed, 10])
        return counts

    def warmup(self) -> None:
        for _ in range(WARMUP_PASSES):
            for t in TEMPLATES:
                self.eng.collect(self._render(t)[0])

    def _render(self, t: Template) -> tuple[str, str]:
        """Fresh literals: no request text repeats within a run."""
        for _ in range(100):
            ch, duck = t.render(self.rng)
            if ch not in self._sent:
                break
        self._sent.add(ch)
        return ch, duck

    def next_op(self) -> Op:
        t = TEMPLATES[self._i % len(TEMPLATES)]
        self._i += 1
        ch, duck = self._render(t)
        return Op(
            "query", t.name, lambda: self.eng.collect(ch),
            lambda rows: self._verify(rows, duck, t.approx),
        )

    def _verify(self, rows, duck_sql: str, approx) -> str | None:
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries.hits_q import (
            _HITS_CTE,
        )

        if self._oracle is None:
            self._oracle = check.duck_connect(self.data_dir, ("events", "orders", "customer"))
            # the derived view once, as a table, not once per checked request
            self._oracle.execute(f"CREATE TABLE hits AS {_HITS_CTE} SELECT * FROM hits")
        return check.matches_oracle(rows, self._oracle, duck_sql, approx)

    def final_checks(self) -> list:
        return []

    def layer_extras(self, op, rows, m: dict) -> dict:
        if "sources.scan_rows" not in m:
            return {}
        n = len(rows) if rows else 0
        return {"sources.rows_read_per_result_row": m["sources.scan_rows"] / max(n, 1)}

    def trace_metrics(self, traced) -> dict:
        return {}

    def named_metrics(self, samples, ops_per_s: float) -> dict:
        q = summarize(samples, "query")
        return {
            "query_p50_ms": (q["p50_ms"], "ms"),
            "query_p90_ms": (q["p90_ms"], "ms"),
            "queries_per_s": (ops_per_s, "1/s"),
        }
