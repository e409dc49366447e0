"""Native ingest into a ReplacingMergeTree with a summing materialized
view, FINAL reads and OPTIMIZE beside it, checked against a pure-Python
model of the Replacing and Summing semantics."""

from __future__ import annotations

import datagen
from harness import WARMUP_PASSES, Op, summarize

CREATE_TABLE = (
    "CREATE TABLE ingest_hits (EventDate Date, CounterID UInt32, UserID UInt64, "
    "URL String, Clicks UInt32, ver UInt32) "
    "ENGINE = ReplacingMergeTree(EventDate, (CounterID, UserID), 8192, ver)"
)
CREATE_MV = (
    "CREATE MATERIALIZED VIEW ingest_daily "
    "ENGINE = SummingMergeTree(EventDate, (EventDate, CounterID), 8192) AS "
    "SELECT EventDate, CounterID, count() AS hits, sum(Clicks) AS clicks "
    "FROM ingest_hits GROUP BY EventDate, CounterID"
)
FINAL_SQL = (
    "SELECT CounterID, count() AS users, sum(Clicks) AS clicks, max(ver) AS top "
    "FROM ingest_hits FINAL GROUP BY CounterID ORDER BY CounterID"
)
MV_SQL = (
    "SELECT CounterID, sum(hits) AS h, sum(clicks) AS c FROM ingest_daily "
    "GROUP BY CounterID ORDER BY CounterID"
)
# one cycle: a FINAL read after every 2nd batch, OPTIMIZE after every 4th
CYCLE = ("insert", "insert", "final_read", "insert", "insert", "final_read", "optimize")


class Model:
    """Reference semantics: ReplacingMergeTree keeps the max-``ver`` row
    per key; the materialized view sees every inserted row."""

    def __init__(self) -> None:
        self.latest: dict[tuple[int, int], tuple[int, int]] = {}  # key -> (ver, clicks)
        self.mv: dict[int, list[int]] = {}
        self.rows = 0

    def apply(self, cols: dict) -> None:
        for c, u, clicks, ver in zip(
            cols["CounterID"].tolist(), cols["UserID"].tolist(),
            cols["Clicks"].tolist(), cols["ver"].tolist(),
        ):
            cur = self.latest.get((c, u))
            if cur is None or ver > cur[0]:
                self.latest[(c, u)] = (ver, clicks)
            acc = self.mv.setdefault(c, [0, 0])
            acc[0] += 1
            acc[1] += clicks
        self.rows += len(cols["ver"])

    def final(self) -> list[tuple]:
        agg: dict[int, list[int]] = {}
        for (c, _u), (ver, clicks) in self.latest.items():
            a = agg.setdefault(c, [0, 0, 0])
            a[0] += 1
            a[1] += clicks
            a[2] = max(a[2], ver)
        return [(c, *agg[c]) for c in sorted(agg)]

    def mv_totals(self) -> list[tuple]:
        return [(c, *self.mv[c]) for c in sorted(self.mv)]


def _same(rows, expected: list[tuple], what: str) -> str | None:
    got = [tuple(int(v) for v in r) for r in rows]
    if got == expected:
        return None
    diff = next((f"{a} vs {b}" for a, b in zip(got, expected) if a != b),
                f"{len(got)} rows vs {len(expected)}")
    return f"{what}: {diff}"


class IngestWorkload:
    def __init__(self, name: str, batch_rows: int, block_rows: int,
                 n_keys: int) -> None:
        self.name = name
        self.batch_rows = batch_rows
        self.block_rows = block_rows
        self.n_keys = n_keys
        self.cycle = len(CYCLE)
        self._i = 0

    def setup(self, spark, data_dir: str, seed: int) -> dict[str, int]:
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.dialect.engine import (
            ChEngine,
        )

        self.eng = ChEngine(spark)
        self.eng.execute(CREATE_TABLE)
        self.eng.execute(CREATE_MV)
        self.stream = datagen.IngestStream(seed, self.n_keys)
        self.model = Model()
        # start near the steady state: one bulk insert covering the keys
        self._insert(self.stream.batch(self.n_keys))
        return {"preload_rows": self.n_keys, "batch_rows": self.batch_rows,
                "keys": self.n_keys}

    def _insert(self, cols: dict) -> None:
        self.eng.insert_native("ingest_hits", datagen.encode_native(cols, self.block_rows))
        self.model.apply(cols)

    def warmup(self) -> None:
        for kind in ("insert", "final_read", "optimize") * WARMUP_PASSES:
            self._op(kind).run()

    def _op(self, kind: str) -> Op:
        if kind == "insert":
            # client-side encoding and the model update stay outside the
            # timed request
            cols = self.stream.batch(self.batch_rows)
            payload = datagen.encode_native(cols, self.block_rows)
            self.model.apply(cols)
            return Op("insert", kind, lambda: self.eng.insert_native("ingest_hits", payload))
        if kind == "final_read":
            expected = self.model.final()
            return Op(kind, kind, lambda: self.eng.collect(FINAL_SQL),
                      lambda rows: _same(rows, expected, "FINAL"))
        return Op(kind, kind, lambda: self.eng.execute("OPTIMIZE TABLE ingest_hits"))

    def next_op(self) -> Op:
        kind = CYCLE[self._i % len(CYCLE)]
        self._i += 1
        return self._op(kind)

    def final_checks(self) -> list[tuple[str, str | None]]:
        """The materialized view and a last FINAL read against the model."""
        return [
            ("mv_totals", _same(self.eng.collect(MV_SQL), self.model.mv_totals(), "MV")),
            ("final_read", _same(self.eng.collect(FINAL_SQL), self.model.final(), "FINAL")),
        ]

    def layer_extras(self, op, out, m: dict) -> dict:
        parts = self.eng.collect(
            "SELECT count() AS n, sum(rows) AS r FROM system.parts "
            "WHERE table = 'ingest_hits' AND active"
        )[0]
        live = len(self.model.latest)
        extra = {"sources.parts_active": float(parts["n"])}
        if op.kind == "insert":
            # an INSERT unions the new block into the stored rows and
            # checkpoints the union: every stored row is written again
            extra["sources.write_amp"] = float(parts["r"] or 0) / self.batch_rows
            storage = stored_block_bytes(self.eng.spark)
            extra["sources.stored_bytes_per_row"] = storage / max(live, 1)
        return extra

    def trace_metrics(self, traced) -> dict:
        return {}

    def named_metrics(self, samples, ops_per_s: float) -> dict:
        ins = summarize(samples, "insert")
        fin = summarize(samples, "final_read")
        opt = summarize(samples, "optimize")
        return {
            "insert_p50_ms": (ins["p50_ms"], "ms"),
            "insert_p90_ms": (ins["p90_ms"], "ms"),
            "insert_rows_per_s": (ins["n"] * self.batch_rows / ins["total_s"], "rows/s"),
            "final_read_p50_ms": (fin["p50_ms"], "ms"),
            "optimize_p50_ms": (opt["p50_ms"], "ms"),
        }


def stored_block_bytes(spark) -> float:
    """Bytes the block manager holds for persisted (checkpointed) RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))
