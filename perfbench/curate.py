"""Batch curation: one pass runs every pipeline op of the registry over a
seeded ``documents`` corpus, each to the ``noop`` sink."""

from __future__ import annotations

import contextlib
import statistics

import check
import datagen
from harness import WARMUP_PASSES, Op

# registry op -> its per-layer metric, pipeline.<name>_s
OPS = {
    "pl_exact_dedup": "exact_dedup",
    "pl_minhash_lsh_dedup": "minhash_lsh",
    "pl_dup_clusters": "dup_clusters",
    "pl_contamination_check": "contamination",
    "pl_token_stats": "token_stats",
}


class CurateWorkload:
    def __init__(self, name: str, docs: int) -> None:
        self.name = name
        self.docs = docs
        self.cycle = len(OPS)
        self._i = 0
        self.tracer = None  # set by the traced run: spans around builders

    def setup(self, spark, data_dir: str, seed: int) -> dict[str, int]:
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import queries_map

        self.spark = spark
        self.data_dir = data_dir
        self.qmap = queries_map()
        return datagen.write_documents(data_dir, self.docs, seed)

    def _build(self, name: str):
        fn = self.qmap[name]
        # pl_dup_clusters runs its connected-components loop while the
        # plan is built, so a memoized plan would skip that work
        if hasattr(fn, "_plans"):
            fn._plans.clear()
        span = self.tracer.span("queries.build") if self.tracer and self.tracer.active \
            else contextlib.nullcontext()
        with span:
            return fn(self.spark, self.data_dir)

    def _run(self, name: str) -> None:
        self._build(name).write.mode("overwrite").format("noop").save()

    def warmup(self) -> None:
        """The first pass collects each op's output for ``final_checks``
        (the timed requests write to the noop sink)."""
        self.outputs = {name: self._build(name).collect() for name in OPS}
        for _ in range(WARMUP_PASSES - 1):
            for name in OPS:
                self._run(name)

    def next_op(self) -> Op:
        name = list(OPS)[self._i % len(OPS)]
        self._i += 1
        return Op("pipeline", name, lambda: self._run(name))

    def final_checks(self) -> list[tuple[str, str | None]]:
        """Each op's output, collected in the warm-up, against its registry
        oracle, once per run."""
        from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
            oracle_sql_map,
        )

        con = check.duck_connect(self.data_dir, ("documents",))
        oracles = oracle_sql_map()
        out = [(name, check.matches_oracle(rows, con, oracles[name]))
               for name, rows in self.outputs.items()]
        con.close()
        self.output_rows = [len(rows) for rows in self.outputs.values()]
        return out

    def layer_extras(self, op, out, m: dict) -> dict:
        return {}

    def trace_metrics(self, traced) -> dict:
        """Per-op wall time, and the ops' output rows (from the checked
        outputs: the timed runs write to the noop sink)."""
        out = {
            f"pipeline.{key}_s": statistics.median(s.seconds for s in traced if s.name == name)
            for name, key in OPS.items()
        }
        out["pipeline.output_rows"] = float(statistics.median(self.output_rows))
        return out

    def named_metrics(self, samples, ops_per_s: float) -> dict:
        pass_s = len(OPS) / ops_per_s
        return {
            "docs_per_s": (self.docs / pass_s, "docs/s"),
            "pass_s": (pass_s, "s"),
        }
