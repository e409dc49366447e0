"""Rotate the driver-sampling window (``_PRIORITY`` in queries/registry.py).

External correctness harnesses snapshot the FIRST 50 registry names each
round, so which entries get fresh driver evidence is decided entirely by
``_PRIORITY`` order.  This script reads every ``CORRECTNESS_r*.json`` in
the repo root and regenerates the tuple between the ``_PRIORITY_BEGIN``
/ ``_PRIORITY_END`` markers, ordered:

1. PIN — this-round fixes that must get a driver row (edit below),
2. never-green — entries whose latest driver sample failed, or that
   have never been driver-sampled at all,
3. everything else by staleness (oldest last-sampled round first), so
   the window sweeps the whole registry every ceil(N/50) rounds and no
   entry's evidence goes stale for more than that.

Usage:  python scripts/rotate_priority.py [--pin name ...] [--dry-run]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(
    REPO,
    "clickhouse_is_a_free_analytics_dbms_for_big_data__spark",
    "queries",
    "registry.py",
)

# this-round fixes: always sampled first (hand-edit per round)
PIN: tuple[str, ...] = (
    # r12 in-round value-path changes that must get a fresh driver
    # row: minhash shingle hashes now chain token hashes, the CC loop
    # was restructured (self-loop min + no edge distinct), the
    # contamination gram hashes chain token hashes, agg_pricing is
    # built from SQL fragments, and the timed sequenceMatch runs the
    # vectorized closed form (all driver-simmed green in-round at
    # sf0.01; minhash/contamination also value-checked at sf0.1/sf1).
    "pl_minhash_lsh_dedup",
    "pl_dup_clusters",
    "pl_contamination_check",
    "agg_pricing_summary",
    "dialect_sequence_timed",
    "asof_join_bucketed",
    # r11 value-touched entries whose driver evidence predates the
    # scaled_long / percentile / posexplode rewrites (r11 verdict #2:
    # the r12 window must lead with them)
    "filter_count",
    "with_totals_agg",
    "totals_after_having",
    "totals_before_having",
    "fn_quantiles",
    "fn_enumerate_uniq_sessionize",
    "pl_language_id",
    "join_star_broadcast",
    "sample_deterministic",
    "dict_range_lookup",
    "fn_date_parts",
    # entries whose lowering moved to CH-SQL through the translator
    # (operators/clauses.py deleted), not externally sampled since
    "join_any_left",
    "semi_join_in",
    "anti_join_not_in",
    "array_join_tokens",
    "final_replacing_latest",
    # value-risk pipeline entries: pl_fingerprint_rolling's values
    # changed in r12 and it has never been externally sampled; the
    # other similarity entries share its token-hash and embedding paths
    "pl_fingerprint_rolling",
    "pl_simhash_dedup",
    "pl_embedding_neardup",
    "pl_embedding_neardup_recall",
    "pl_ngram_jaccard",
)

WINDOW = 50  # how many names the driver snapshots


def load_rounds() -> dict[int, dict]:
    rounds = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        with open(p) as f:
            rounds[int(m.group(1))] = json.load(f)
    return rounds


def entry_green(row: dict) -> bool:
    if row.get("err"):
        return False
    if row.get("rows_match") is False or row.get("schema_match") is False:
        return False
    if row.get("hash_match") is False:
        return False
    # rows-only entries (no oracle) count as green only when sampled
    # without error AND they now carry an oracle locally — the caller
    # handles the "still no oracle" case by keeping them in tier 2.
    return row.get("rows_match") is True or (
        row.get("err") is None and row.get("spark_rows") is not None
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pin", nargs="*", default=list(PIN))
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.queries import (
        registry,
    )

    registry._ensure_loaded()
    all_names = list(registry.QUERIES)
    rounds = load_rounds()

    last_sampled: dict[str, int] = {}
    last_green: dict[str, int] = {}
    latest_red: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            if name not in registry.QUERIES:
                continue
            last_sampled[name] = rnd
            if entry_green(row):
                last_green[name] = rnd
            else:
                latest_red[name] = rnd

    pinned = [n for n in args.pin if n in registry.QUERIES]
    never_green = [
        n
        for n in all_names
        if n not in pinned
        and (
            n not in last_sampled  # never sampled at all
            or last_green.get(n, -1) < last_sampled[n]  # latest sample red
        )
    ]
    rest = sorted(
        (n for n in all_names if n not in pinned and n not in never_green),
        key=lambda n: (last_sampled.get(n, -1), n),
    )

    ordered = pinned + never_green + rest
    window = ordered[:WINDOW]
    stale = {n: last_sampled.get(n) for n in window}
    print(f"registry entries: {len(all_names)}; rounds seen: {sorted(rounds)}")
    print(f"pinned: {len(pinned)}  never-green/unsampled: {len(never_green)}")
    print(f"window ({WINDOW}): oldest evidence in window = "
          f"{min((v for v in stale.values() if v is not None), default=None)}")
    for n in window:
        print(f"  {n:45s} last_sampled={last_sampled.get(n)} "
              f"last_green={last_green.get(n)}")

    lines = ['_PRIORITY: tuple[str, ...] = (']
    if pinned:
        lines.append("    # pinned: this-round fixes that need a fresh driver row")
        lines += [f'    "{n}",' for n in pinned]
    if never_green:
        lines.append("    # never-green or never-sampled on the latest driver row")
        lines += [f'    "{n}",' for n in never_green]
    lines.append("    # stalest driver evidence first (full-registry sweep)")
    lines += [f'    "{n}",' for n in rest]
    lines.append(")")
    body = "\n".join(lines)

    with open(REGISTRY) as f:
        src = f.read()
    new = re.sub(
        r"(# _PRIORITY_BEGIN[^\n]*\n).*?(\n# _PRIORITY_END)",
        lambda m: m.group(1) + body + m.group(2),
        src,
        flags=re.S,
    )
    if new == src:
        print("registry.py unchanged (markers missing or identical output)")
    elif args.dry_run:
        print("--dry-run: not writing registry.py")
    else:
        with open(REGISTRY, "w") as f:
            f.write(new)
        print(f"wrote {REGISTRY}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
