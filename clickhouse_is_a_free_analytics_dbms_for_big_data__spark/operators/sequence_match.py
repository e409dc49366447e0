"""sequenceMatch / sequenceCount — event-sequence pattern aggregates.

Reference: dbms/src/AggregateFunctions/AggregateFunctionSequenceMatch.h
(:145 sequenceMatch, :157 sequenceCount; pattern parser :272-361,
backtracking matcher :364-497).  Pattern grammar: ``(?N)`` = event
satisfying condition N, ``.*`` = any events between, ``.`` = exactly
one event, ``(?t<=n)`` / ``(?t<n)`` / ``(?t>=n)`` / ``(?t>n)`` = the
time gap between the two surrounding matched events must satisfy the
comparison (seconds).

Spark-first design, two tiers:

- Time-free patterns (the common funnel case): each event is encoded
  as one character — the digit of the first condition it satisfies, or
  'x' — events are sorted by timestamp *inside an aggregate
  expression* (sort_array over collect_list), and the pattern becomes
  an ordinary regex over the encoded string.  Everything stays
  JVM-side: one shuffle for the groupBy, regex in codegen, no Python
  in the loop.

- Time-constrained patterns cannot be a regex (the gap predicate is
  arithmetic over timestamps), so they run the reference's exact
  backtracking NFA in an Arrow-batched grouped-agg pandas UDF over
  (timestamp, condition-bitmask) pairs.  Still one shuffle; Python
  cost is paid only by patterns that need it, and the bitmask makes
  this path exact even for overlapping conditions.

Caveat (documented divergence, fast path only): the regex tier
assumes conditions are disjoint per event (each event matches at most
one (?N)); the reference's NFA allows overlapping conditions.  Funnel
queries — the function's actual use — have disjoint conditions by
construction.  The timed tier has no such caveat.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference guard: sequence_match_max_iterations (Settings.h) — bail
# out on pathological backtracking rather than hang an executor.
_MAX_ITERATIONS = 1_000_000


def _cond_char(conds: Sequence[Column]) -> Column:
    """First-match-wins condition digit per event ('x' = none)."""
    char = F.lit("x")
    for i in reversed(range(len(conds))):
        char = F.when(conds[i], F.lit(str(i + 1))).otherwise(char)
    return char


def _encode_events(ts: Column, conds: Sequence[Column]) -> Column:
    """Aggregate expression: time-ordered condition-digit string."""
    char = _cond_char(conds)
    pairs = F.collect_list(F.struct(ts.alias("t"), char.alias("c")))
    return F.array_join(
        F.transform(F.array_sort(pairs), lambda s: s.getField("c")), ""
    )


def parse_pattern(pattern: str) -> list[tuple[str, int]]:
    """Pattern → action list, mirroring parsePattern
    (AggregateFunctionSequenceMatch.h:272-361): an implicit leading
    Kleene star, then 'event' (0-based cond index), 'any', 'star', and
    the four time-constraint kinds ('tle','tl','tge','tg', seconds)."""
    actions: list[tuple[str, int]] = [("star", 0)]
    i = 0
    while i < len(pattern):
        if pattern.startswith("(?t", i):
            j = pattern.index(")", i)
            body = pattern[i + 3 : j]
            m = re.match(r"(<=|<|>=|>)\s*(\d+)$", body.strip())
            if not m:
                raise ValueError(f"bad time constraint {pattern[i:j+1]!r}")
            kind = {"<=": "tle", "<": "tl", ">=": "tge", ">": "tg"}[m.group(1)]
            if actions[-1][0] not in ("event", "any", "star"):
                raise ValueError(
                    "time constraint must follow an event condition"
                )
            actions.append((kind, int(m.group(2))))
            i = j + 1
        elif pattern.startswith("(?", i):
            j = pattern.index(")", i)
            actions.append(("event", int(pattern[i + 2 : j]) - 1))
            i = j + 1
        elif pattern.startswith(".*", i):
            actions.append(("star", 0))
            i += 2
        elif pattern[i] == ".":
            actions.append(("any", 0))
            i += 1
        else:
            raise ValueError(f"unsupported pattern token at {pattern[i:]}")
    return actions


def match_events(
    actions: list[tuple[str, int]],
    times: Sequence[int],
    masks: Sequence[int],
    start: int,
) -> tuple[bool, int]:
    """One backtracking match attempt from ``start`` — faithful to the
    reference's match() (AggregateFunctionSequenceMatch.h:364-497).
    Returns (matched, resume position for non-overlapping counting)."""
    n = len(times)
    a_end = len(actions)
    action_it, events_it, base_it = 0, start, start
    stack: list[tuple[int, int, int]] = []

    def backtrack() -> bool:
        nonlocal action_it, events_it, base_it
        while stack:
            a, e, b = stack.pop()
            action_it, events_it, base_it = a, e + 1, b
            if events_it != n:
                return True
        return False

    i = 0
    while action_it < a_end and events_it < n:
        typ, extra = actions[action_it]
        if typ == "event":
            if masks[events_it] >> extra & 1:
                base_it = events_it
                action_it += 1
                events_it += 1
            elif not backtrack():
                break
        elif typ == "any":
            base_it = events_it
            action_it += 1
            events_it += 1
        elif typ == "star":
            stack.append((action_it, events_it, base_it))
            base_it = events_it
            action_it += 1
        else:
            diff = times[events_it] - times[base_it]
            ok = (
                diff <= extra
                if typ == "tle"
                else diff < extra
                if typ == "tl"
                else diff >= extra
                if typ == "tge"
                else diff > extra
            )
            if ok:
                stack.append((action_it, events_it, base_it))
                base_it = events_it
                action_it += 1
            elif typ in ("tge", "tg"):
                # gap can only grow — scan forward
                events_it += 1
                if events_it == n and not backtrack():
                    break
            elif not backtrack():
                break
        i += 1
        if i > _MAX_ITERATIONS:
            raise RuntimeError(
                "sequenceMatch pattern exceeds max iterations"
            )

    # trailing actions that can match the empty suffix
    while action_it < a_end and (
        actions[action_it][0] in ("star", "tle", "tl")
        or (actions[action_it][0] == "tge" and actions[action_it][1] == 0)
    ):
        action_it += 1

    if events_it == start:
        events_it += 1
    return action_it == a_end, events_it


def _mask_expr(conds: Sequence[Column]) -> Column:
    """Condition bitmask per event (bit i = condition i+1 holds) —
    the Spark twin of the reference's per-event std::bitset
    (AggregateFunctionSequenceMatch.h:47)."""
    mask = F.lit(0)
    for i, c in enumerate(conds):
        mask = mask + F.when(c, F.lit(1 << i)).otherwise(F.lit(0))
    return mask.cast("long")


def _single_tcons_shape(
    actions: list[tuple[str, int]], count: bool
) -> tuple[int, str, int, int] | None:
    """(cond_a, kind, T, cond_b) when the pattern is exactly
    ``(?A)(?t<cmp>T)(?B)`` in MATCH mode — the shape whose NFA
    semantics reduce to a closed form (see _timed_udf), else None."""
    if count or len(actions) != 4:
        return None
    if (
        actions[0] == ("star", 0)
        and actions[1][0] == "event"
        and actions[2][0] in ("tle", "tl", "tge", "tg")
        and actions[3][0] == "event"
    ):
        return (actions[1][1], actions[2][0], actions[2][1], actions[3][1])
    return None


def _timed_udf(pattern: str, count: bool):
    """The exact-NFA grouped-agg pandas UDF for one (pattern, mode) —
    shared by the DataFrame path and the SQL dialect (which registers
    it with spark.udf.register for use inside translated GROUP BYs).

    Fast path (r12, guide §4.2): for the common single-time-constraint
    match pattern ``(?A)(?t<cmp>T)(?B)`` the backtracking NFA's result
    has a closed form — matched iff ∃ i < j in (ts, mask) order with
    cond_A(i), cond_B(j) and cmp(t[j] - t[i], T).  Proof sketch from
    match(): the leading star retries every A-position i; after A at
    i the time constraint scans j = i+1.. (tle/tl abandon i once the
    ascending gap exceeds T, tge/tg scan forward while it is still
    short), and each passing j immediately tests B — so the NFA
    accepts exactly when SOME (i < j) pair satisfies both conditions
    and the gap comparison.  For ≤/< the witness needs only the
    LATEST A-time before j; for ≥/> only the EARLIEST — both are one
    vectorized prefix scan instead of an interpreted O(n²)
    backtracking loop per group.  Equivalence is property-tested
    against the NFA on 4,000 randomized sequences
    (tests/test_engines.py::test_timed_fast_path_matches_nfa_on_random_sequences)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    actions = parse_pattern(pattern)
    fast = _single_tcons_shape(actions, count)

    # functionType given explicitly: the module-wide `from __future__
    # import annotations` turns hints into strings, which defeats
    # pandas_udf's signature inference.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def seq_agg(t, m):
        return timed_group_result(actions, fast, count, t.to_numpy(), m.to_numpy())

    return seq_agg


def timed_group_result(actions, fast, count: bool, t, m) -> int:
    """One group's timed sequenceMatch (0/1) or sequenceCount over
    (timestamp seconds, condition mask) arrays: the UDF's body.  With
    ``fast`` (``_single_tcons_shape``'s result) the closed form
    replaces the NFA.  Rows with a NULL timestamp — NaN here, and NaN
    to int64 is platform-dependent — are skipped by both paths, as the
    reference's Null combinator skips rows with a NULL argument."""
    import numpy as np
    import pandas as pd

    keep = ~pd.isna(t)
    tv = t[keep].astype(np.int64, copy=False)
    mv = m[keep].astype(np.int64, copy=False)
    if not len(tv):
        return 0
    # lexsort (last key primary) is the (ts, mask) total order, without
    # a pandas .iloc per comparison (r11: the timed entry ran 3x faster)
    order = np.lexsort((mv, tv))
    ts, ms = tv[order], mv[order]
    if fast is not None:
        a, kind, thr, b = fast
        isa = ((ms >> a) & 1).astype(bool)
        isb = ((ms >> b) & 1).astype(bool)
        if kind in ("tle", "tl"):
            # latest A-time strictly before each position
            lo = np.iinfo(np.int64).min
            ref = np.maximum.accumulate(np.where(isa, ts, lo))
            prev = np.empty_like(ref)
            prev[0] = lo
            prev[1:] = ref[:-1]
            seen = prev != lo
            gap = ts - prev
            ok = isb & seen & (gap <= thr if kind == "tle" else gap < thr)
        else:
            # earliest A-time strictly before each position
            hi = np.iinfo(np.int64).max
            ref = np.minimum.accumulate(np.where(isa, ts, hi))
            prev = np.empty_like(ref)
            prev[0] = hi
            prev[1:] = ref[:-1]
            seen = prev != hi
            gap = ts - prev
            ok = isb & seen & (gap >= thr if kind == "tge" else gap > thr)
        return int(bool(ok.any()))
    times, masks = ts.tolist(), ms.tolist()
    if count:
        pos = total = 0
        while pos < len(times):
            matched, pos = match_events(actions, times, masks, pos)
            if not matched:
                break
            total += 1
        return total
    return int(match_events(actions, times, masks, 0)[0])


def _timed_agg(pattern: str, ts: Column, conds: Sequence[Column], count: bool) -> Column:
    """Grouped-agg pandas UDF running the exact NFA (timed patterns)."""
    ts_secs = ts.cast("timestamp").cast("long")
    return _timed_udf(pattern, count)(ts_secs, _mask_expr(conds))


def _pattern_to_regex(pattern: str) -> str:
    if "(?t" in pattern:
        raise NotImplementedError(
            "time-constrained patterns (?t<=n) are not supported"
        )
    out = []
    i = 0
    while i < len(pattern):
        if pattern.startswith("(?", i):
            j = pattern.index(")", i)
            n = int(pattern[i + 2 : j])
            out.append(str(n))
            i = j + 1
        elif pattern.startswith(".*", i):
            out.append(".*?")
            i += 2
        elif pattern[i] == ".":
            out.append(".")
            i += 1
        else:
            raise ValueError(f"unsupported pattern token at {pattern[i:]}")
    return "".join(out)


def sequence_match(
    pattern: str, ts: Column, conds: Sequence[Column]
) -> Column:
    """Aggregate expression: 1 if the group's event sequence matches."""
    if "(?t" in pattern:
        return _timed_agg(pattern, ts, conds, count=False).cast("int")
    encoded = _encode_events(ts, conds)
    regex = _pattern_to_regex(pattern)
    return encoded.rlike(regex).cast("int")


def sequence_count(
    pattern: str, ts: Column, conds: Sequence[Column]
) -> Column:
    """Aggregate expression: number of non-overlapping matches."""
    if "(?t" in pattern:
        return _timed_agg(pattern, ts, conds, count=True)
    encoded = _encode_events(ts, conds)
    regex = _pattern_to_regex(pattern)
    if re.match(f"(?:{regex})$", ""):
        # empty-matchable pattern: the reference's forced-progress rule
        # (match.h:494 `if (events_it == events_begin) ++events_it`)
        # consumes one event per empty match -> count = event count
        return F.length(encoded).cast("long")
    return F.size(F.regexp_extract_all(encoded, F.lit(f"({regex})"), 1)).cast("long")
