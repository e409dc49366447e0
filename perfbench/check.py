"""Output checks: engine rows against the DuckDB oracle, with the repo's
own comparison rules (``tests/oracle_utils.py``: columns sorted by name,
rows sorted, values compared exactly)."""

from __future__ import annotations

import os

import duckdb

from tests.oracle_utils import _keyed, _norm


def duck_connect(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per parquet table, plus the
    ``cityHash64`` the hits templates call, from the engine's scalar
    reference port (``functions/exact_hash.py``)."""
    from clickhouse_is_a_free_analytics_dbms_for_big_data__spark.functions.exact_hash import (
        city_hash_64,
    )

    con = duckdb.connect(config={"threads": 1})
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    con.create_function(
        "cityHash64", lambda s: city_hash_64(s.encode("utf-8")),
        ["VARCHAR"], "UBIGINT", side_effects=False,
    )
    return con


def sorted_rows(cols: list[str], rows, approx: tuple[str, ...] = ()):
    """Columns sorted by name, rows normalized and sorted (by the exact
    columns first, so approximate values cannot reorder rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    exact = [k for k, c in enumerate(names) if c not in approx]
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple(_keyed(r[k]) for k in exact)
             + tuple(_keyed(v) for v in r))
    return names, out


# relative error allowed for approximate aggregates: ``uniq`` lowers to
# HyperLogLog++ with a 1.625% relative standard deviation, so 5% is three
# standard deviations
APPROX_TOLERANCE = 0.05


def matches_oracle(rows, con: duckdb.DuckDBPyConnection, sql: str,
                   approx: tuple[str, ...] = ()) -> str | None:
    """None when ``rows`` (collected engine Rows) equal the oracle's
    result, else a one-line description of the first difference."""
    res = con.sql(sql)
    dcols, drows = sorted_rows(res.columns, res.fetchall(), approx)
    if not rows:
        return None if not drows else f"0 rows vs {len(drows)}"
    scols, srows = sorted_rows(list(rows[0].__fields__), [tuple(r) for r in rows], approx)
    if scols != dcols:
        return f"columns {scols} vs {dcols}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs {len(drows)}"
    loose = {k for k, c in enumerate(scols) if c in approx}
    for a, b in zip(srows, drows):
        for k, (x, y) in enumerate(zip(a, b)):
            if k in loose and x is not None and y is not None:
                if abs(x - y) > APPROX_TOLERANCE * max(abs(y), 1):
                    return f"row {a} vs {b} (approximate column {scols[k]})"
            elif x != y:
                return f"row {a} vs {b}"
    return None
