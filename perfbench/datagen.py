"""Seeded inputs for every workload.

Everything here is a pure function of its arguments: the same seed gives
byte-identical tables and batches.  The engine receives only what these
functions produce.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the base vocabulary of the repo's synthetic documents corpus
_WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window index plan cache"
).split()
_LANGS = ("de", "en", "es", "fr", "zh")


def write_events(out_dir: str, n_rows: int, seed: int) -> dict[str, int]:
    """``events`` (the source of the derived ``hits`` view) plus the two
    TPC-H tables the ANY JOIN template reads.  Returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n_users = max(n_rows * 15 // 1000, 20)
    base = int(rng.integers(0, 1_000_000))  # seed-dependent id range
    event_id = np.arange(base, base + n_rows, dtype=np.int64)
    secs = np.sort(rng.integers(0, 30 * 86400, n_rows))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + secs.astype(
        "timedelta64[s]"
    ) + rng.integers(0, 1_000_000, n_rows).astype("timedelta64[us]")
    types = np.array(["click", "error", "purchase", "signup", "view"])
    events = pa.table({
        "event_id": event_id,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_rows, dtype=np.int64),
        "event_type": types[rng.integers(0, len(types), n_rows)],
        "value": np.round(rng.uniform(0, 500, n_rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
    })
    n_cust = max(n_rows // 50, 10)
    n_orders = max(n_rows // 5, 50)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n_cust)],
    })
    days = rng.integers(0, 7 * 365, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": pa.array(
            (np.datetime64("1992-01-01", "D") + days).astype("datetime64[us]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)
        ],
    })
    for name, table in (("events", events), ("customer", customer), ("orders", orders)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"events": n_rows, "customer": n_cust, "orders": n_orders}


def write_documents(out_dir: str, n_docs: int, seed: int) -> dict[str, int]:
    """A ``documents`` corpus with dense ``doc_id`` 0..n-1 (the dup-cluster
    oracle relies on it).  Each replica of the base vocabulary gets its own
    seed-salted tokens, so documents of different replicas share few
    shingles; about 3% are planted exact duplicates (case/whitespace
    variants) and 3% near duplicates (the last token replaced, so a pair
    shares all but one 5-shingle and sits far above the 0.8 Jaccard
    threshold, where LSH banding finds it with near certainty)."""
    rng = np.random.default_rng([seed, 2])
    salt = int(rng.integers(0, 1 << 30))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            src = texts[int(rng.integers(0, i))]
            texts.append("  ".join(src.upper().split()))
        elif i > 10 and r < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            if len(toks) >= 40:
                toks[-1] = "zz" + str(i)
            texts.append(" ".join(toks))
        else:
            replica = i % 10
            vocab = _WORDS + [f"t{salt % 9973 + replica}x{k}" for k in range(8)]
            n_tok = int(rng.integers(8, 100))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n_tok)))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return {"documents": n_docs}


# --------------------------------------------------------------- ingest

INGEST_COLUMNS = (
    ("EventDate", "Date"),
    ("CounterID", "UInt32"),
    ("UserID", "UInt64"),
    ("URL", "String"),
    ("Clicks", "UInt32"),
    ("ver", "UInt32"),
)
_EPOCH = dt.date(1970, 1, 1)
_MARCH = (dt.date(2024, 3, 1) - _EPOCH).days


class IngestStream:
    """Insert batches as column arrays.

    Keys (CounterID, UserID) repeat across batches, so ReplacingMergeTree
    has versions to collapse; ``ver`` is a global row sequence, so the
    surviving row of every key is unique.  All dates fall in one month,
    i.e. one partition, where the reference's merge semantics apply to
    every pair of rows with equal keys."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.n_keys = n_keys
        self.ver = 1

    def batch(self, rows: int) -> dict:
        rng = self.rng
        key = rng.integers(0, self.n_keys, rows)
        cols = {
            "EventDate": (_MARCH + rng.integers(0, 28, rows)).astype(np.uint16),
            "CounterID": (key % 100).astype(np.uint32),
            "UserID": (key // 100 * 7919 + 1).astype(np.uint64),
            "URL": [f"http://example.com/p/{u}" for u in rng.integers(0, 5000, rows)],
            "Clicks": rng.integers(0, 20, rows).astype(np.uint32),
            "ver": np.arange(self.ver, self.ver + rows, dtype=np.uint32),
        }
        self.ver += rows
        return cols


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _varint(len(raw)) + raw


_FIXED = {"Date": "<u2", "UInt32": "<u4", "UInt64": "<u8"}


def encode_native(cols: dict, block_rows: int) -> bytes:
    """Client-side FORMAT Native encoder: blocks of ``block_rows`` rows,
    each ``ncols, nrows, (name, type, column data)*``."""
    n = len(cols["ver"])
    out = bytearray()
    for lo in range(0, n, block_rows):
        hi = min(lo + block_rows, n)
        out += _varint(len(INGEST_COLUMNS)) + _varint(hi - lo)
        for name, ch_type in INGEST_COLUMNS:
            out += _str(name) + _str(ch_type)
            vals = cols[name][lo:hi]
            if ch_type == "String":
                out += b"".join(_str(v) for v in vals)
            else:
                out += np.asarray(vals, dtype=_FIXED[ch_type]).tobytes()
    return bytes(out)
