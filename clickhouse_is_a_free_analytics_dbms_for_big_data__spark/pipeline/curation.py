"""Corpus-curation operators for LLM training-data pipelines:
deterministic holdout splits, benchmark-contamination detection,
PII scrubbing, intra-document repetition scoring, and sequence
packing.

Everything here is pure JVM Column expressions (no Python UDFs) so
the plans stay inside whole-stage codegen; every op is a single scan
or a single shuffle, and each has a DuckDB-expressible twin so the
driver's oracle can value-check it (queries/pipeline_q.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import text as TXT


# --------------------------------------------------------------- split

def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic, engine-portable bucket in [0, buckets): the
    first 4 hex digits of md5(key) as an integer, mod buckets.

    md5 over the utf-8 key text is identical in every engine (unlike
    xxhash64/cityHash64 whose seeds differ), so a row lands in the
    same split everywhere — the property a train/val/test split must
    have to be reproducible across the fleet and the eval stack.
    16 bits of hash → bucket skew < 2^-9 for buckets=100.
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10)
        .cast("int")
        % buckets
    )


def train_val_test(
    key: Column, train_pct: int = 90, val_pct: int = 5
) -> Column:
    """'train' / 'val' / 'test' assignment from :func:`hash_bucket`."""
    b = hash_bucket(key)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


# ------------------------------------------------- contamination check

def _ngrams_of_tokens(tk: Column, n: int) -> Column:
    # let-bind the token array through the single-element-array trick
    # so it is computed once, not once per n-gram
    return F.get(
        F.transform(
            F.array(tk),
            lambda t: F.transform(
                # min 1 (not 0): sequence(1,0) would be DESCENDING in
                # Spark; matches the shingles_sql convention — a doc
                # shorter than n yields one truncated gram
                F.sequence(
                    F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1))
                ),
                lambda i: F.array_join(F.slice(t, i, n), " "),
            ),
        ),
        0,
    )


def contamination_hits(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    eval_id_col: str,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(corpus id, eval id, n shared token n-grams) for every corpus
    document sharing at least one n-gram with an eval document — the
    standard train/test contamination sweep (eval benchmarks leaking
    into pre-training data).

    Shape at 100 TB: explode both sides to (ngram, id), one equi-join
    on the n-gram, one partial-aggregated groupBy — no cross product.
    The eval side is tiny (benchmarks are thousands of docs), so AQE
    broadcasts it.  The join key is ``xxhash64(ngram)`` — a ~50-char
    gram string becomes 8 bytes through the exchange, the dominant
    shuffle-byte cut for a corpus-wide sweep.  Counts are unchanged
    unless two DISTINCT grams of the same doc pair collide in 64 bits
    (expected collisions ~ pairs x grams^2 / 2^64 — zero in practice,
    and deterministic when it ever happens).
    """
    def _grams(df: DataFrame, ident: str, alias: str) -> DataFrame:
        # hash INSIDE the gram array, before the explode: the generator
        # then fans out 8-byte longs, never the gram strings.
        #
        # r12: the gram hash is xxhash64 chained over the n TOKEN
        # hashes, not over a built gram string — materializing
        # ~n_tokens 50-char strings per row (slice + array_join,
        # interpreted) dominated the sweep (guide §1.2; corpus-side
        # gram pass 1.36 -> 0.46 s at 50k docs).  Tokens cannot
        # contain whitespace, so joined-string equality ⟺ token-tuple
        # equality ⟺ hash-chain equality absent 64-bit collisions —
        # the shared-gram counts are unchanged (verified identical at
        # sf0.01 / sf0.1 / 50k-doc sf1); both sides hash the same way.
        th = f"transform({TXT.tokens_sql(f'`{text_col}`')}, __t -> xxhash64(__t))"
        args = ", ".join(f"element_at(__th, __i + {j})" for j in range(n))
        return df.select(
            F.col(ident).alias(alias),
            F.explode(
                F.expr(
                    f"array_distinct(get(transform(array({th}), "
                    f"__th -> transform("
                    f"sequence(1, greatest(size(__th) - {n - 1}, 1)), "
                    f"__i -> xxhash64({args}))), 0))"
                )
            ).alias("g"),
        )

    c = _grams(corpus, id_col, "doc_id")
    e = _grams(evalset, eval_id_col, "eval_id")
    return (
        c.join(e, "g")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


# --------------------------------------------------------- PII scrub

# Deliberately simple character classes: Java regex and RE2/DuckDB
# agree on them byte-for-byte (no lookaround, no \b).
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\+[0-9]{7,15}"


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(#emails, #phone-like) occurrences in the text."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)),
    )


def scrub_pii(text: Column) -> Column:
    """Mask emails then phone numbers with fixed placeholder tokens
    (single pass each; order matters — emails can contain digits)."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )


# ------------------------------------------------- repetition scoring

def repetition_ratio(text, n: int = 2) -> Column:
    """Fraction of duplicate token n-grams in the document (Gopher-
    style repetition signal: 1 - distinct/total, 0 for short docs).
    High values flag boilerplate/spam for the quality filter."""
    grams = _ngrams_of_tokens(TXT.tokens(text), n)
    return F.get(
        F.transform(
            F.array(grams),
            lambda g: F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct(g)) / F.size(g)
            ),
        ),
        0,
    )


# --------------------------------------------------- sequence packing

def quota_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int = 5,
    salts: int = 16,
) -> DataFrame:
    """Per-group quota sampling: keep at most ``k`` rows per group,
    deterministically ranked by ``(md5(id), id)`` — the per-domain /
    per-source cap every web-scale curation pipeline applies so hot
    domains cannot dominate the training mix.  md5 order makes the
    kept set engine-portable and reproducible (same property as
    :func:`hash_bucket`).

    Two-level top-K: a salted partial top-k (salt derived from the
    hash tail, so retries are deterministic) bounds every sort to the
    salt-local slice, then the final rank sees at most ``salts * k``
    survivors per group — a single-window formulation would sort a
    hot group's entire row set through ONE reducer at 100 TB.  Exact:
    any row in the global top-k is necessarily within its salt's
    top-k.  Output: input columns + ``rank`` (1-based within group).
    """
    rk = F.md5(F.col(id_col).cast("string"))
    w1 = Window.partitionBy(group_col, "_salt").orderBy("_rk", id_col)
    w2 = Window.partitionBy(group_col).orderBy("_rk", id_col)
    return (
        df.withColumn("_rk", rk)
        .withColumn(
            "_salt",
            F.pmod(
                F.conv(F.substring(F.col("_rk"), 29, 4), 16, 10).cast("int"),
                F.lit(salts),
            ),
        )
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_rk", "_salt", "_r1")
    )


def rare_token_ratio(
    df: DataFrame, id_col: str, text_col: str, max_freq: int = 2
) -> DataFrame:
    """Share of a document's token occurrences whose CORPUS-WIDE
    frequency is <= ``max_freq`` — the rare/OOV-token signal used to
    flag gibberish, boilerplate-free spam and encoding damage (high
    ratio) versus templated duplication (near-zero ratio).

    Shapes for 100 TB: corpus frequencies are one explode +
    partial-agg groupBy (shuffle on token); the per-doc ratio joins
    the exploded tokens back on token (second shuffle — Zipf skew on
    hot tokens is flattened by AQE's skew-join split since the
    frequency side is one row per token) and re-aggregates per doc.
    Integer counts and a single final division keep every value
    engine-exact.  Output: (id, n_tokens, rare_tokens, rare_ratio).
    """
    tok = df.select(
        F.col(id_col).alias("_did"),
        F.explode(TXT.tokens(F.col(text_col))).alias("tok"),
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    return (
        tok.join(freq, "tok")
        .groupBy("_did")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_tf") <= max_freq, 1).otherwise(0)
            ).alias("rare_tokens"),
        )
        .withColumn(
            "rare_ratio",
            F.round(F.col("rare_tokens") / F.col("n_tokens"), 6),
        )
        .withColumnRenamed("_did", id_col)
    )


def pack_sequences(
    df: DataFrame,
    part_col: str,
    order_col: str,
    tokens_col: Column,
    context: int = 2048,
) -> DataFrame:
    """Greedy sequential packing of documents into fixed-size training
    contexts: documents are laid out in (part_col, order_col) order
    and bin k holds token positions [k*context, (k+1)*context) — the
    streaming concat-and-chunk layout used to build LLM pre-training
    batches.  Emits (part, bin, docs, bin_tokens).

    The running sum is windowed PER PARTITION COLUMN (language here,
    date-shard in production), so the cumulative-sum window
    parallelizes across partitions instead of serializing the corpus
    through one global window — the difference between a single-task
    stage and a thousand-way one at 100 TB.
    """
    w = (
        Window.partitionBy("part")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = tokens_col.cast("long")
    return (
        df.select(
            F.col(part_col).alias("part"),
            F.col(order_col).alias("_ord"),
            toks.alias("_tk"),
        )
        .withColumn("_cum", F.sum("_tk").over(w))
        .withColumn(
            "bin", F.floor((F.col("_cum") - F.col("_tk")) / context)
        )
        .groupBy("part", "bin")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("_tk").alias("bin_tokens"),
        )
    )
