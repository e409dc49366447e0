"""Training-data pipeline queries: dedup, similarity search, text
analysis, multimodal plumbing — on the documents/embeddings tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import dedup as D
from ..pipeline import multimodal as M
from ..pipeline import similarity as SIM
from ..pipeline import text as TXT
from .core import _t
from .registry import plan_cache as _plan_cache
from .registry import query

# Query vector for ANN demos: deterministic, matches embedding dim 64.
_QUERY_VEC = [((i * 37 + 11) % 101 - 50) / 50.0 for i in range(64)]


@query(
    "pl_exact_dedup",
    """
    WITH keyed AS (
        SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ), winners AS (
        SELECT fp, MIN(doc_id) AS doc_id FROM keyed GROUP BY fp
    )
    SELECT COUNT(*) AS kept, (SELECT COUNT(*) FROM documents) AS total
    FROM winners
    """,
    doc="Exact dedup on a normalized-content fingerprint: hash-groupBy, "
    "keep min doc_id (single shuffle; the 100 TB-cheap dedup).",
    tags=("pipeline", "dedup"),
)
@_plan_cache
def pl_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    kept = D.exact_dedup(docs, TXT.fingerprint_md5(F.col("text")), "doc_id")
    return kept.agg(F.count(F.lit(1)).alias("kept")).crossJoin(
        docs.agg(F.count(F.lit(1)).alias("total"))
    )


@query(
    "pl_token_stats",
    """
    SELECT lang,
           COUNT(*) AS docs,
           CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(lower(text), ' '),
                                    t -> LEN(t) > 0))) AS BIGINT) AS total_tokens,
           ROUND(AVG(LEN(LIST_FILTER(STRING_SPLIT(lower(text), ' '),
                                     t -> LEN(t) > 0))), 6) AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Token counting (whitespace tokenizer) per language slice.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    n = TXT.token_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(n).cast("bigint").alias("total_tokens"),
            F.round(F.avg(n), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "pl_quality_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT(lower(text), ' '), t -> LEN(t) > 0) AS tk,
               (LEN(text) - LEN(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')))
                 * 1.0 / GREATEST(LEN(text), 1) AS punct_r,
               (LEN(text) - LEN(REGEXP_REPLACE(text, '[0-9]', '', 'g')))
                 * 1.0 / GREATEST(LEN(text), 1) AS digit_r
        FROM documents
    )
    SELECT doc_id,
           ROUND(
             LEAST(LEN(tk) / 50.0, 1.0) * 0.4
             + LEAST((LEN(LIST_FILTER(tk, t -> t IN ('the','a','of','and','to',
                       'in','is','it','that','for'))) * 1.0
                      / GREATEST(LEN(tk), 1)) * 5.0, 1.0) * 0.4
             + (1.0 - LEAST(punct_r * 4.0 + digit_r * 2.0, 1.0)) * 0.2,
           6) AS quality
    FROM toks ORDER BY doc_id LIMIT 200
    """,
    doc="Quality scoring: length + stopword-ratio + noise penalty "
    "(C4-style pretraining filter). The oracle computes the full "
    "punct/digit noise term — the sf1 corpus salts tokens with "
    "digits, so the term is live there (constant 0 at sf<=0.1).",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", TXT.quality_score(F.col("text")).alias("quality")
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "pl_language_id",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               LIST_FILTER(STRING_SPLIT(lower(text), ' '), t -> LEN(t) > 0) AS tk
        FROM documents
    ), scores AS (
        SELECT doc_id, list_max([
           {'s': LEN(LIST_FILTER(tk, t -> t IN ('the','a','of','and','to','in',
                'is','it','that','for'))) * 1.0 / GREATEST(LEN(tk), 1),
            'l': 'en'},
           {'s': LEN(LIST_FILTER(tk, t -> t IN ('der','die','das','und','ist',
                'ein','zu','den','mit','von'))) * 1.0 / GREATEST(LEN(tk), 1),
            'l': 'de'},
           {'s': LEN(LIST_FILTER(tk, t -> t IN ('le','la','et','les','des','un',
                'une','du','est','pour'))) * 1.0 / GREATEST(LEN(tk), 1),
            'l': 'fr'},
           {'s': LEN(LIST_FILTER(tk, t -> t IN ('el','la','de','que','y','en',
                'un','los','es','por'))) * 1.0 / GREATEST(LEN(tk), 1),
            'l': 'es'}
        ]) AS best
        FROM toks
    )
    SELECT CASE WHEN best.s >= 0.02 THEN best.l ELSE 'unknown' END AS detected,
           COUNT(*) AS docs
    FROM scores GROUP BY detected ORDER BY detected
    """,
    doc="Language-ID by stopword-hit ratio (n-gram heuristic). The "
    "synthetic corpus shares one vocabulary across lang labels, so the "
    "oracle checks the HEURISTIC (same formula), not label recovery. "
    "Ties resolve identically: list_max/array_max over (score, lang) "
    "structs is lexicographic in both engines.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        docs.select(TXT.language_id(F.col("text")).alias("detected"))
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("detected")
    )


@query(
    "pl_fingerprint_rolling",
    # raw fingerprint values are xxhash64-derived (engine-specific by
    # construction, SURVEY §7), so the oracle checks the INVARIANT the
    # fingerprint is designed around instead: whitespace normalization.
    # Tokenization is split-on-\s+ with empty-token filter, so any
    # whitespace perturbation (runs of spaces/tabs, leading/trailing
    # padding) must leave the fingerprint bit-identical — a claim both
    # engines can state as plain row counts.
    """
    SELECT COUNT(*) AS docs,
           COUNT(*) AS ws_equal,
           COUNT(*) AS affix_equal
    FROM documents
    """,
    doc="Winnowing-style rolling document fingerprint (min xxhash64 over "
    "8-token windows).  Invariant oracle: the fingerprint of every doc "
    "equals the fingerprint of its whitespace-perturbed twin (interior "
    "runs, and leading/trailing padding) — ws_equal == affix_equal == "
    "docs.  Raw-value edit-robustness and dup-collapse asserted in "
    "tests/test_pipeline.py.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    fp = docs.select(
        TXT.rolling_fingerprint(F.col("text")).alias("fp"),
        TXT.rolling_fingerprint(
            F.regexp_replace(F.col("text"), " ", " \t ")
        ).alias("fp_ws"),
        TXT.rolling_fingerprint(
            F.concat(F.lit("  \n"), F.col("text"), F.lit("\t  "))
        ).alias("fp_affix"),
    )
    return fp.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("fp").eqNullSafe(F.col("fp_ws")).cast("long")).alias("ws_equal"),
        F.sum(F.col("fp").eqNullSafe(F.col("fp_affix")).cast("long")).alias(
            "affix_equal"
        ),
    )


# exact brute-force 5-shingle-Jaccard pairs, computed relationally —
# the mini-oracle the LSH result must reproduce (recall 1.0 at this
# threshold: p(miss) = (1 - 0.8^4)^8 < 1e-3 per pair, and the fixed
# xxhash64 seeds make the outcome deterministic, verified at sf0.01)
_SHINGLE_PAIRS_SQL = """
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                         t -> LEN(t) > 0) AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
                 RANGE(1, GREATEST(LEN(tk) - 4, 1) + 1),
                 i -> ARRAY_TO_STRING(tk[i:i+4], ' '))) AS s
      FROM toks
    ),
    -- candidate generation: Bayardo/AllPairs PREFIX FILTER instead of
    -- all-pairs (quadratic in the corpus; the r11 sf1 sweep measured
    -- 1.25e9 pairs).  THEOREM (exact recall, no banding involved): if
    -- J(A,B) >= t, the first floor((1-t)|X|)+1 shingles of each set
    -- under ANY consistent global order must intersect; ordering by
    -- (doc frequency, shingle) keeps prefixes rare.  Every candidate
    -- still passes the EXACT Jaccard verify below.
    posting AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    df AS (SELECT g, COUNT(*) AS dfreq FROM posting GROUP BY g),
    ranked AS (
      SELECT p.doc_id, p.g,
             ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                ORDER BY d.dfreq, p.g) AS pos,
             COUNT(*) OVER (PARTITION BY p.doc_id) AS n
      FROM posting p JOIN df d USING (g)
    ),
    pref AS (
      SELECT doc_id, g FROM ranked
      WHERE pos <= CAST(FLOOR(0.2 * n) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
      FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                 GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 1), 6)
               AS jaccard
    FROM cand JOIN sh l ON l.doc_id = cand.x JOIN sh r ON r.doc_id = cand.y
    WHERE LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
          GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 1) >= 0.8
    ORDER BY id_a, id_b
"""


@query(
    "pl_minhash_lsh_dedup",
    _SHINGLE_PAIRS_SQL,
    doc="MinHash+LSH near-dup pairs (32 hashes, 8 bands, 5-shingles) "
    "with exact shingle-Jaccard verify; banded equi-join, no cross "
    "product. Oracle: relational brute-force shingle-Jaccard >= 0.8 — "
    "the LSH plan must recover the exact pair set.",
    tags=("pipeline", "dedup"),
)
@_plan_cache
def pl_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=8, threshold=0.8,
        verify="shingles",
        # 8-byte longs through the verify-join exchange instead of
        # ~50-char shingle strings: measured r10 interleaved at 50k
        # docs 5.66 -> 5.25 s, pair set + jaccard values identical
        verify_hash64=True,
    ).orderBy("id_a", "id_b")


@query(
    "pl_simhash_dedup",
    # raw hamming distances over xxhash64 sign-votes are engine-specific
    # (SURVEY §7), so the oracle checks recall AND precision through an
    # engine-independent invariant instead: 60 whitespace-perturbed
    # copies are planted (tokenization makes them simhash-identical →
    # hamming 0 → guaranteed chunk-block candidate → guaranteed recall),
    # candidates are verified with exact 5-shingle Jaccard (precision
    # 1.0 by construction), and the oracle is exact brute force over the
    # same augmented corpus.  Base docs at doc_id < 60 are pairwise
    # shingle-disjoint (jaccard 0.0, verified at sf0.01/sf0.1), so both
    # sides must produce exactly the 60 planted pairs.
    """
    WITH aug AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 10000 AS doc_id,
               REGEXP_REPLACE(text, ' ', '   ', 'g') AS text
        FROM documents WHERE doc_id < 60
    ), toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                         t -> LEN(t) > 0) AS tk
      FROM aug
    ), sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
                 RANGE(1, GREATEST(LEN(tk) - 4, 1) + 1),
                 i -> ARRAY_TO_STRING(tk[i:i+4], ' '))) AS s
      FROM toks
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           ROUND(LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
                 GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 1), 6)
               AS jaccard
    FROM sh l JOIN sh r ON l.doc_id < r.doc_id
    WHERE LEN(LIST_INTERSECT(l.s, r.s)) * 1.0 /
          GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.s, r.s))), 1) >= 0.8
    ORDER BY id_a, id_b
    """,
    doc="SimHash near-dup pairs (63-bit sign hash, 8-bit chunk "
    "blocking, hamming verify) over a corpus with planted whitespace-"
    "perturbed duplicates, then exact shingle-Jaccard verification. "
    "Oracle: relational brute-force shingle-Jaccard >= 0.8 over the "
    "same augmented corpus — the simhash plan must recover the exact "
    "planted pair set (full recall, zero false positives).",
    tags=("pipeline", "dedup"),
)
@_plan_cache
def pl_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    copies = base.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace(F.col("text"), " ", "   ").alias("text"),
    )
    aug = base.unionByName(copies)
    # max_hamming=3: the synthetic corpus shares one small vocabulary,
    # so loose thresholds match everything; 3 keeps only true near-dups
    cand = D.simhash_dedup_pairs(aug, "doc_id", "text", max_hamming=3)
    # exact shingle-Jaccard verify (the minhash verify kernel): makes
    # the emitted pair set engine-independent, hence oracle-checkable
    sh = aug.select(
        F.col("doc_id").alias("tid"),
        F.array_distinct(TXT.shingles(F.col("text"))).alias("s"),
    )
    return (
        cand.join(
            sh.withColumnRenamed("tid", "id_a").withColumnRenamed("s", "s_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("tid", "id_b").withColumnRenamed("s", "s_b"),
            "id_b",
        )
        .withColumn("jaccard", F.round(D.jaccard(F.col("s_a"), F.col("s_b")), 6))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@query(
    "pl_ngram_jaccard",
    """
    WITH toks AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(lower(text), ' '),
                             t -> LEN(t) > 0)) AS tk
        FROM documents WHERE doc_id < 60
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           ROUND(LEN(LIST_INTERSECT(l.tk, r.tk)) * 1.0 /
                 GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.tk, r.tk))), 1), 6)
               AS jaccard
    FROM toks l JOIN toks r ON l.doc_id < r.doc_id
    WHERE LEN(LIST_INTERSECT(l.tk, r.tk)) * 1.0 /
          GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(l.tk, r.tk))), 1) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="Exact n-gram (token-set) Jaccard pairs within a bounded block "
    "— the verify kernel of MinHash dedup, oracle-checked end to end.",
    tags=("pipeline", "dedup"),
)
@_plan_cache
def pl_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    block = docs.filter(F.col("doc_id") < 60)
    return D.ngram_jaccard_pairs(block, "doc_id", "text", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


@query(
    "pl_embedding_topk",
    None,  # filled below with a literal-vector oracle
    doc="Brute-force cosine top-k over embeddings (exact ANN baseline; "
    "TakeOrderedAndProject plan — per-partition heaps, no shuffle).",
    tags=("pipeline", "similarity"),
)
@_plan_cache
def pl_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _t(spark, sf_dir, "embeddings")
    return SIM.topk_brute(emb, "embedding", _QUERY_VEC, k=20)


# attach the oracle now that the literal vector is known
from .registry import QUERIES as _Q  # noqa: E402

_vec_sql = "[" + ", ".join(f"{x!r}" for x in _QUERY_VEC) + "]::DOUBLE[]"
_Q["pl_embedding_topk"].oracle = f"""
    WITH scored AS (
        SELECT vec_id,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding::DOUBLE[], {_vec_sql}),
                        p -> p[1] * p[2]))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)))
                  * SQRT(LIST_SUM(LIST_TRANSFORM({_vec_sql}, x -> x*x)))) AS raw
        FROM embeddings
    )
    SELECT vec_id, ROUND(raw, 9) AS sim FROM scored
    ORDER BY raw DESC, vec_id LIMIT 20
"""


@query(
    "pl_embedding_neardup",
    # exact brute-force pairs at the same threshold: the synthetic
    # embeddings plant no near-dups (max pairwise cosine ~0.51), so the
    # oracle asserts the CORRECT empty result — schema match plus the
    # absence of false positives (the exact cosine verify guarantees
    # precision 1.0, so any emitted pair would be a real bug)
    """
    WITH n AS (
        -- per-vector norms once (linear), not per pair: the values
        -- are IEEE-identical, and the all-pairs verify at sf1 (2e8
        -- pairs over 20k vectors) drops from ~3x list work per pair
        SELECT vec_id, embedding::DOUBLE[] AS e,
               SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[],
                                            x -> x*x))) AS nm
        FROM embeddings
    ), scored AS (
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(l.e, r.e),
                        p -> p[1] * p[2])) / (l.nm * r.nm) AS raw
        FROM n l JOIN n r ON l.vec_id < r.vec_id
    )
    SELECT id_a, id_b, ROUND(raw, 6) AS cos FROM scored
    WHERE raw >= 0.9 ORDER BY id_a, id_b
    """,
    doc="Embedding near-dup pairs via random-hyperplane LSH buckets + "
    "cosine verify (8 planes, threshold 0.9). Oracle: exact brute-force "
    "cosine pairs at the same threshold (empty on this corpus — checks "
    "schema and zero false positives). Bucket recall asserted on "
    "planted duplicates in tests/test_pipeline.py.",
    tags=("pipeline", "dedup", "similarity"),
)
@_plan_cache
def pl_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _t(spark, sf_dir, "embeddings")
    return D.embedding_neardup_pairs(
        emb, "vec_id", "embedding", dim=64, threshold=0.9
    ).orderBy("id_a", "id_b")


@query(
    "pl_embedding_neardup_recall",
    # exact brute-force pairs over the SAME augmented corpus: 20
    # deterministic multiplicative-noise near-dups are planted (cosine
    # ~0.9996 > threshold 0.98; everything else is < 0.52), so the
    # oracle asserts FULL RECALL — the 4-band OR path must surface
    # every planted pair, and the exact-cosine verify already
    # guarantees precision 1.0.  The perturbation is pure integer/
    # double arithmetic ((i*7 + id*13) % 11), bit-identical in both
    # engines (no libm).
    """
    WITH pert AS (
        SELECT e.vec_id + 10000 AS vec_id,
               LIST(e.embedding[i.i]::DOUBLE
                    * (1.0 + 0.03 * ((((i.i - 1) * 7 + e.vec_id * 13) % 11)::DOUBLE - 5.0) / 5.0)
                    ORDER BY i.i) AS embedding
        FROM embeddings e, (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i) AS i
        WHERE e.vec_id < 20 GROUP BY e.vec_id
    ), aug AS (
        SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
        UNION ALL SELECT vec_id, embedding FROM pert
    ), n AS (
        -- per-vector norms once (see pl_embedding_neardup)
        SELECT vec_id, embedding AS e,
               SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> x*x))) AS nm
        FROM aug
    ), scored AS (
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(l.e, r.e),
                        p -> p[1] * p[2])) / (l.nm * r.nm) AS raw
        FROM n l JOIN n r ON l.vec_id < r.vec_id
    )
    SELECT id_a, id_b, ROUND(raw, 6) AS cos FROM scored
    WHERE raw >= 0.98 ORDER BY id_a, id_b
    """,
    doc="Embedding near-dup RECALL path: OR over 4 independent "
    "hyperplane sets (seed+i) lifts per-pair bucket-collision "
    "probability from ~0.93 to ~1-2e-5 miss at cosine 0.9996 "
    "(1-(1-p)^4).  20 deterministic near-dups are planted on the "
    "embeddings table; the oracle is exact brute force over the same "
    "augmented corpus, so the driver checks full recall AND zero "
    "false positives end-to-end through the banded-LSH machinery.",
    tags=("pipeline", "dedup", "similarity"),
)
@_plan_cache
def pl_embedding_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    pert = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double) * "
            "(1.0 + 0.03 * (cast((i * 7 + vec_id * 13) % 11 as double) - 5.0) / 5.0))"
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    return D.embedding_neardup_pairs(
        aug, "vec_id", "embedding", dim=64, threshold=0.98, n_planes=8, n_bands=4
    ).orderBy("id_a", "id_b")


@query(
    "pl_ivf_ann",
    None,  # oracle attached below (shares the brute-force top-k SQL):
    # with n_probe = n_clusters the IVF path must reproduce the exact
    # top-20, end-to-end through index build, routing and ranking
    doc="IVF approximate nearest neighbor: hash-seeded centroids + "
    "Lloyd iteration (broadcast-join assignment, array-native update). "
    "Registered with exhaustive probing so the whole IVF path is "
    "oracle-checked against exact brute force; partial-probe recall "
    "(the ANN speed/quality trade) asserted in tests/test_pipeline.py.",
    tags=("pipeline", "similarity"),
)
def pl_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _t(spark, sf_dir, "embeddings")
    idx = SIM.IvfIndex.build(emb, "embedding", "vec_id", n_clusters=16, iters=1)
    return idx.search(_QUERY_VEC, k=20, n_probe=16)


# exhaustive-probe IVF must equal the exact brute-force top-k
_Q["pl_ivf_ann"].oracle = _Q["pl_embedding_topk"].oracle


@query(
    "pl_multimodal_features",
    # the fake decoder derives features from md5(bytes) — md5 is shared
    # public math, so DuckDB recomputes the identical features from the
    # same text bytes (4 big-endian u32 reads of the first digest)
    """
    WITH d AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
    SELECT media_id,
           ROUND((CAST(concat('0x', substr(h, 1, 8)) AS UBIGINT)
                + CAST(concat('0x', substr(h, 9, 8)) AS UBIGINT)
                + CAST(concat('0x', substr(h, 17, 8)) AS UBIGINT)
                + CAST(concat('0x', substr(h, 25, 8)) AS UBIGINT)) / 4294967296.0,
                 9) AS feature_sum
    FROM d ORDER BY media_id
    """,
    doc="Multimodal plumbing: binary media column -> Arrow-batched "
    "mapInPandas feature extraction (decode stubbed: deterministic "
    "md5-derived features; schema/batching/partitioning real). Oracle "
    "recomputes the md5-derived features relationally.",
    tags=("pipeline", "multimodal"),
)
@_plan_cache
def pl_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    media = M.media_from_documents(docs)
    feats = M.decode_image_features(media, n_features=4)
    return feats.select(
        "media_id",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 9).alias(
            "feature_sum"
        ),
    ).orderBy("media_id")


@query(
    "pl_video_frame_sample",
    # frame count = min(max_frames, max(1, octet_length // every_ms)) —
    # pure arithmetic on the byte length, replicated relationally
    """
    SELECT doc_id AS media_id,
           LEAST(4, GREATEST(1, octet_length(CAST(text AS BLOB)) // 100))
               AS n_frames
    FROM documents WHERE doc_id < 50 ORDER BY media_id
    """,
    doc="Video frame sampling plumbing (fake decoder): per-media frame "
    "fan-out inside Arrow batches. Oracle recomputes the sampling "
    "arithmetic from the byte lengths.",
    tags=("pipeline", "multimodal"),
)
@_plan_cache
def pl_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    media = M.media_from_documents(docs.filter(F.col("doc_id") < 50))
    frames = M.sample_video_frames(media, every_ms=100, max_frames=4)
    return (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_frames"))
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Corpus-curation operators (pipeline/curation.py, pipeline/cluster.py):
# dup-group clustering, contamination sweep, holdout split, PII scrub,
# repetition scoring, sequence packing.
# ---------------------------------------------------------------------------

from ..pipeline import cluster as CL  # noqa: E402
from ..pipeline import curation as CU  # noqa: E402


@query(
    "pl_dup_clusters",
    # Deterministic sliding-window corpus: stream s, window w covers
    # tokens [10w, 10w+100) of stream s => adjacent windows have
    # shingle-Jaccard 86/106 = 0.811 >= 0.7, windows 2+ apart 0.655 <
    # 0.7, cross-stream 0.  The pair graph is a PATH per stream, so
    # the cluster of 8 windows exists only through TRANSITIVE closure
    # (no direct edge between window 0 and window 7).  Oracle:
    # brute-force Jaccard pairs + recursive-CTE connected components.
    """
    WITH RECURSIVE win AS (
        -- RANGE() can't take a subquery in DuckDB; doc_ids are dense
        -- 0..N-1, so they serve as the id generator
        SELECT doc_id AS nid, doc_id // 8 AS stream, doc_id % 8 AS w
        FROM documents
        WHERE doc_id < 8 * GREATEST(
            (SELECT COUNT(*) FROM documents) // 100, 2)
    ), sh AS (
        SELECT nid,
               LIST_TRANSFORM(RANGE(1, 97),
                   i -> ARRAY_TO_STRING(
                       LIST_TRANSFORM(RANGE(0, 5),
                           k -> 's' || stream || 'g' || (10*w + i - 1 + k)),
                       ' ')) AS s
        FROM win
    ), pairs AS (
        -- same-stream restriction: shingle tokens embed the stream id
        -- ('s<stream>g<token>'), so cross-stream intersections are
        -- EMPTY by construction (jaccard 0 < 0.7 always) — the join
        -- stays value-identical while dropping from quadratic in the
        -- corpus (8M pairs at sf1) to 28 pairs per stream
        SELECT a.nid AS x, b.nid AS y
        FROM sh a JOIN sh b
          ON a.nid < b.nid AND a.nid // 8 = b.nid // 8
        WHERE LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
              GREATEST(LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 1) >= 0.7
    ), edges AS (
        SELECT x, y FROM pairs UNION SELECT y, x FROM pairs
    ), tc(a, b) AS (
        SELECT x, y FROM edges
        UNION
        SELECT tc.a, e.y FROM tc JOIN edges e ON tc.b = e.x
    ), comp AS (
        SELECT a AS node, LEAST(a, MIN(b)) AS root FROM tc GROUP BY a
    )
    SELECT root AS cluster_root, COUNT(*) AS cluster_size
    FROM comp GROUP BY root ORDER BY cluster_root
    """,
    doc="Duplicate-GROUP clustering: connected components (min-label "
    "propagation with pointer jumping; an edge list within the broadcast "
    "threshold and a measured 3M-edge cap runs in one process, a larger "
    "one as distributed rounds "
    "with localCheckpoint lineage truncation) over an exact-recall "
    "shingle-inverted-index candidate join; the planted pair graph is "
    "a path, so groups exist only through transitive closure. Oracle: "
    "brute-force Jaccard + recursive CTE.",
    tags=("pipeline", "dedup"),
)
@_plan_cache
def pl_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    # corpus size from the parquet FOOTERS (metadata, like the
    # reference's part-count count()) — the old docs.count() paid a
    # full scan job per build just to size the window generator
    from ..sources.catalog import parquet_row_count
    import os as _os

    n_docs = parquet_row_count(_os.path.join(sf_dir, "documents.parquet"))
    if n_docs is None:
        n_docs = docs.count()
    n_streams = max(n_docs // 100, 2)
    win = (
        spark.range(8 * n_streams)
        .select(
            F.col("id").alias("nid"),
            (F.col("id") / 8).cast("long").alias("stream"),
            (F.col("id") % 8).alias("w"),
        )
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.col("w") * 10, F.col("w") * 10 + F.lit(99)
                    ),
                    lambda j: F.concat(
                        F.lit("s"),
                        F.col("stream").cast("string"),
                        F.lit("g"),
                        j.cast("string"),
                    ),
                ),
                " ",
            ),
        )
    )
    pairs = CL.shingle_blocked_pairs(
        win, "nid", TXT.shingles(F.col("text"), 5), threshold=0.7,
        # 8-byte posting keys (measured r10: 1.76 -> 1.56 s at 4k docs
        # x 800-shingle windows, pair set bit-identical)
        hash64=True,
    )
    return CL.dup_clusters(pairs).orderBy("cluster_root")


@query(
    "pl_contamination_check",
    # Planted eval set: every 97th document with its first 3 tokens
    # dropped — shares nearly all 8-grams with its source (and with
    # any near-dup of the source), none with unrelated docs.
    """
    WITH tok AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                           t -> LEN(t) > 0) AS tk
        FROM documents
    ), corpus_g AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(1, GREATEST(LEN(tk) - 7, 1) + 1),
                   i -> ARRAY_TO_STRING(tk[i:i+7], ' '))) AS gs
        FROM tok
    ), eval_g AS (
        SELECT doc_id AS eval_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(1, GREATEST(LEN(tk[4:]) - 7, 1) + 1),
                   i -> ARRAY_TO_STRING((tk[4:])[i:i+7], ' '))) AS gs
        FROM tok WHERE doc_id % 97 = 3
    )
    SELECT c.doc_id AS doc_id, e.eval_id AS eval_id,
           CAST(LEN(LIST_INTERSECT(c.gs, e.gs)) AS BIGINT) AS shared_ngrams
    FROM corpus_g c JOIN eval_g e
      ON LEN(LIST_INTERSECT(c.gs, e.gs)) > 0
    ORDER BY doc_id, eval_id
    """,
    doc="Train/test contamination sweep: token-8-gram overlap between "
    "the corpus and a planted eval set (explode + equi-join on the "
    "n-gram + partial-agg count; eval side broadcast-small). Oracle "
    "recomputes overlaps relationally.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    evalset = docs.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("eval_id"),
        F.array_join(
            F.slice(TXT.tokens(F.col("text")), 4, 1 << 30), " "
        ).alias("text"),
    )
    return (
        CU.contamination_hits(docs, evalset, "doc_id", "eval_id", n=8)
        .select(
            "doc_id", "eval_id",
            F.col("shared_ngrams").cast("bigint").alias("shared_ngrams"),
        )
        .orderBy("doc_id", "eval_id")
    )


@query(
    "pl_hash_split",
    """
    SELECT CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS docs,
           CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                                    t -> LEN(t) > 0))) AS BIGINT) AS tokens
    FROM (
        SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER % 100
                   AS b, text
        FROM documents
    ) GROUP BY split ORDER BY split
    """,
    doc="Deterministic train/val/test holdout split: bucket = first 16 "
    "bits of md5(doc_id) mod 100 — engine-portable (md5 is identical "
    "everywhere, unlike seeded xxhash), so the same row lands in the "
    "same split across the fleet and the eval stack.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(CU.train_val_test(F.col("doc_id")).alias("split"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(TXT.token_count(F.col("text")))
            .cast("bigint")
            .alias("tokens"),
        )
        .orderBy("split")
    )


@query(
    "pl_pii_scrub",
    """
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id
                        || '@example.com or +49' || (1000000 + doc_id)
               ELSE text END AS text
        FROM documents
    ), scored AS (
        SELECT doc_id,
               LEN(regexp_extract_all(text,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_email,
               LEN(regexp_extract_all(text, '\\+[0-9]{7,15}')) AS n_phone,
               LENGTH(regexp_replace(
                   regexp_replace(text,
                       '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\+[0-9]{7,15}', '<PHONE>', 'g')) AS masked_len
        FROM planted
    )
    SELECT CAST(SUM(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(masked_len) AS BIGINT) AS masked_chars
    FROM scored
    """,
    doc="PII detection + scrubbing (emails, E.164-ish phones) over a "
    "corpus with planted identifiers: regex classes chosen to behave "
    "identically under Java regex and RE2; pure JVM regexp_extract_all"
    "/regexp_replace, no UDFs.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    planted = docs.select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +49"),
                (F.col("doc_id") + 1000000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    n_email, n_phone = CU.pii_counts(F.col("text"))
    scored = planted.select(
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        F.length(CU.scrub_pii(F.col("text"))).alias("masked_len"),
    )
    return scored.agg(
        F.sum(((F.col("n_email") + F.col("n_phone")) > 0).cast("int"))
        .cast("bigint")
        .alias("docs_with_pii"),
        F.sum("n_email").cast("bigint").alias("emails"),
        F.sum("n_phone").cast("bigint").alias("phones"),
        F.sum("masked_len").cast("bigint").alias("masked_chars"),
    )


@query(
    "pl_repetition_score",
    """
    WITH tok AS (
        SELECT lang,
               LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                           t -> LEN(t) > 0) AS tk
        FROM documents
    ), grams AS (
        SELECT lang,
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1) + 1),
                   i -> ARRAY_TO_STRING(tk[i:i+1], ' ')) AS g
        FROM tok
    ), rep AS (
        SELECT lang,
               1.0 - LEN(LIST_DISTINCT(g)) * 1.0 / GREATEST(LEN(g), 1)
                   AS r
        FROM grams
    )
    SELECT lang, COUNT(*) AS docs,
           ROUND(AVG(r), 6) AS avg_repetition,
           CAST(SUM(CASE WHEN r > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
               AS flagged
    FROM rep GROUP BY lang ORDER BY lang
    """,
    doc="Gopher-style intra-document repetition signal: fraction of "
    "duplicate token bigrams per doc, aggregated per language with a "
    "quality-filter flag count. Pure Column expressions.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    rep = docs.select(
        "lang", CU.repetition_ratio(F.col("text"), 2).alias("r")
    )
    return (
        rep.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("r"), 6).alias("avg_repetition"),
            F.sum((F.col("r") > 0.1).cast("int"))
            .cast("bigint")
            .alias("flagged"),
        )
        .orderBy("lang")
    )


@query(
    "pl_seq_packing",
    """
    WITH t AS (
        SELECT lang, doc_id,
               CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                                    x -> LEN(x) > 0)) AS BIGINT) AS tk
        FROM documents
    ), c AS (
        SELECT lang, tk,
               SUM(tk) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT lang AS part, CAST(FLOOR((cum - tk) / 2048.0) AS BIGINT) AS bin,
           COUNT(*) AS docs, CAST(SUM(tk) AS BIGINT) AS bin_tokens
    FROM c GROUP BY part, bin ORDER BY part, bin
    """,
    doc="Greedy sequential packing of documents into 2048-token "
    "training contexts (streaming concat-and-chunk batch layout); the "
    "cumulative-sum window partitions by language so the stage "
    "parallelizes instead of serializing the corpus through one "
    "global window.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return CU.pack_sequences(
        docs, "lang", "doc_id", TXT.token_count(F.col("text")), 2048
    ).orderBy("part", "bin")


@query(
    "pl_quota_sample",
    """
    SELECT source, doc_id, rank FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id
               ) AS rank
        FROM documents
    ) WHERE rank <= 3
    ORDER BY source, rank
    """,
    doc="Per-source quota sampling (hot-domain cap): keep at most k "
    "docs per source, deterministically ranked by (md5(id), id) so "
    "the kept set is engine-portable.  Two-level top-K — salted "
    "partial top-k then a final rank over <= salts*k survivors — so "
    "a hot source never sorts its full row set through one reducer.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        CU.quota_sample(docs, "source", "doc_id", k=3)
        .select(
            "source", "doc_id", F.col("rank").cast("bigint").alias("rank")
        )
        .orderBy("source", "rank")
    )


@query(
    "pl_rare_token_ratio",
    """
    WITH planted AS (
        -- every 7th doc gets a token shared only with its cohort pair
        -- (zqx(doc_id//14): corpus freq 2, or 1 for an unpaired tail)
        -- so the tf<=2 rare-token detector has a planted answer that
        -- exercises the frequency boundary, not just freq-1 uniques
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' zqx' || (doc_id // 14)
                    ELSE text END AS text
        FROM documents
    ), tok AS (
        SELECT doc_id AS did, UNNEST(
            LIST_FILTER(STRING_SPLIT_REGEX(lower(text), '\\s+'),
                        t -> LEN(t) > 0)) AS tok
        FROM planted
    ), freq AS (
        SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok
    )
    SELECT did AS doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS rare_tokens,
           ROUND(SUM(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS rare_ratio
    FROM tok JOIN freq USING (tok)
    GROUP BY did
    HAVING rare_tokens > 0
    ORDER BY doc_id
    """,
    doc="Rare/OOV-token quality scoring: share of a document's token "
    "occurrences whose corpus-wide frequency is <= 2 — flags "
    "gibberish and encoding damage (high) vs templated duplication "
    "(zero).  Corpus freq = one token-shuffle partial agg; per-doc "
    "ratio = token join (AQE skew-split on Zipf-hot tokens) + one "
    "doc-shuffle agg; integer counts + one division keep it "
    "engine-exact.",
    tags=("pipeline", "text"),
)
@_plan_cache
def pl_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" zqx"),
                F.expr("CAST(doc_id DIV 14 AS STRING)"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        CU.rare_token_ratio(planted, "doc_id", "text", max_freq=2)
        .filter(F.col("rare_tokens") > 0)
        .orderBy("doc_id")
    )


@query(
    "pl_ann_quantized",
    None,  # literal-vector oracle attached below
    doc="ANN over int8-quantized embeddings (4x memory: 64B codes vs "
    "256B floats) with exact float rescoring of the top-4k "
    "candidates: integer dot-product ranking is bit-deterministic in "
    "every engine, so the oracle replicates the full quantize -> "
    "int-rank -> rescore pipeline.",
    tags=("pipeline", "similarity"),
)
@_plan_cache
def pl_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    (emb,) = _t(spark, sf_dir, "embeddings")
    return SIM.topk_quantized(emb, "embedding", _QUERY_VEC, k=10)


_qq_lit, _ = SIM._quantize_query(_QUERY_VEC)
_qq_sql = "[" + ", ".join(str(v) for v in _qq_lit) + "]::INTEGER[]"
_Q["pl_ann_quantized"].oracle = f"""
    WITH quant AS (
        SELECT vec_id, embedding,
               GREATEST(LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[],
                   x -> ABS(x))), 1e-30) / 127.0 AS scale
        FROM embeddings
    ), q AS (
        SELECT vec_id, embedding,
               LIST_TRANSFORM(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x / scale + 0.5) AS INTEGER)) AS qv
        FROM quant
    ), approx AS (
        SELECT vec_id, embedding,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qv, {_qq_sql}),
                        p -> p[1] * p[2]))
               / GREATEST(SQRT(LIST_SUM(LIST_TRANSFORM(qv,
                        x -> CAST(x AS DOUBLE) * x))), 1e-30) AS a
        FROM q
    ), cand AS (
        SELECT vec_id, embedding FROM approx ORDER BY a DESC, vec_id
        LIMIT 40
    ), rescored AS (
        SELECT vec_id,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding::DOUBLE[], {_vec_sql}),
                        p -> p[1] * p[2]))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[], x -> x*x)))
                  * SQRT(LIST_SUM(LIST_TRANSFORM({_vec_sql}, x -> x*x)))) AS raw
        FROM cand
    )
    SELECT vec_id, ROUND(raw, 9) AS sim FROM rescored
    ORDER BY raw DESC, vec_id LIMIT 10
"""
