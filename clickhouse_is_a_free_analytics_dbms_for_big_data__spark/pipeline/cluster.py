"""Duplicate-group clustering: connected components over a near-dup
pair set, plus exact-recall candidate blocking via a shingle inverted
index.

A production dedup pipeline does not stop at pairs: to keep ONE
representative per duplicate *group* it must take the transitive
closure of the pair relation (a is-dup-of b, b is-dup-of c => {a,b,c}
is one group, even when a-c never met a candidate block).  The
reference ships the pairwise machinery (uniq/groupBy semantics); the
grouping step is the standard MapReduce connected-components
formulation (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014 — we use the min-label-propagation variant with
pointer jumping, which converges in O(log diameter) rounds; dup graphs
are shallow by construction, so diameter is small).

Scale shape (100 TB):
- the edge set is the *pair* set — orders of magnitude smaller than
  the corpus (only near-dups appear);
- the edge list is materialized ONCE (eager `localCheckpoint`), and
  its row count is an observed metric of that same job;
- the path is chosen from that size.  A doubled edge list within
  `spark.sql.autoBroadcastJoinThreshold` (16 B per row; the amount
  Spark lets the driver collect as one in-memory table, as the
  reference builds every JOIN right side as one hash table) and of at
  most `_LOCAL_MAX_EDGES` rows runs the same propagation in numpy in
  this process; the labels return as one Arrow-built, single-partition
  local DataFrame (no rounds, no Python worker, no shuffle in what
  consumes it).  Measured with `scripts/bench_components.py` (4 cores,
  duplicate-shaped graphs of 10k-3M edges), this path beat the rounds
  at every size, by 2.1-20x in wall time and 4.4-31x in CPU, so the
  default threshold (327k edges) sits well inside the range where it
  wins, and the cap stops a raised threshold at the largest size
  measured;
- a larger edge list, which the driver is not to hold, runs the
  distributed loop: every round is one
  join + partial-agg min plus one pointer-jump self-join,
  `localCheckpoint` truncates lineage so round N does not replay
  rounds 1..N-1, and the convergence metric (sum of labels, strictly
  decreasing until fixpoint) is observed on the round's own
  checkpoint job — no extra job per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import fits_broadcast

# bytes per edge-list row in the size decision: two 8-byte ids
_EDGE_ROW_BYTES = 16
# the largest edge list at which the in-process path was measured to
# beat the distributed rounds (see the module docstring)
_LOCAL_MAX_EDGES = 3_000_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Node -> component label (the component's minimum node id).

    ``pairs`` is an undirected edge list; nodes that appear in no pair
    are absent from the output (callers union singletons back if they
    need total coverage), and an edge with a NULL endpoint is dropped.
    Deterministic: labels are min node ids, whichever path runs.

    The edge list is checkpointed once; when its doubled form fits Spark's
    broadcast threshold and it has at most ``_LOCAL_MAX_EDGES`` rows the
    labels are computed in one process (:func:`_components_local`),
    otherwise by the distributed round loop
    (:func:`_components_distributed`).

    Raises ``RuntimeError`` if the distributed propagation has not
    converged after ``max_iter`` rounds (a component too deep for
    ``max_iter``) — returning partial labels would silently split
    clusters.  The in-process path has no rounds to bound: it always
    runs to its fixpoint.
    """
    size = Observation()
    e = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .dropna()
        .observe(size, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    # No .distinct() on the doubled edge list (r12): the only consumer
    # is a per-round MIN aggregation, which duplicate edges cannot
    # change — the old distinct was one full exchange of pure overhead
    # per run.  (pairs arrive id_a < id_b, so doubling cannot create
    # duplicates that weren't already in ``pairs``.)  Left lazy: a
    # narrow union over the checkpoint.
    doubled = e.unionByName(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    rows = size.get["rows"]
    if rows <= _LOCAL_MAX_EDGES and fits_broadcast(
        pairs.sparkSession, 2 * rows * _EDGE_ROW_BYTES
    ):
        return _components_local(e, doubled.schema["s"])
    return _components_distributed(doubled, max_iter)


def _components_local(e: DataFrame, id_field: StructField) -> DataFrame:
    """The distributed loop's min-label propagation with pointer
    jumping, on the collected edge list in numpy: the same fixpoint
    (every label is its component's minimum), built back as a local
    DataFrame from Arrow with the input's id type, in one partition
    (broadcast-sized, so what consumes it needs no shuffle)."""
    import numpy as np
    import pyarrow as pa

    edges = e.toArrow()
    a = edges.column("s").to_numpy()
    b = edges.column("d").to_numpy()
    s, d = np.concatenate([a, b]), np.concatenate([b, a])
    # sorted unique ids: an index order IS the id order, so the min
    # index of a component is its min id (the edge list is symmetric,
    # so every node appears as a source)
    nodes, si = np.unique(s, return_inverse=True)
    di = np.searchsorted(nodes, d)
    label = np.arange(len(nodes))
    while True:
        # neighbour min, then pointer jump label <- label(label)
        stepped = label.copy()
        np.minimum.at(stepped, si, label[di])
        jumped = stepped[stepped]
        if np.array_equal(jumped, label):
            break
        label = jumped
    schema = StructType([
        StructField("node", id_field.dataType, id_field.nullable),
        StructField("label", id_field.dataType, True),
    ])
    out = pa.table({"node": nodes, "label": nodes[label]})
    spark = e.sparkSession
    return spark.createDataFrame(out, schema=schema).coalesce(1)


def _components_distributed(doubled: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation over the doubled edge list: one join +
    partial-agg min and one pointer-jump self-join per round, each
    round checkpointed."""
    # Initialization FUSED with the first neighbour-min step (r12):
    # label0(v) = min(v, min N(v)).  The old identity init needed a
    # distinct aggregation anyway — a min aggregation over the same
    # doubled edge list costs the same job but starts the propagation
    # one round ahead (4 → 3 rounds on the benched dup graph; each
    # round is a full shuffle cycle).  Monotone min-propagation
    # converges to the component minimum from any start point between
    # the identity and the fixpoint, so the result is unchanged.
    labels = (
        doubled.groupBy("s")
        .agg(F.min("d").alias("_mn"))
        .select(
            F.col("s").alias("node"),
            F.least(F.col("s"), F.col("_mn")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    # Self-loops folded into the edge list (r12): min over N(v) ∪ {v}
    # computes the neighbour-min AND keeps every node in one
    # join+aggregate — the previous shape needed a second left join of
    # ``labels`` against the aggregated candidates to re-attach
    # no-candidate nodes (one extra exchange per round).  Left lazy:
    # both inputs are checkpointed, so per-round re-evaluation is a
    # narrow union, not a recompute.
    edges = doubled.unionByName(
        labels.select(F.col("node").alias("s"), F.col("node").alias("d"))
    )
    # sentinel (not None): the DECIMAL sum is legitimately NULL on an
    # empty edge list, and that IS convergence — only overflow-NULL
    # would be unsafe, which DECIMAL(38,0) rules out.
    unset = object()
    prev: object = unset
    converged = False
    for _ in range(max_iter):
        # stepped(v) = min(label(u) for u in N(v) ∪ {v}) — one join +
        # one partial-aggregated groupBy (the self-loop supplies v's
        # own label, so every node survives the aggregation)
        stepped = (
            edges.join(
                labels.select(
                    F.col("node").alias("d"), F.col("label").alias("nbl")
                ),
                "d",
            )
            .groupBy("s")
            .agg(F.min("nbl").alias("label"))
            .withColumnRenamed("s", "node")
        )
        # POINTER JUMP (path doubling): label <- label(label).  Labels
        # are always node ids present in ``labels``, so the self-join
        # resolves every row; combined with the neighbour-min step the
        # label front moves 2x per round, so convergence takes
        # O(log diameter) rounds instead of O(diameter) — one extra
        # same-key join per round buys e.g. 8 -> 4 rounds on an
        # 8-node path (each round is a full shuffle cycle, so round
        # count IS the wall-clock at scale).
        total = Observation()
        labels = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("ll")
                ).alias("b"),
                "label",
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(
                    F.col("a.label"), F.coalesce(F.col("ll"), F.col("a.label"))
                ).alias("label"),
            )
            # convergence metric, observed on this checkpoint's own job.
            # DECIMAL sum: a BIGINT sum of ~1e12 64-bit node ids could
            # overflow to NULL, and NULL == NULL would fake convergence
            .observe(
                total,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("sum"),
            )
            .localCheckpoint(eager=True)
        )
        cur = total.get["sum"]
        if prev is not unset and cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (a component's diameter exceeds max_iter); "
            "increase max_iter — partial labels would split clusters"
        )
    return labels


def shingle_blocked_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: Column,
    threshold: float = 0.7,
    max_block: int | None = None,
    hash64: bool = False,
) -> DataFrame:
    """Exact-recall near-dup candidates via PREFIX-FILTERED shingle
    inverted index (AllPairs/SSJoin prefix filtering — Bayardo et al.
    WWW 2007; Chaudhuri et al. ICDE 2006).

    Each document's distinct shingles are ordered by global frequency
    ascending (ties by token) and only the first
    ``|A| - ceil(threshold*|A|) + 1`` join the inverted index: for any
    pair with Jaccard >= threshold the overlap is >= t*max(|A|,|B|),
    so the globally-smallest shared shingle provably sits inside BOTH
    prefixes — recall is EXACT with no frequency cap.  Hot boilerplate
    shingles sort LAST and therefore fall out of prefixes unless a
    document consists mostly of boilerplate, which is precisely when
    its pairs are real near-dups.  Candidates are then verified with
    the exact shingle-Jaccard over the FULL shingle sets, making the
    emitted pair set engine-independent and oracle-checkable.

    ``max_block`` is an OPTIONAL hard safety cap on post-prefix
    posting-list length (default None = off).  With a cap set, recall
    is exact only for pairs whose smallest shared shingle's prefix
    block is below the cap — a capped block can only arise from >cap
    documents that agree on their rarest shingles, i.e. a giant
    near-identical group whose pair output would itself be quadratic.

    Scale shape: one shuffle for the frequency agg (tok), one for the
    per-document prefix window (nid), one for the candidate self-join
    (tok); block sizes are bounded by prefix membership, not raw
    shingle frequency.

    ``hash64`` runs the whole index on ``xxhash64(shingle)`` longs —
    the checkpointed arrays, the frequency shuffle, the join-back and
    the candidate self-join all carry 8-byte keys instead of ~50-char
    strings.  Prefix filtering stays EXACT under any fixed total
    order of tokens (Bayardo WWW 2007 requires only a consistent
    ordering; frequency-ascending is a block-size heuristic), and the
    verify Jaccard is unchanged absent 64-bit collisions.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to 6 digits.
    """
    from pyspark.sql import Window

    sh = F.array_distinct(shingles_col)
    if hash64:
        sh = F.transform(sh, lambda s: F.xxhash64(s))
    base = df.select(
        F.col(id_col).alias("nid"),
        sh.alias("sh"),
    ).localCheckpoint(eager=True)
    posting = base.select(
        "nid", F.size("sh").alias("sz"), F.explode("sh").alias("tok")
    )
    freq = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("nid").orderBy("freq", "tok")
    prefix = (
        posting.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.ceil(F.col("sz") * F.lit(float(threshold))).cast("int")
            + 1
        )
        .select("nid", "tok")
    )
    if max_block is not None:
        hot = (
            prefix.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("pfreq"))
            .filter(F.col("pfreq") > max_block)
            .select("tok")
        )
        prefix = prefix.join(F.broadcast(hot), "tok", "left_anti")
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "tok")
        .filter(F.col("l.nid") < F.col("r.nid"))
        .select(
            F.col("l.nid").alias("id_a"), F.col("r.nid").alias("id_b")
        )
        .distinct()
    )
    verified = (
        cand.join(
            base.select(F.col("nid").alias("id_a"), F.col("sh").alias("sa")),
            "id_a",
        )
        .join(
            base.select(F.col("nid").alias("id_b"), F.col("sh").alias("sb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.greatest(
                    F.size(F.array_union("sa", "sb")), F.lit(1)
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Cluster summary over the pair relation's transitive closure:
    (cluster_root = min node id, cluster_size)."""
    labels = connected_components(pairs, id_a, id_b, max_iter)
    return labels.groupBy(F.col("label").alias("cluster_root")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
