"""Graph-served ANN search: greedy best-first (beam) search over a
built K-NN graph for out-of-corpus query vectors.

The reference's entire output is the K-NN graph itself
(`/root/reference/src/main/scala/com/github/fvictorio/nnd/NND.scala:66`,
``buildGraph -> RDD[(Long, NodeWithNeighbors)]``) — and the single most
common thing a consumer does with a K-NNG is search it for queries that
were NOT in the build (HNSW/NSW-style navigable-graph serving; Malkov &
Yashunin 2016 describe the greedy kernel this re-expresses). The engine
already serves hash/quantization tiers (LSH, IVF, PQ, MRL, binary);
this module serves queries from the flagship artifact itself.

Algorithm (classic best-first with an ``ef``-bounded candidate pool):

- seed every query with its ``n_entry`` nearest anchors PER GRAPH
  PARTITION (the graph has no cross-``partition`` edges —
  NND.scala:296-306 — so per-partition seeding is what makes every
  walled component reachable). The anchors are a supplied coarse entry
  layer, or else :func:`entry_points`' ``n_entry`` deterministic draws
  per partition, all of which then seed every query. ``n_entry`` is
  also the coverage knob for NATURAL components: the K-NN graph of
  well-separated clusters is one component per cluster and greedy
  search can never cross between them, so seeds must land in every
  component a true neighbor can live in — size ``n_entry`` to the
  expected cluster count (a missed component is ~((C-1)/C)^n_entry
  rare for C same-sized clusters);
- iterate: expand the best ``beam`` not-yet-expanded candidates per
  query, score their graph neighbors against the query, keep the
  top-``ef`` pool; stop when no pool entry is unexpanded (or at
  ``max_iterations``);
- return the pool's exact-scored top-k (scores are computed exactly at
  candidate generation, so no separate rerank pass is needed).

Similarity is the graph's own metric ``1 / (1 + ||q - x||_2)``
(NND.scala:296-306) — monotone in L2, so top-k under it equals
L2-nearest-neighbor top-k.

Expansion is UNDIRECTED (out-neighbors ∪ reverse
neighbors — the B(v) ∪ R(v) closure NN-Descent iterates with): a pure
K-NN graph is directed and a far-from-corpus node freshly folded in
by ``update_graph`` has no in-edges, so directed-only search could
never reach it; the reverse pass restores reachability for exactly
that ingest-gate case.

Scale (100 TB): per-query cost is O(iterations · beam · K) candidate
rows — independent of corpus size, the property that makes graph
serving worth building the graph for. Per ITERATION the plan touches
the corpus three times (adjacency forward + reverse expansion +
vector fetch), every one a BROADCAST-hash join against an
O(Q·beam)-row id set: the corpus side never shuffles and queries
never cartesian with the corpus. The reverse pass is an id-keyed
lookup into a reverse-pair table: the persisted family's ``reverse/``
sidecar when one is supplied, else one derived from the adjacency
before the loop — never a full-adjacency explode per iteration. The
driver loop holds only a convergence scalar per round — the
descent.py A12/A13 discipline (localCheckpoint per iteration, a
``take(1)`` of an unexpanded pool row as the stop test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_nnd_spark.functions.vector import l2_distance_expr

_POOL_COLS = ("query_id", "id", "sim", "expanded")


def _sim(q: str, x: str):
    return F.lit(1.0) / (F.lit(1.0) + l2_distance_expr(q, x))


def entry_points(
    points: DataFrame, n_entry: int, seed: int
) -> DataFrame:
    """``n_entry`` deterministic seeds per graph ``partition`` — the
    rows with the smallest ``xxhash64(id, seed)`` draw, so the choice
    is stable across runs and rotates with ``seed``. One narrow scan +
    one ALL-ID (no features) shuffle of O(N) rows; the K winners then
    carry their vectors forward. Per-partition because graph edges
    never cross partitions: a single global seed set would leave other
    partitions' components unreachable. Returns (id, features,
    partition) — the shape of an anchor layer."""
    w = Window.partitionBy("partition").orderBy(
        F.xxhash64("id", F.lit(seed)), F.asc("id")
    )
    return (
        points.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_entry)
        .select("id", "features", "partition")
    )


def graph_search_topk(
    graph: DataFrame,
    queries: DataFrame,
    k: int = 5,
    ef: int = 32,
    beam: int = 8,
    n_entry: int = 8,
    max_iterations: int = 20,
    seed: int = 42,
    query_id_col: str = "query_id",
    query_vec_col: str = "q_vec",
    points: DataFrame | None = None,
    reverse: DataFrame | None = None,
    anchors: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest stored neighbors of each query vector, served by
    greedy best-first search over ``graph`` (a ``build_graph`` /
    ``update_graph`` result: id, features, partition, neighbors).

    ``points`` optionally overrides the vector table (id, features,
    partition) — the persisted family passes its stored vectors so the
    adjacency table alone never needs to carry features.

    ``reverse`` optionally supplies a PREBUILT reverse-edge pair table
    (id, src) — every row meaning ``src`` lists ``id`` among its
    neighbors, i.e. exactly ``explode(adjacency)`` keyed by target.
    The reverse pass of each iteration is an id-keyed LOOKUP join into
    it — the persisted family (operators/knn_graph_index) maintains
    this as the ``reverse/`` sidecar. Without it (inline serving), the
    pairs are derived from ``graph`` once, before the loop.

    ``anchors`` optionally supplies a COARSE ENTRY LAYER (id,
    features, partition — a persisted sample of graph nodes, the
    HNSW-upper-layer move): every query scores the anchor set once and
    seeds from its ``n_entry`` NEAREST anchors per partition. Without
    it, the anchors are :func:`entry_points`' ``n_entry`` shared draws
    per partition, so every one of them seeds every query. Such random
    seeding needs n_entry ≈ the component count for coverage
    (BENCH_GS_SWEEP: recall 0.19@16 → 1.0@256 on 64 clusters);
    nearest-anchor seeding lands every seed in the query's own region,
    so small n_entry reaches the same recall — the anchor scoring pass
    costs O(|anchors|·Q), the price n_entry=|anchors| random seeding
    would pay, but the downstream pool/beam stays small.

    Returns (query_id, nb_id, rank, sim), rank 1..k by sim desc / id
    asc — ties broken exactly like the graph build.
    """
    if points is None:
        points = graph.select("id", "features", "partition")
    adj = (
        graph.filter(F.col("neighbors").isNotNull())
        .select(
            "id",
            F.transform("neighbors", lambda s: s["id"]).alias("nb_ids"),
        )
    )
    # Materialize the serving tables ONCE (lazily, on first use): an
    # unmaterialized build_graph result re-runs its assemble join-back
    # in EVERY iteration's lineage otherwise. The persisted family
    # (operators/knn_graph_index) passes parquet-backed inputs, where
    # the checkpoint is a cheap no-op insurance.
    adj = adj.localCheckpoint(eager=False)
    points = points.select("id", "features", "partition").localCheckpoint(
        eager=False
    )
    if reverse is None:
        reverse = adj.select(F.col("id").alias("src"), F.explode("nb_ids").alias("id"))
    reverse = reverse.select("id", "src").localCheckpoint(eager=False)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("q_vec"),
    )

    # ---- seed pool: per (query, partition) the n_entry NEAREST anchors
    if anchors is None:
        anchors = entry_points(points, n_entry, seed)
    scored_anchors = anchors.select(
        "id", "features", "partition"
    ).crossJoin(F.broadcast(q)).select(
        "query_id",
        "id",
        "partition",
        _sim("q_vec", "features").alias("sim"),
    )
    wa = Window.partitionBy("query_id", "partition").orderBy(
        F.desc("sim"), F.asc("id")
    )
    pool = (
        scored_anchors.withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= n_entry)
        .select("query_id", "id", "sim", F.lit(False).alias("expanded"))
    )
    pool = _truncate(pool, ef).localCheckpoint(eager=True)

    for _ in range(max_iterations):
        # Convergence scalar (descent.py A12 class): the pool is a
        # localCheckpoint, so this reads memory, not lineage. ANY
        # unexpanded row means the frontier is non-empty — testing the
        # flag directly skips the per-iteration rank-window job the
        # loop used to pay just to decide whether to continue.
        if not pool.filter(~F.col("expanded")).take(1):
            break
        frontier = _rank(pool.filter(~F.col("expanded"))).filter(
            F.col("__r") <= beam
        )
        f_pairs = frontier.select("query_id", "id")
        scored = _expand_score(adj, points, q, f_pairs, reverse)
        expanded_pool = pool.join(
            F.broadcast(f_pairs.withColumn("__f", F.lit(True))),
            ["query_id", "id"],
            "left",
        ).select(
            "query_id",
            "id",
            "sim",
            (F.col("expanded") | F.col("__f").isNotNull()).alias("expanded"),
        )
        # One exchange for dedup + truncate: repartition by query_id
        # up front — HashPartitioning(query_id) satisfies both the
        # groupBy's (query_id, id) clustering and the rank window's
        # query_id partitioning, so neither inserts its own exchange
        # (the r14 plan paid two per iteration). The exchanged stream
        # is pool ∪ candidates — query-bounded, never corpus-bounded.
        merged = (
            expanded_pool.unionByName(scored)
            .repartition("query_id")
            .groupBy("query_id", "id")
            .agg(
                F.max("sim").alias("sim"),
                F.max("expanded").alias("expanded"),
            )
        )
        pool = _truncate(merged, ef).localCheckpoint(eager=True)

    return (
        _rank(pool)
        .filter(F.col("__r") <= k)
        .select(
            "query_id",
            F.col("id").alias("nb_id"),
            F.col("__r").alias("rank"),
            "sim",
        )
    )


def _expand_score(
    adj: DataFrame,
    points: DataFrame,
    q: DataFrame,
    f_pairs: DataFrame,
    reverse: DataFrame,
) -> DataFrame:
    """One search round's candidate generation + scoring — the only
    corpus-touching step, kept as a named unit so the plan contract is
    test-assertable (tests/test_plans.py): adjacency fetch and vector
    fetch are BROADCAST-hash joins against the O(Q·beam) frontier; the
    corpus side never sort-merge-joins or shuffles — the expansion
    itself is exchange-free (candidate copies reached via several
    frontier members are collapsed by the pool merge's groupBy, not by
    a dedup shuffle here). A masked candidate id (tombstoned /
    held-out node) simply fails the vector-fetch join and drops out.

    The expansion is over the UNDIRECTED graph: besides the frontier's
    out-neighbors, every node that lists a frontier member among ITS
    neighbors is a candidate too — the same B(v) ∪ R(v) closure
    NN-Descent itself iterates with (NND.scala:146-152), and what makes
    freshly-extended outlier nodes reachable at all (a pure K-NN graph
    is directed; nothing need point AT a far new node). The reverse
    pass is an id-keyed lookup into the ``reverse`` (id, src) pair
    table — same shape as the forward fetch, prunable by id, zero
    corpus shuffle."""
    fwd = adj.join(F.broadcast(f_pairs), "id").select(
        "query_id", F.explode("nb_ids").alias("id")
    )
    rev = reverse.join(F.broadcast(f_pairs), "id").select(
        "query_id", F.col("src").alias("id")
    )
    # No distinct: a candidate reached via several frontier members
    # scores identically per copy, and the pool merge's groupBy
    # collapses the copies anyway — the dedup exchange here was one
    # full O(Q·beam·K) shuffle per iteration for nothing.
    cand = fwd.unionByName(rev)
    return (
        points.select("id", "features")
        .join(F.broadcast(cand), "id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "id",
            _sim("q_vec", "features").alias("sim"),
            F.lit(False).alias("expanded"),
        )
    )


def _rank(pool: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("id"))
    return pool.withColumn("__r", F.row_number().over(w))


def _truncate(pool: DataFrame, ef: int) -> DataFrame:
    return _rank(pool).filter(F.col("__r") <= ef).select(*_POOL_COLS)


def brute_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k under the graph metric ``1/(1+L2)`` — the recall
    ground truth for :func:`graph_search_topk` (cosine brute force
    would grade the graph against a DIFFERENT metric). Broadcast the
    queries over one corpus scan; the deliberately-exact oracle tier,
    O(Q·N) like q24/q33's brute rows."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("q_vec"),
    )
    scored = (
        corpus.select("id", "features")
        .crossJoin(F.broadcast(q))
        .select("query_id", "id", _sim("q_vec", "features").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("nb_id"), "rank", "sim")
    )
