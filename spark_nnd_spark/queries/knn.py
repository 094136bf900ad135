"""K-NN graph queries — the engine's flagship surface.

``q24_knn_exact`` is DuckDB-oracle-checkable (same L2→1/(1+d) math in
portable SQL). ``q25_nnd_graph`` (NN-Descent) is deliberately omitted
from oracle_sql: it is an iterative approximate algorithm — the honest
check is recall against the exact graph (tests/test_nnd.py), not SQL
equality; the driver records rows-only for it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_nnd_spark.nnd.descent import build_graph
from spark_nnd_spark.nnd.exact import build_graph_exact
from spark_nnd_spark.operators.similarity import (
    ann_brute_topk,
    ann_ivf_topk,
    ann_lsh_topk,
    fixed_centroids,
    hyperplanes,
)
from spark_nnd_spark.sources import load_table

K = 10

# Recall floors for q33's driver row (chosen well under the observed
# recalls at sf0.001/sf0.01/sf0.1 so routine testdata regeneration can't
# flip them: lsh/ivf observed 0.40-0.60). The NND floor is a step in
# corpus size: on this UNCLUSTERED synthetic corpus the converged recall
# decays with N (0.86-0.88 at N=500, plateau ~0.60 at N=2000 even with
# the iteration cap lifted — the known NN-Descent behavior on random
# high-dim data, where the neighbor-of-neighbor heuristic has no cluster
# structure to exploit; on the clustered FIXTURES tier tests assert
# ≥ 0.9). The floor is a regression tripwire, not a quality claim.
LSH_FLOOR = 0.30
IVF_FLOOR = 0.35
# Binary 1-bit and IVF-PQ tiers (added so EVERY approximate tier has a
# driver-checkable recall row, not just test coverage): observed
# recall@5 across sf0.001/0.01/0.1 is 0.30-0.50 (binary, shortlist 20)
# and 0.32-0.48 (ivfpq, probe 4 + shortlist 40) — floors sit ≥0.10
# under the observed minimum.
BIN_FLOOR = 0.20
IVFPQ_FLOOR = 0.20
BIN_SHORTLIST = 20  # mirrors q129's BQ_SHORTLIST configuration
# Matryoshka tier (the q114 configuration: coarse top-20 on the first
# 16 dims, exact rerank): observed recall@5 is 0.38/0.38/0.16 at
# sf0.001/0.01/0.1 — the prefix is informative but unlearned (raw
# synthetic dims, not MRL-trained), so the floor is a loose tripwire.
MRL_FLOOR = 0.10
MRL_PRE, MRL_CK = 16, 20  # mirrors q114's MRL_PREFIX_DIMS/MRL_COARSE_K
NND_SMALL_N = 1000  # corpus size at/below which the strong floor applies
NND_FLOOR_SMALL = 0.80
NND_FLOOR_LARGE = 0.50

# Four approximate ANN tiers each run TWICE per session: once as their
# standalone ranked-list query (q18 brute, q26 lsh, q114 mrl, q129
# binary — identical operator calls, the mirrored constants above) and
# once inside q33's recall grading. One run per (session, sf_dir, tier)
# — the _nnd_graph convention. The ivf and ivfpq tiers are NOT shared:
# q30 trains its centroids while q33 grades the fixed-centroid
# configuration, and q127 serves from the persisted index while q33
# grades the inline cascade — different pipelines by design.
_ANN_TIER_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _ann_tier_plan(spark: SparkSession, sf_dir: str, tier: str) -> DataFrame:
    """The tier's UNCACHED pipeline — the plan tests assert on this
    (the served path's lineage is cut at the session checkpoint)."""
    from spark_nnd_spark.operators.similarity import (  # noqa: PLC0415
        binary_hamming_topk,
        mrl_two_stage_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    if tier == "brute":
        return ann_brute_topk(emb, q, k=5)
    if tier == "lsh":
        return ann_lsh_topk(
            emb, None, k=5, n_planes=8, seed=42,
            query_pred=F.col("vec_id") < 10, dim=64,
        )
    if tier == "binary":
        return binary_hamming_topk(emb, q, k=5, shortlist=BIN_SHORTLIST)
    if tier == "mrl":
        return mrl_two_stage_topk(
            emb, q, prefix_dims=MRL_PRE, coarse_k=MRL_CK, k=5
        )
    msg = f"unknown ANN tier {tier!r}"
    raise ValueError(msg)


def _ann_tier_for(spark: SparkSession, sf_dir: str, tier: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, tier)
    if key not in _ANN_TIER_CACHE:
        _ANN_TIER_CACHE[key] = _ann_tier_plan(
            spark, sf_dir, tier
        ).localCheckpoint(eager=True)
    return _ANN_TIER_CACHE[key]


def _tier_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_tier_for(spark, sf_dir, "brute")


def _tier_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_tier_for(spark, sf_dir, "lsh")


def _tier_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_tier_for(spark, sf_dir, "binary")


def _tier_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_tier_for(spark, sf_dir, "mrl")


# One NND build per (session, sf_dir): q25 returns the flagship graph
# and q33 evaluates its recall — a user builds once and evaluates the
# same artifact, so the queries share the build instead of each paying
# the iterative loop. The cached value's per-iteration localCheckpoints
# (descent.py A13) make re-use cheap: only the final join-back re-runs.
_NND_CACHE: dict[tuple[str, str], DataFrame] = {}


def _nnd_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship NN-Descent build at the reference README's published
    params (K=10, maxIter=5, δ=0.01, ρ=1.0, b=4 — README.md:44-48)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _NND_CACHE:
        _NND_CACHE[key] = build_graph(
            _points(spark, sf_dir),
            k=K,
            max_iterations=5,
            early_termination=0.01,
            sample_rate=1.0,
            buckets_per_instance=4,
            seed=42,
            validate=False,
        )
    return _NND_CACHE[key]


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("features"),
        F.col("label").cast("long").alias("label"),
    )


# One EXACT K-NN graph per (session, sf_dir): q24 returns it and q33
# grades the approximate tiers against it — the _nnd_graph convention
# for the ground-truth artifact (the all-pairs build is the single
# most expensive subtree the two queries would otherwise each pay).
_EXACT_CACHE: dict[tuple[str, str], DataFrame] = {}


def _exact_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _EXACT_CACHE:
        _EXACT_CACHE[key] = build_graph_exact(
            _points(spark, sf_dir), k=K, validate=False
        ).localCheckpoint(eager=True)
    return _EXACT_CACHE[key]


def _explode_graph(g: DataFrame) -> DataFrame:
    return (
        g.select("id", F.posexplode("neighbors").alias("pos", "nb"))
        .select(
            "id",
            F.col("nb.id").alias("nb_id"),
            (F.col("pos") + 1).alias("rank"),
            F.round(F.col("nb.similarity"), 6).alias("sim"),
        )
        .orderBy("id", "rank")
    )


def q24_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K-NN graph over the embeddings table, exploded to
    (id, nb_id, rank, sim) integer-plus-rounded rows."""
    return _explode_graph(_exact_graph(spark, sf_dir))


def q25_nnd_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent approximate K-NN graph (seeded, deterministic);
    rows-only driver check, recall-vs-exact checked in tests.

    Runs the reference README's published params (K=10, maxIter=5,
    δ=0.01, ρ=1.0, b=4 — README.md:44-48). Recall after the 5-round cap
    depends on the corpus (≥0.9 on the FIXTURES clustered tier; ~0.86+
    on this 64-dim synthetic table, where `updated` is still halving per
    round at the cap — raise max_iterations for more). The same build is
    recall-scored against the exact graph in q33's 'nnd' row."""
    return _explode_graph(_nnd_graph(spark, sf_dir))


def q26_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (scale path); rows-only,
    recall-vs-brute checked in tests. Self-search shape: query_pred
    reuses corpus-side signatures (one Arrow stage; query probes built
    driver-side from the 10 rows). One run per session — q33 grades
    THIS tier (_ann_tier_for)."""
    return _tier_lsh(spark, sf_dir).select(
        "query_id", "nb_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def q30_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate cosine top-k (scale path #2: inverted-file
    index, sample-trained spherical k-means); rows-only, recall-vs-brute
    checked in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = ann_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4, seed=42
    )
    return out.select(
        "query_id", "nb_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def q33_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall of every approximate tier — binary 1-bit
    hamming (the q129 configuration), LSH (the q26 configuration),
    fixed-centroid IVF, composed IVF-PQ (the q127 configuration), and
    the flagship NN-Descent graph — one (method, hits, total, recall,
    floor, floor_ok) row each.

    Two verification conventions share the schema:
    - binary/lsh/ivf/ivfpq: every input is re-derivable from
      (dim, seed) alone (sign-bit packing, seeded hyperplanes, seeded
      unit centroids, seeded PQ codebooks), so the DuckDB oracle
      replays the whole pipeline from literals and hits/total/recall
      hash-match exactly. floor_ok is computed identically on both
      sides.
    - nnd: an iterative seeded algorithm a static SQL string cannot
      replay, so hits/recall are NULL in both engines; the oracle
      re-derives `total` from its own exact K-NN graph and asserts
      `floor_ok = TRUE` as a literal. The Spark side computes floor_ok
      as (recall vs the exact graph) >= the size-stepped NND floor, so
      a recall regression below the floor flips the row to false and
      the driver hash goes red. The raw recall number lives in
      tests/test_nnd.py.

    The NND build is the q25 artifact (session-cached, see _nnd_graph):
    build once, evaluate the same graph.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # brute/lsh/binary/mrl are the SESSION-SHARED tier artifacts
    # (_ann_tier_for — q18/q26/q129/q114 return the same pipelines);
    # brute is already checkpointed there, so its multi-consumer reads
    # (the total row + every hits join) hit memory
    brute = _tier_brute(spark, sf_dir).select("query_id", "nb_id")
    lsh = _tier_lsh(spark, sf_dir).select("query_id", "nb_id")
    ivf = ann_ivf_topk(
        emb, q, k=5, n_probe=4, seed=42, centroids=fixed_centroids(64, 16, 42)
    ).select("query_id", "nb_id")
    from spark_nnd_spark.operators.similarity import (  # noqa: PLC0415
        ivfpq_topk,
        pq_codebooks,
    )

    binary = _tier_binary(spark, sf_dir).select("query_id", "nb_id")
    mrl = _tier_mrl(spark, sf_dir).select("query_id", "nb_id")
    ivfpq = ivfpq_topk(
        emb,
        q,
        k=5,
        n_probe=IVFPQ_PROBE,
        shortlist=IVFPQ_SHORTLIST,
        centroids=fixed_centroids(IVFPQ_DIM, IVFPQ_CELLS, IVFPQ_SEED),
        codebooks=pq_codebooks(IVFPQ_DIM, IVFPQ_M, IVFPQ_CODES, IVFPQ_SEED),
    ).select("query_id", "nb_id")
    total = brute.agg(F.count("*").alias("total"))
    rows = []
    for name, df, floor in [
        ("binary", binary, BIN_FLOOR),
        ("ivf", ivf, IVF_FLOOR),
        ("ivfpq", ivfpq, IVFPQ_FLOOR),
        ("lsh", lsh, LSH_FLOOR),
        ("mrl", mrl, MRL_FLOOR),
    ]:
        hits = df.join(brute, ["query_id", "nb_id"]).agg(F.count("*").alias("hits"))
        recall = F.round(F.col("hits") / F.col("total"), 4)
        rows.append(
            hits.crossJoin(total).select(
                F.lit(name).alias("method"),
                "hits",
                "total",
                recall.alias("recall"),
                F.lit(floor).alias("floor"),
                (recall >= F.lit(floor)).alias("floor_ok"),
            )
        )
    # nnd: exact graph pairs (the q24 semantics) ∩ flagship build pairs
    def _pairs(g: DataFrame) -> DataFrame:
        return g.select("id", F.explode("neighbors").alias("nb")).select(
            "id", F.col("nb.id").alias("nb_id")
        )

    exact_pairs = _pairs(_exact_graph(spark, sf_dir))
    nnd_pairs = _pairs(_nnd_graph(spark, sf_dir))
    nnd_hits = nnd_pairs.join(exact_pairs, ["id", "nb_id"]).agg(
        F.count("*").alias("hits")
    )
    nnd_total = exact_pairs.agg(F.count("*").alias("total"))
    nnd_recall = F.round(F.col("hits") / F.col("total"), 4)
    nnd_floor = F.when(
        F.col("total") <= F.lit(K * NND_SMALL_N), F.lit(NND_FLOOR_SMALL)
    ).otherwise(F.lit(NND_FLOOR_LARGE))
    rows.append(
        nnd_hits.crossJoin(nnd_total).select(
            F.lit("nnd").alias("method"),
            F.lit(None).cast("long").alias("hits"),
            F.col("total"),
            F.lit(None).cast("double").alias("recall"),
            nnd_floor.alias("floor"),
            (nnd_recall >= nnd_floor).alias("floor_ok"),
        )
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("method")


# ------------------- graph-served ANN search (q199/q200) -------------
# Serving the flagship artifact itself: greedy best-first search over
# the built K-NN graph (nnd/search.py) for held-out query vectors.
# Params chosen from measured recall on the synthetic embeddings
# (0.98 at sf0.01 AND sf0.1 with this configuration; the graph is the
# 5-iteration NND build, whose own recall caps what search can reach
# on this unclustered corpus — see the NND floor notes above).
GS_K = 5
GS_EF = 192
GS_BEAM = 64
GS_ENTRY = 32
GS_ITERS = 12
GS_HELDOUT = 10   # vec_id < 10 are the out-of-corpus queries
GS_FLOOR = 0.80   # observed 0.98 across sf0.001/0.01/0.1

# q199 returns the served top-k and q200 grades it — share one search
# per (session, sf_dir), the _nnd_graph convention.
_GS_CACHE: dict[tuple[str, str], DataFrame] = {}

# q200/q202/q211 grade three different serving paths against the SAME
# exact ground truth (brute 1/(1+L2) top-k of the held-out queries over
# the id >= GS_HELDOUT corpus) — compute it once per (session, sf_dir).
_GS_BRUTE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _gs_brute_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_nnd_spark.nnd.search import brute_topk_l2  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GS_BRUTE_CACHE:
        corpus = _points(spark, sf_dir).filter(F.col("id") >= GS_HELDOUT)
        q = _points(spark, sf_dir).filter(F.col("id") < GS_HELDOUT).select(
            F.col("id").alias("query_id"), F.col("features").alias("q_vec")
        )
        _GS_BRUTE_CACHE[key] = (
            brute_topk_l2(corpus, q, k=GS_K)
            .select("query_id", "nb_id")
            .localCheckpoint(eager=True)
        )
    return _GS_BRUTE_CACHE[key]


def _graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_nnd_spark.nnd.search import graph_search_topk  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GS_CACHE:
        # Mask the held-out ids out of the serving graph: their rows
        # vanish from adjacency AND from the vector table, so a stale
        # in-list reference to them is not a graph row and the walker
        # drops it — the tombstone-read semantics of the persisted
        # family (operators/knn_graph_index), applied inline.
        served = _nnd_graph(spark, sf_dir).filter(F.col("id") >= GS_HELDOUT)
        q = _points(spark, sf_dir).filter(F.col("id") < GS_HELDOUT).select(
            F.col("id").alias("query_id"), F.col("features").alias("q_vec")
        )
        _GS_CACHE[key] = graph_search_topk(
            served, q, k=GS_K, ef=GS_EF, beam=GS_BEAM, n_entry=GS_ENTRY,
            max_iterations=GS_ITERS, seed=42,
        ).localCheckpoint(eager=True)
    return _GS_CACHE[key]


def q199_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-corpus ANN serving FROM the flagship K-NN graph: held-out
    queries (vec_id < 10) greedy-searched over the q25 build with those
    ids masked (nnd/search.py — per-query walk cost O(P·iters·beam·K)
    on a graph of P partitions). Checked by rows only (an iterative seeded
    NND artifact is not SQL-replayable); q200 is the hash-checked
    recall grade of exactly this result."""
    return (
        _graph_search(spark, sf_dir)
        .select(
            "query_id", "nb_id", "rank", F.round("sim", 6).alias("sim")
        )
        .orderBy("query_id", "rank")
    )


def q200_graph_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked recall row for graph-served ANN (the q33 'nnd'
    convention): hits/recall are NULL in both engines (the graph is
    not SQL-replayable), the oracle re-derives ``total`` from its own
    exact brute-force replay under the SAME metric 1/(1+L2), and
    asserts ``floor_ok = TRUE`` as a literal — the Spark side computes
    floor_ok from the measured recall, so a search regression below
    GS_FLOOR flips the hash red."""
    brute = _gs_brute_for(spark, sf_dir)
    hits = (
        _graph_search(spark, sf_dir)
        .select("query_id", "nb_id")
        .join(F.broadcast(brute), ["query_id", "nb_id"])
        .agg(F.count("*").alias("hits"))
    )
    total = brute.agg(F.count("*").alias("total"))
    recall = F.round(F.col("hits") / F.col("total"), 4)
    return hits.crossJoin(total).select(
        F.lit("graph_search").alias("method"),
        F.lit(None).cast("long").alias("hits"),
        F.col("total"),
        F.lit(None).cast("double").alias("recall"),
        F.lit(GS_FLOOR).alias("floor"),
        (recall >= F.lit(GS_FLOOR)).alias("floor_ok"),
    )


# One persisted K-NN-graph index per (session, sf_dir): the FLAGSHIP
# build persisted into the 10th family's layout, with the held-out
# query ids tombstone-RETRACTED — so the served graph equals q199's
# masked inline graph and served == inline is assertable.
_GIDX_CACHE: dict[tuple[str, str], str] = {}


def _graph_index_for(spark: SparkSession, sf_dir: str) -> str:
    from spark_nnd_spark.operators.knn_graph_index import (  # noqa: PLC0415
        persist_graph_index,
        retract_from_knn_graph_index,
    )
    from spark_nnd_spark.session import session_scratch_dir  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GIDX_CACHE:
        path = session_scratch_dir("knn_graph_idx_")
        persist_graph_index(
            _nnd_graph(spark, sf_dir), path,
            k=K, max_iterations=5, early_termination=0.01,
            sample_rate=1.0, buckets_per_instance=4, seed=42,
        )
        retract_from_knn_graph_index(
            spark, path,
            spark.range(GS_HELDOUT).select(F.col("id")),
        )
        _GIDX_CACHE[key] = path
    return _GIDX_CACHE[key]


def q201_indexed_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q199's serving shape from the PERSISTED K-NN-graph index (the
    10th family, operators/knn_graph_index): the flagship build is
    persisted once, the held-out ids are tombstone-retracted, and
    out-of-corpus queries are answered by greedy search over the
    stored adjacency + vector tables. Identical configuration to the
    inline tier, so served == inline row-for-row (asserted in
    tests/test_graph_index_queries.py); rows-only driver check like
    q199 (the artifact is not SQL-replayable); q202 is the hash-checked
    recall grade — q201/q202 share one search per (session, sf_dir),
    the q199/q200 _GS_CACHE convention applied to the served tier."""
    return (
        _indexed_graph_search(spark, sf_dir)
        .select("query_id", "nb_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


_IGS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _indexed_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_nnd_spark.operators.knn_graph_index import (  # noqa: PLC0415
        graph_index_search,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IGS_CACHE:
        q = _points(spark, sf_dir).filter(F.col("id") < GS_HELDOUT).select(
            F.col("id").alias("query_id"), F.col("features").alias("q_vec")
        )
        _IGS_CACHE[key] = graph_index_search(
            spark, _graph_index_for(spark, sf_dir), q,
            k=GS_K, ef=GS_EF, beam=GS_BEAM, n_entry=GS_ENTRY,
            max_iterations=GS_ITERS, seed=42,
        ).localCheckpoint(eager=True)
    return _IGS_CACHE[key]


def q202_indexed_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked recall row for the INDEX-SERVED graph search (the
    q200 convention, aimed at q201's result): the oracle replays the
    brute-force ground truth and asserts floor_ok TRUE; the Spark side
    computes it from measured recall, so a regression anywhere in the
    persist → retract → read → search path flips the hash red."""
    brute = _gs_brute_for(spark, sf_dir)
    hits = (
        _indexed_graph_search(spark, sf_dir)
        .select("query_id", "nb_id")
        .join(F.broadcast(brute), ["query_id", "nb_id"])
        .agg(F.count("*").alias("hits"))
    )
    total = brute.agg(F.count("*").alias("total"))
    recall = F.round(F.col("hits") / F.col("total"), 4)
    return hits.crossJoin(total).select(
        F.lit("indexed_graph_search").alias("method"),
        F.lit(None).cast("long").alias("hits"),
        F.col("total"),
        F.lit(None).cast("double").alias("recall"),
        F.lit(GS_FLOOR).alias("floor"),
        (recall >= F.lit(GS_FLOOR)).alias("floor_ok"),
    )


def _indexed_graph_recall_oracle() -> str:
    return _graph_search_recall_oracle().replace(
        "'graph_search'", "'indexed_graph_search'"
    )


# q211: the q201 index with a GS_EXT_N-id slice retracted and then
# RE-EXTENDED with identical vectors — the slice's adjacency lives
# only in the updates table, so search must flow through the
# resolved-delta read path (the resolved adjacency, whose lists the
# walker reverses). Same logical content as q201's graph, so the brute ground
# truth (and the oracle) is q202's with the method renamed.
GS_EXT_N = 32
_GIDX_EXT_CACHE: dict[tuple[str, str], str] = {}


def _graph_index_extended_for(spark: SparkSession, sf_dir: str) -> str:
    import shutil  # noqa: PLC0415

    from spark_nnd_spark.operators.knn_graph_index import (  # noqa: PLC0415
        extend_knn_graph_index,
        retract_from_knn_graph_index,
    )
    from spark_nnd_spark.session import session_scratch_dir  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _GIDX_EXT_CACHE:
        src = _graph_index_for(spark, sf_dir)
        path = session_scratch_dir("knn_graph_idx_ext_")
        shutil.copytree(src, path, dirs_exist_ok=True)
        retract_from_knn_graph_index(
            spark, path,
            spark.range(GS_HELDOUT, GS_HELDOUT + GS_EXT_N).select("id"),
        )
        extend_knn_graph_index(
            spark, path,
            _points(spark, sf_dir).filter(
                (F.col("id") >= GS_HELDOUT)
                & (F.col("id") < GS_HELDOUT + GS_EXT_N)
            ),
        )
        _GIDX_EXT_CACHE[key] = path
    return _GIDX_EXT_CACHE[key]


def q211_extended_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked recall row for graph search over an index with
    PENDING update deltas: a slice of the stored graph is retracted
    and re-extended with identical vectors, so its rows live only in
    ``updates/`` and every probe pays the O(updated) resolution path —
    base-minus-delta adjacency and latest-per-id deltas, whose lists
    the walker reverses itself. Logical content
    equals q201's graph, so the ground truth is q202's; a regression
    anywhere in retract → readmission upsert → delta append → resolved
    read → search flips floor_ok red in the driver hash."""
    from spark_nnd_spark.operators.knn_graph_index import (  # noqa: PLC0415
        graph_index_search,
    )

    q = _points(spark, sf_dir).filter(F.col("id") < GS_HELDOUT).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    brute = _gs_brute_for(spark, sf_dir)
    served = graph_index_search(
        spark, _graph_index_extended_for(spark, sf_dir), q,
        k=GS_K, ef=GS_EF, beam=GS_BEAM, n_entry=GS_ENTRY,
        max_iterations=GS_ITERS, seed=42,
    )
    hits = (
        served.select("query_id", "nb_id")
        .join(F.broadcast(brute), ["query_id", "nb_id"])
        .agg(F.count("*").alias("hits"))
    )
    total = brute.agg(F.count("*").alias("total"))
    recall = F.round(F.col("hits") / F.col("total"), 4)
    return hits.crossJoin(total).select(
        F.lit("extended_graph_search").alias("method"),
        F.lit(None).cast("long").alias("hits"),
        F.col("total"),
        F.lit(None).cast("double").alias("recall"),
        F.lit(GS_FLOOR).alias("floor"),
        (recall >= F.lit(GS_FLOOR)).alias("floor_ok"),
    )


def _extended_graph_recall_oracle() -> str:
    return _graph_search_recall_oracle().replace(
        "'graph_search'", "'extended_graph_search'"
    )


def _graph_search_recall_oracle() -> str:
    """DuckDB side of q200: replay ONLY the brute-force ground truth
    (total); floor_ok is the literal assertion the Spark side must
    meet (the q33 'nnd' row convention)."""
    return f"""
        WITH c AS (SELECT vec_id AS nb_id, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id >= {GS_HELDOUT}),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < {GS_HELDOUT}),
        brute AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                           1.0 / (1.0 + sqrt(list_sum(list_transform(
                               range(1, len(qv) + 1),
                               i -> (qv[i] - cv[i]) * (qv[i] - cv[i])))))
                           DESC, nb_id) AS rn
                FROM c CROSS JOIN q
            ) WHERE rn <= {GS_K}
        )
        SELECT 'graph_search' AS method,
               CAST(NULL AS BIGINT) AS hits,
               COUNT(*)::BIGINT AS total,
               CAST(NULL AS DOUBLE) AS recall,
               {GS_FLOOR} AS floor,
               TRUE AS floor_ok
        FROM brute
    """


def _vec_lit(v) -> str:
    return "[" + ",".join(repr(float(x)) for x in v) + "]"


def _ann_recall_oracle() -> str:
    """DuckDB replay of q33: hyperplanes, centroids and PQ codebooks
    inlined as literals (same seeded numpy draws as the Spark side).
    The binary tier replays q129's bit packing + hamming shortlist;
    the ivfpq tier replays q127's assign/encode/probe/ADC cascade —
    both reuse this oracle's shared cell CTEs (identical fixed
    centroids)."""
    from spark_nnd_spark.operators.similarity import pq_codebooks

    n_planes, n_tables, seed, dim, k, n_probe = 8, 6, 42, 64, 5, 4
    planes = [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    cents = fixed_centroids(dim, 16, seed)
    cb = pq_codebooks(IVFPQ_DIM, IVFPQ_M, IVFPQ_CODES, IVFPQ_SEED)
    m, n_codes, sub = cb.shape
    cb_lit = (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(repr(float(x)) for x in code) + "]" for code in space
            )
            + "]"
            for space in cb
        )
        + "]"
    )

    def sqdist(vec: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), d -> "
            f"({vec}[j * {sub} + d] - cb[j + 1][k2 + 1][d])"
            f" * ({vec}[j * {sub} + d] - cb[j + 1][k2 + 1][d])))"
        )

    def cos(a: str, b: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) = 0"
            f" THEN 0.0 ELSE list_dot_product({a},{b})"
            f" / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
        )

    def sig(v: str, t: int) -> str:
        terms = [
            f"(CASE WHEN list_dot_product({v}, {_vec_lit(p)}) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(planes[t])
        ]
        return "(" + " + ".join(terms) + ")"

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    sig_structs = lambda v: ",".join(
        f"struct_pack(t := {t}, bucket := {sig(v, t)})" for t in range(n_tables)
    )
    probe_list = "[bucket, " + ",".join(
        f"xor(bucket, {1 << j})" for j in range(n_planes)
    ) + "]"

    return f"""
        WITH c AS (SELECT vec_id AS nb_id, embedding::DOUBLE[] AS cv FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 10),
        brute AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY {cos('qv', 'cv')} DESC, nb_id) AS rn
                FROM c CROSS JOIN q WHERE query_id <> nb_id
            ) WHERE rn <= {k}
        ),
        csig0 AS (SELECT nb_id, UNNEST([{sig_structs('cv')}]) AS s FROM c),
        csig AS (SELECT nb_id, s.t AS t, s.bucket AS bucket FROM csig0),
        qsig0 AS (SELECT query_id, UNNEST([{sig_structs('qv')}]) AS s FROM q),
        qsig AS (SELECT query_id, s.t AS t, s.bucket AS bucket FROM qsig0),
        qprobe AS (SELECT query_id, t, UNNEST({probe_list}) AS bucket FROM qsig),
        lshcand AS (
            SELECT DISTINCT query_id, nb_id
            FROM qprobe JOIN csig USING (t, bucket)
            WHERE query_id <> nb_id
        ),
        lshtop AS (
            SELECT query_id, nb_id FROM (
                SELECT l.query_id, l.nb_id,
                       ROW_NUMBER() OVER (PARTITION BY l.query_id
                                          ORDER BY {cos('qv', 'cv')} DESC, l.nb_id) AS rn
                FROM lshcand l JOIN q USING (query_id) JOIN c USING (nb_id)
            ) WHERE rn <= {k}
        ),
        cd AS (SELECT nb_id, {cell_dots('cv')} AS dots FROM c),
        ccell AS (SELECT nb_id, list_position(dots, list_max(dots)) - 1 AS cell FROM cd),
        qd AS (SELECT query_id, {cell_dots('qv')} AS dots FROM q),
        qcell AS (
            SELECT query_id, i.range AS cell FROM qd, range(0, 16) i
            QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY dots[i.range + 1] DESC, i.range DESC)
                    <= {n_probe}
        ),
        ivftop AS (
            SELECT query_id, nb_id FROM (
                SELECT qc.query_id, cc.nb_id,
                       ROW_NUMBER() OVER (PARTITION BY qc.query_id
                                          ORDER BY {cos('qv', 'cv')} DESC, cc.nb_id) AS rn
                FROM qcell qc JOIN ccell cc USING (cell)
                JOIN q ON q.query_id = qc.query_id JOIN c ON c.nb_id = cc.nb_id
                WHERE qc.query_id <> cc.nb_id
            ) WHERE rn <= {k}
        ),
        -- binary tier: q129's packing (32 sign bits per BIGINT word),
        -- xor+bit_count hamming shortlist, exact-cosine rerank.
        bbits AS (
            SELECT nb_id AS vid, cv,
                   list_transform(range(0, (len(cv) + 31) // 32), w ->
                       CAST(list_sum(list_transform(range(0, 32), j ->
                           CASE WHEN w * 32 + j < len(cv)
                                     AND cv[w * 32 + j + 1] > 0
                                THEN (1::BIGINT << j) ELSE 0::BIGINT END))
                            AS BIGINT)) AS b
            FROM c
        ),
        bham AS (
            SELECT qb.vid AS query_id, cb2.vid AS nb_id,
                   CAST(list_sum(list_transform(range(1, len(qb.b) + 1),
                            i -> bit_count(xor(qb.b[i], cb2.b[i])))) AS BIGINT)
                       AS hamming
            FROM bbits cb2 CROSS JOIN (SELECT * FROM bbits WHERE vid < 10) qb
            WHERE qb.vid <> cb2.vid
        ),
        bshort AS (
            SELECT query_id, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY hamming, nb_id) AS hrank
            FROM bham
        ),
        brer AS (
            SELECT s.query_id, s.nb_id, {cos('qv', 'cv')} AS cosine
            FROM bshort s JOIN q USING (query_id) JOIN c USING (nb_id)
            WHERE s.hrank <= {BIN_SHORTLIST}
        ),
        btop AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, nb_id) AS rn
                FROM brer
            ) WHERE rn <= {k}
        ),
        -- ivfpq tier: q127's cascade over the SAME fixed centroids as
        -- the ivf tier (ccell/qcell reused), PQ encode + per-query ADC
        -- tables, shortlist, exact-cosine rerank.
        cbt AS (SELECT {cb_lit} AS cb),
        penc AS (
            SELECT cc.nb_id, cc.cell,
                   list_transform(range(0, {m}), j ->
                       (list_min(list_transform(range(0, {n_codes}), k2 ->
                           {{'d': {sqdist('cv.cv')}, 'c': k2}}))).c
                   ) AS codes
            FROM ccell cc JOIN c cv USING (nb_id) CROSS JOIN cbt
        ),
        plut AS (
            SELECT query_id,
                   list_transform(range(0, {m}), j ->
                       list_transform(range(0, {n_codes}), k2 -> {sqdist('qv')})
                   ) AS lut
            FROM q CROSS JOIN cbt
        ),
        pcand AS (
            SELECT qc.query_id, en.nb_id,
                   list_sum(list_transform(range(0, {m}), j ->
                       l.lut[j + 1][en.codes[j + 1] + 1])) AS pq_dist
            FROM qcell qc
            JOIN penc en ON en.cell = qc.cell
            JOIN plut l ON l.query_id = qc.query_id
            WHERE qc.query_id <> en.nb_id
        ),
        pshort AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY pq_dist ASC, nb_id) AS crank
                FROM pcand
            ) WHERE crank <= {IVFPQ_SHORTLIST}
        ),
        prer AS (
            SELECT s.query_id, s.nb_id, {cos('qv', 'cv')} AS cosine
            FROM pshort s JOIN q USING (query_id) JOIN c USING (nb_id)
        ),
        ptop AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, nb_id) AS rn
                FROM prer
            ) WHERE rn <= {k}
        ),
        -- mrl tier: q114's two-stage cascade (coarse top-{MRL_CK} on
        -- the first {MRL_PRE} dims, exact full-dim rerank) verbatim.
        mcoarse AS (
            SELECT query_id, nb_id,
                   list_sum(list_transform(range(1, {MRL_PRE + 1}), i -> qv[i]*cv[i]))
                   / (sqrt(list_sum(list_transform(range(1, {MRL_PRE + 1}), i -> qv[i]*qv[i])))
                      * sqrt(list_sum(list_transform(range(1, {MRL_PRE + 1}), i -> cv[i]*cv[i]))))
                       AS pre_cosine
            FROM c CROSS JOIN q WHERE query_id <> nb_id
        ),
        mcand AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY pre_cosine DESC, nb_id) AS crank
                FROM mcoarse
            ) WHERE crank <= {MRL_CK}
        ),
        mrer AS (
            SELECT s.query_id, s.nb_id, {cos('qv', 'cv')} AS cosine
            FROM mcand s JOIN q USING (query_id) JOIN c USING (nb_id)
        ),
        mtop AS (
            SELECT query_id, nb_id FROM (
                SELECT query_id, nb_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, nb_id) AS rn
                FROM mrer
            ) WHERE rn <= {k}
        ),
        tot AS (SELECT COUNT(*) AS total FROM brute),
        lsh_hits AS (SELECT COUNT(*) AS hits FROM
            (SELECT * FROM lshtop INTERSECT SELECT * FROM brute)),
        ivf_hits AS (SELECT COUNT(*) AS hits FROM
            (SELECT * FROM ivftop INTERSECT SELECT * FROM brute)),
        bin_hits AS (SELECT COUNT(*) AS hits FROM
            (SELECT * FROM btop INTERSECT SELECT * FROM brute)),
        pq_hits AS (SELECT COUNT(*) AS hits FROM
            (SELECT * FROM ptop INTERSECT SELECT * FROM brute)),
        mrl_hits AS (SELECT COUNT(*) AS hits FROM
            (SELECT * FROM mtop INTERSECT SELECT * FROM brute)),
        -- nnd row: total re-derived from the oracle's own exact K-NN
        -- graph (the q24 semantics: 1/(1+L2), row_number top-K); hits/
        -- recall are NULL (an iterative seeded build is not replayable
        -- in static SQL) and floor_ok is the asserted claim — the Spark
        -- side computes it against the exact graph, so a recall
        -- regression below the floor breaks the hash.
        allv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        nnd_tot AS (
            SELECT COUNT(*) AS total FROM (
                SELECT ROW_NUMBER() OVER (PARTITION BY a.id
                    ORDER BY 1.0 / (1.0 + sqrt(list_sum(
                        list_transform(range(1, len(a.v) + 1),
                                       i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))))
                    DESC, b.id) AS rn
                FROM allv a JOIN allv b ON a.id <> b.id
            ) WHERE rn <= {K}
        )
        SELECT 'binary' AS method, hits, total, round(hits * 1.0 / total, 4) AS recall,
               {BIN_FLOOR}::DOUBLE AS floor,
               round(hits * 1.0 / total, 4) >= {BIN_FLOOR} AS floor_ok
        FROM bin_hits, tot
        UNION ALL
        SELECT 'ivf' AS method, hits, total, round(hits * 1.0 / total, 4) AS recall,
               {IVF_FLOOR}::DOUBLE AS floor,
               round(hits * 1.0 / total, 4) >= {IVF_FLOOR} AS floor_ok
        FROM ivf_hits, tot
        UNION ALL
        SELECT 'ivfpq' AS method, hits, total, round(hits * 1.0 / total, 4) AS recall,
               {IVFPQ_FLOOR}::DOUBLE AS floor,
               round(hits * 1.0 / total, 4) >= {IVFPQ_FLOOR} AS floor_ok
        FROM pq_hits, tot
        UNION ALL
        SELECT 'mrl' AS method, hits, total, round(hits * 1.0 / total, 4) AS recall,
               {MRL_FLOOR}::DOUBLE AS floor,
               round(hits * 1.0 / total, 4) >= {MRL_FLOOR} AS floor_ok
        FROM mrl_hits, tot
        UNION ALL
        SELECT 'lsh' AS method, hits, total, round(hits * 1.0 / total, 4) AS recall,
               {LSH_FLOOR}::DOUBLE AS floor,
               round(hits * 1.0 / total, 4) >= {LSH_FLOOR} AS floor_ok
        FROM lsh_hits, tot
        UNION ALL
        SELECT 'nnd' AS method, NULL::BIGINT AS hits, total,
               NULL::DOUBLE AS recall,
               (CASE WHEN total <= {K * NND_SMALL_N}
                     THEN {NND_FLOOR_SMALL} ELSE {NND_FLOOR_LARGE}
                END)::DOUBLE AS floor,
               TRUE AS floor_ok
        FROM nnd_tot
        ORDER BY method
    """


KMEANS_K = 8


def q59_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embeddings, seeded from the
    first k vectors by id (operators/clustering.py). Assignment is a
    pure projection against literal centroids (no shuffle, no ×k row
    replication); re-averaging is a partial-aggregated groupBy on
    (cluster, dim). The oracle replays the identical argmin + average
    in DuckDB."""
    from spark_nnd_spark.operators.clustering import kmeans_step, seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = seed_centroids(emb, KMEANS_K)
    return (
        kmeans_step(emb, centroids)
        .select("cluster_id", "i", F.round("centroid", 6).alias("centroid"), "n")
        .orderBy("cluster_id", "i")
    )


def _kmeans_oracle(k: int = KMEANS_K) -> str:
    sq_l2 = (
        "list_sum(list_transform(range(1, len(v) + 1),"
        " i -> (v[i] - cv[i]) * (v[i] - cv[i])))"
    )
    return f"""
        WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < {k}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (
            SELECT vec_id, cid, {sq_l2} AS dist
            FROM e CROSS JOIN c
        ),
        a AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
                FROM d
            ) WHERE rn = 1
        ),
        j AS (
            -- two equal-length UNNESTs in one SELECT zip positionally
            SELECT a.cid AS cluster_id,
                   UNNEST(range(0, len(e.v))) AS i,
                   UNNEST(e.v) AS x
            FROM a JOIN e USING (vec_id)
        )
        SELECT cluster_id, i, round(AVG(x), 6) AS centroid, COUNT(*) AS n
        FROM j GROUP BY cluster_id, i ORDER BY cluster_id, i
    """


def q67_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index introspection: per-cell occupancy and mean
    within-cell cosine to the centroid — the balance/coherence check
    an operator runs before trusting an index (hot cells → probe cost,
    empty cells → wasted centroids). Fixed centroids make the
    assignment literal-for-literal replayable in the oracle, like
    q33."""
    from spark_nnd_spark.operators.similarity import _ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixed_centroids(64, 16, 42)
    assigned = _ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    from spark_nnd_spark.functions.vector import cosine_similarity_expr

    return (
        assigned.join(F.broadcast(cent_df), "cell")
        .withColumn("cos", cosine_similarity_expr("c_vec", "centroid"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.avg("cos"), 6).alias("mean_cosine"),
        )
        .select(F.col("cell").cast("long").alias("cell"), "n_members", "mean_cosine")
        .orderBy("cell")
    )


def _ivf_cells_oracle() -> str:
    cents = fixed_centroids(64, 16, 42)

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, cv, {cell_dots('cv')} AS dots FROM c),
        assigned AS (
            SELECT vec_id, cv, list_position(dots, list_max(dots)) - 1 AS cell,
                   dots[list_position(dots, list_max(dots))] AS cos
            FROM cd
        )
        SELECT cell::BIGINT AS cell, COUNT(*) AS n_members,
               round(AVG(cos), 6) AS mean_cosine
        FROM assigned GROUP BY cell ORDER BY cell
    """


# Composed IVF-PQ tier (q127): fixed centroids + seeded codebooks make
# the whole cascade literal-replayable (the q33/q67/q79 convention).
# shortlist=40 recovers ~96% of the IVF ceiling's recall on this corpus
# while ADC reads 8 ints/vector instead of 64 doubles.
IVFPQ_PROBE, IVFPQ_SHORTLIST, IVFPQ_K = 4, 40, 5
IVFPQ_M, IVFPQ_CODES, IVFPQ_SEED, IVFPQ_DIM, IVFPQ_CELLS = 8, 16, 42, 64, 16

# Session-cached persisted IVF-PQ index (the pipeline _*_index_for
# convention): q127 measures the PROBE; the build is amortized ingest.
_IVFPQ_IDX_CACHE: dict[tuple[str, str], str] = {}


def _ivfpq_index_for(spark: SparkSession, sf_dir: str) -> str:
    from spark_nnd_spark.session import session_scratch_dir  # noqa: PLC0415

    from spark_nnd_spark.operators.similarity import (
        build_ivfpq_index,
        pq_codebooks,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVFPQ_IDX_CACHE:
        path = session_scratch_dir("ivfpq_idx_")
        emb = load_table(spark, sf_dir, "embeddings")
        build_ivfpq_index(
            emb,
            path,
            centroids=fixed_centroids(IVFPQ_DIM, IVFPQ_CELLS, IVFPQ_SEED),
            codebooks=pq_codebooks(IVFPQ_DIM, IVFPQ_M, IVFPQ_CODES, IVFPQ_SEED),
        )
        _IVFPQ_IDX_CACHE[key] = path
    return _IVFPQ_IDX_CACHE[key]


def q127_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ retrieval served from the persisted index
    (operators/similarity.py build_ivfpq_index / ivfpq_query_index) —
    the billion-vector layout (IVFADC + exact rerank): the coarse IVF
    tier prunes the code scan to n_probe/n_centroids of the corpus
    (hive partition pruning), the PQ tier reads 8 small ints per
    member instead of 64 doubles, ADC ranks a 40-candidate shortlist,
    and exact cosine reranks only those rows. Fixed centroids + seeded
    data-independent codebooks keep the ENTIRE cascade deterministic,
    so the oracle replays assignment, encoding, probing, ADC and
    rerank from literals and the result hash-matches row-for-row
    (index==inline asserted in tests)."""
    from spark_nnd_spark.operators.similarity import ivfpq_query_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _ivfpq_index_for(spark, sf_dir)
    out = ivfpq_query_index(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=IVFPQ_K,
        n_probe=IVFPQ_PROBE,
        shortlist=IVFPQ_SHORTLIST,
    )
    return out.select(
        "query_id", "nb_id", "rank", F.round("cosine", 6).alias("cosine")
    ).orderBy("query_id", "rank")


def _ivfpq_oracle() -> str:
    """DuckDB replay of the full IVF-PQ cascade from literals: cell
    assignment (q67 machinery), PQ encode + per-query ADC tables (q79
    machinery), probe-cell ranking (dot DESC, cell DESC — mirroring
    _probe_cells_expr's reversed (d, i) sort), ADC shortlist (pq_dist
    ASC, nb_id ASC), exact-cosine rerank (cosine DESC, nb_id ASC)."""
    from spark_nnd_spark.operators.similarity import pq_codebooks

    cents = fixed_centroids(IVFPQ_DIM, IVFPQ_CELLS, IVFPQ_SEED)
    cb = pq_codebooks(IVFPQ_DIM, IVFPQ_M, IVFPQ_CODES, IVFPQ_SEED)
    m, n_codes, sub = cb.shape
    cb_lit = (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(repr(float(x)) for x in code) + "]" for code in space
            )
            + "]"
            for space in cb
        )
        + "]"
    )

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    def cos(a: str, b: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) = 0"
            f" THEN 0.0 ELSE list_dot_product({a},{b})"
            f" / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
        )

    def sqdist(vec: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), d -> "
            f"({vec}[j * {sub} + d] - cb[j + 1][k + 1][d])"
            f" * ({vec}[j * {sub} + d] - cb[j + 1][k + 1][d])))"
        )

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cbt AS (SELECT {cb_lit} AS cb),
        cd AS (SELECT vec_id, v, {cell_dots('v')} AS dots FROM e),
        assigned AS (
            SELECT vec_id, v, list_position(dots, list_max(dots)) - 1 AS cell
            FROM cd
        ),
        enc AS (
            SELECT a.vec_id, a.cell,
                   list_transform(range(0, {m}), j ->
                       (list_min(list_transform(range(0, {n_codes}), k ->
                           {{'d': {sqdist('a.v')}, 'c': k}}))).c
                   ) AS codes
            FROM assigned a CROSS JOIN cbt
        ),
        qp AS (SELECT vec_id AS query_id, v, dots FROM cd WHERE vec_id < 10),
        qcell_all AS (
            SELECT query_id, i AS cell, dots[i + 1] AS d,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dots[i + 1] DESC, i DESC) AS rn
            FROM qp CROSS JOIN (SELECT unnest(range(0, {IVFPQ_CELLS})) AS i)
        ),
        qcell AS (SELECT query_id, cell FROM qcell_all WHERE rn <= {IVFPQ_PROBE}),
        lut AS (
            SELECT e.vec_id AS query_id,
                   list_transform(range(0, {m}), j ->
                       list_transform(range(0, {n_codes}), k -> {sqdist('e.v')})
                   ) AS lut
            FROM e CROSS JOIN cbt WHERE e.vec_id < 10
        ),
        cand AS (
            SELECT q.query_id, en.vec_id AS nb_id,
                   list_sum(list_transform(range(0, {m}), j ->
                       l.lut[j + 1][en.codes[j + 1] + 1])) AS pq_dist
            FROM qcell q
            JOIN enc en ON en.cell = q.cell
            JOIN lut l ON l.query_id = q.query_id
            WHERE q.query_id <> en.vec_id
        ),
        ranked_cand AS (
            SELECT query_id, nb_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY pq_dist ASC, nb_id) AS crank
            FROM cand
        ),
        short AS (
            SELECT query_id, nb_id FROM ranked_cand WHERE crank <= {IVFPQ_SHORTLIST}
        ),
        rer AS (
            SELECT s.query_id, s.nb_id, {cos('qv.v', 'cv.v')} AS cosine
            FROM short s
            JOIN e qv ON qv.vec_id = s.query_id
            JOIN e cv ON cv.vec_id = s.nb_id
        ),
        ranked AS (
            SELECT query_id, nb_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, nb_id) AS rank
            FROM rer
        )
        SELECT query_id, nb_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= {IVFPQ_K} ORDER BY query_id, rank
    """


# SemDeDup tau for THIS corpus: the synthetic embeddings are
# near-isotropic (max pairwise cosine ~0.51), so a production-style
# 0.9+ threshold drops nothing at any SF; 0.40 sits in the upper tail
# (12/18/160 drops at sf0.001/0.01/0.1) and exercises the full
# assign → block → pair → keep-rule cascade non-trivially.
SEMDEDUP_TAU = 0.40


def q138_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup verdicts (operators/
    similarity.semantic_dedup, Abbas et al. 2023): nearest-centroid
    cell blocking (fixed centroids — the q33/q67 literal-replay
    convention), same-cell pair scan, drop when a smaller-id neighbor
    has cosine >= tau. The greedy-by-id keep rule is a NOT EXISTS in
    the oracle; pairs never cross cells (asserted in test_plans)."""
    from spark_nnd_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixed_centroids(64, 16, 42)
    return semantic_dedup(
        emb, cents, tau=SEMDEDUP_TAU, id_col="vec_id", vec_col="embedding"
    ).orderBy("vec_id")


def _semantic_dedup_oracle() -> str:
    """q138 replay: q67's literal centroid assignment (same
    list_position argmax tiebreak), then keep = NOT EXISTS a same-cell
    smaller-id neighbor with cosine >= tau — the greedy-by-id rule
    verbatim."""
    cents = fixed_centroids(64, 16, 42)

    def cos(a: str, b: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) = 0"
            f" THEN 0.0 ELSE list_dot_product({a},{b})"
            f" / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
        )

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, cv, {cell_dots('cv')} AS dots FROM c),
        assigned AS (
            SELECT vec_id, cv,
                   list_position(dots, list_max(dots)) - 1 AS cell
            FROM cd
        )
        SELECT a.vec_id, a.cell::BIGINT AS cell,
               NOT EXISTS (
                   SELECT 1 FROM assigned b
                   WHERE b.cell = a.cell AND b.vec_id < a.vec_id
                     AND {cos('a.cv', 'b.cv')}
                         >= CAST({SEMDEDUP_TAU} AS DOUBLE)
               ) AS keep
        FROM assigned a ORDER BY a.vec_id
    """


# q148 eval slice: a deterministic 1/16 of the embeddings stands in for
# the held-out benchmark suite; the rest is the train corpus. tau reuses
# q138's corpus-calibrated threshold (this synthetic corpus is
# near-isotropic; 0.9+ would drop nothing at any SF).
DECON_MOD, DECON_REM = 16, 7


def q148_embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/similarity.
    cross_decontaminate): the q138 SemDeDup kernel composed across TWO
    tables — eval embeddings × train embeddings, cell-blocked on the
    q67 fixed literal centroids, cosine >= tau ⇒ contaminated. This is
    the paraphrase-leakage guard the shingle-overlap decontamination
    queries (q51/q78) cannot provide: a reworded eval item keeps its
    embedding neighborhood while sharing no 3-shingle.

    Scale (100 TB): one narrow assign pass over the train corpus + a
    broadcast-hash join against the O(benchmarks) eval side — the
    corpus never shuffles and no pair crosses a cell (plan-asserted in
    test_plans)."""
    from spark_nnd_spark.operators.similarity import cross_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % DECON_MOD == DECON_REM
    return cross_decontaminate(
        emb.filter(~is_eval),
        emb.filter(is_eval),
        fixed_centroids(64, 16, 42),
        tau=SEMDEDUP_TAU,
    ).orderBy("vec_id")


def _embedding_decontam_oracle() -> str:
    """q148 replay: q138's literal centroid assignment split into
    train/eval slices, contamination = a same-cell eval neighbor with
    cosine >= tau; -1/0 sentinels for clean rows (never NULL — the
    driver compare sorts rows as tuples)."""
    cents = fixed_centroids(64, 16, 42)

    def cos(a: str, b: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) = 0"
            f" THEN 0.0 ELSE list_dot_product({a},{b})"
            f" / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
        )

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, cv, {cell_dots('cv')} AS dots FROM c),
        assigned AS (
            SELECT vec_id, cv,
                   list_position(dots, list_max(dots)) - 1 AS cell
            FROM cd
        ),
        t AS (SELECT * FROM assigned
              WHERE vec_id % {DECON_MOD} <> {DECON_REM}),
        e AS (SELECT * FROM assigned
              WHERE vec_id % {DECON_MOD} = {DECON_REM}),
        h AS (
            SELECT t.vec_id, COUNT(*) AS n_eval_hits,
                   MIN(e.vec_id) AS first_eval_id
            FROM t JOIN e ON t.cell = e.cell
            WHERE {cos('t.cv', 'e.cv')} >= CAST({SEMDEDUP_TAU} AS DOUBLE)
            GROUP BY t.vec_id
        )
        SELECT t.vec_id, t.cell::BIGINT AS cell,
               COALESCE(h.n_eval_hits, 0)::BIGINT AS n_eval_hits,
               COALESCE(h.first_eval_id, -1)::BIGINT AS first_eval_id,
               h.n_eval_hits IS NOT NULL AS contaminated
        FROM t LEFT JOIN h USING (vec_id) ORDER BY t.vec_id
    """


HARDNEG_K = 5


def q143_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each query vector, the top-k most-similar corpus vectors with a
    DIFFERENT label — the negatives that sit closest to the decision
    boundary, which is what makes a triplet/InfoNCE batch hard. Same
    plan shape as q18's exact tier (corpus streams, the small query
    side broadcasts, the per-query cut is the native WindowGroupLimit
    rank window); the label-mismatch predicate rides the broadcast
    join in codegen. At scale the brute pass swaps for the IVF/binary
    shortlist exactly as retrieval does (same blocked layouts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    c = emb.select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    from spark_nnd_spark.functions.vector import cosine_similarity_expr  # noqa: PLC0415

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_label") != F.col("q_label"))
        .withColumn("cosine", cosine_similarity_expr("q_vec", "c_vec"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARDNEG_K)
        .select(
            "query_id", "nb_id", "rank", F.round("cosine", 6).alias("cosine")
        )
        .orderBy("query_id", "rank")
    )


def _hard_negatives_oracle() -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"CASE WHEN sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b})) = 0"
            f" THEN 0.0 ELSE list_dot_product({a},{b})"
            f" / (sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))) END"
        )

    return f"""
        WITH t AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS nb_id,
                   {cos('q.v', 'c.v')} AS cosine
            FROM t q JOIN t c ON q.label <> c.label
            WHERE q.vec_id < 10
        ),
        ranked AS (
            SELECT query_id, nb_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, nb_id) AS rank
            FROM scored
        )
        SELECT query_id, nb_id, CAST(rank AS INT) AS rank,
               round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= {HARDNEG_K} ORDER BY query_id, rank
    """


BALANCED_CELL_K = 20


def q144_balanced_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subsampling: exactly-k vectors per IVF cell
    (fixed centroids — the q67 assignment) via the md5-ranked
    exactly-k sampler — the DataComp-style rebalancing that stops one
    dense region of embedding space from dominating a training batch.
    Assignment is a narrow Arrow map; the only wide op is the per-cell
    top-k window (one cell-key exchange), and the sample is nested in
    k and engine-replayable."""
    from spark_nnd_spark.operators.sampling import per_group_exact_sample  # noqa: PLC0415
    from spark_nnd_spark.operators.similarity import _ivf_assign  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(
        emb, fixed_centroids(64, 16, 42), id_col="vec_id", vec_col="embedding"
    ).select(F.col("cell").cast("long").alias("cell"), F.col("nb_id").alias("vec_id"))
    return (
        per_group_exact_sample(assigned, "cell", BALANCED_CELL_K, id_col="vec_id")
        .select("cell", "sample_rank", "vec_id")
        .orderBy("cell", "sample_rank")
    )


def _balanced_cells_oracle() -> str:
    cents = fixed_centroids(64, 16, 42)

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents)
            + "]"
        )

    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, {cell_dots('cv')} AS dots FROM c),
        assigned AS (
            SELECT vec_id,
                   (list_position(dots, list_max(dots)) - 1)::BIGINT AS cell
            FROM cd
        ),
        ranked AS (
            SELECT cell, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cell
                       ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 8),
                                vec_id
                   ) AS sample_rank
            FROM assigned
        )
        SELECT cell, sample_rank, vec_id FROM ranked
        WHERE sample_rank <= {BALANCED_CELL_K}
        ORDER BY cell, sample_rank
    """


PREF_PAIRS_PER_CELL = 3


def q176_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-PAIR mining — reward-model / DPO training data
    assembled from signals the engine already computes: within each
    IVF cell (topic proxy — the q67/q144 fixed-centroid assignment,
    so chosen and rejected discuss comparable content), pair the
    rank-r highest quality-model-scored doc (q111's scorer) with the
    rank-r lowest, r = 1..PREF_PAIRS_PER_CELL, keeping pairs with a
    positive score margin. The guard 2r <= cell size stops the two
    ends crossing in small cells, so a doc never appears as both
    chosen and rejected of the same pair rank.

    Scale (100 TB): assignment is the narrow Arrow map every IVF tier
    uses; scoring is a zero-shuffle array fold; the only wide ops are
    one cell-keyed exchange feeding both rank windows and the
    (cell, rank)-keyed self-join of two O(cells · r) slices. Rank on
    the 6dp-ROUNDED score with id tiebreaks (the q140 discipline) so
    the pairing is deterministic cross-engine."""
    from pyspark.sql import Window  # noqa: PLC0415

    from spark_nnd_spark.functions import text as TXT  # noqa: PLC0415
    from spark_nnd_spark.operators.similarity import _ivf_assign  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    assigned = _ivf_assign(
        emb, fixed_centroids(64, 16, 42), id_col="vec_id", vec_col="embedding"
    ).select(F.col("cell").cast("long").alias("cell"), F.col("nb_id").alias("doc_id"))
    scored = d.select(
        "doc_id", F.round(TXT.linear_score_expr("text"), 6).alias("score")
    )
    cs = assigned.join(scored, "doc_id")
    wn = Window.partitionBy("cell")
    wtop = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("doc_id"))
    wbot = Window.partitionBy("cell").orderBy(F.asc("score"), F.desc("doc_id"))
    r = cs.select(
        "cell",
        "doc_id",
        "score",
        F.row_number().over(wtop).alias("top_rk"),
        F.row_number().over(wbot).alias("bot_rk"),
        F.count("*").over(wn).alias("n_cell"),
    )
    top = r.filter(
        (F.col("top_rk") <= PREF_PAIRS_PER_CELL)
        & (2 * F.col("top_rk") <= F.col("n_cell"))
    ).select(
        "cell",
        F.col("top_rk").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    bot = r.select(
        "cell",
        F.col("bot_rk").cast("long").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        top.join(bot, ["cell", "pair_rank"])
        .withColumn(
            "margin", F.round(F.col("chosen_score") - F.col("rejected_score"), 6)
        )
        .filter(F.col("margin") > 0)
        .orderBy("cell", "pair_rank")
    )


def _preference_pairs_oracle() -> str:
    from spark_nnd_spark.functions.text import linear_score_sql  # noqa: PLC0415

    cents = fixed_centroids(64, 16, 42)
    norm = "greatest(sqrt(list_dot_product(cv,cv)), 1e-12)"
    dots = (
        "["
        + ",".join(f"list_dot_product(cv, {_vec_lit(c)}) / {norm}" for c in cents)
        + "]"
    )
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, {dots} AS dots FROM c),
        assigned AS (
            SELECT vec_id AS doc_id,
                   (list_position(dots, list_max(dots)) - 1)::BIGINT AS cell
            FROM cd
        ),
        scored AS (
            SELECT doc_id, round({linear_score_sql('text')}, 6) AS score
            FROM documents
        ),
        cs AS (SELECT a.cell, s.doc_id, s.score
               FROM assigned a JOIN scored s USING (doc_id)),
        r AS (
            SELECT cell, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY score DESC, doc_id) AS top_rk,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY score ASC, doc_id DESC) AS bot_rk,
                   COUNT(*) OVER (PARTITION BY cell) AS n_cell
            FROM cs
        )
        SELECT t.cell, t.top_rk::BIGINT AS pair_rank,
               t.doc_id AS chosen_id, t.score AS chosen_score,
               b.doc_id AS rejected_id, b.score AS rejected_score,
               round(t.score - b.score, 6) AS margin
        FROM r t JOIN r b ON t.cell = b.cell AND t.top_rk = b.bot_rk
        WHERE t.top_rk <= {PREF_PAIRS_PER_CELL} AND 2 * t.top_rk <= t.n_cell
          AND round(t.score - b.score, 6) > 0
        ORDER BY t.cell, pair_rank
    """


KMEANS_CURVE_ITERS = 3


def q178_kmeans_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means TRAINED TO A CURVE — KMEANS_CURVE_ITERS full Lloyd
    rounds over the embeddings (operators/clustering.kmeans_curve),
    emitting per-round exact-integer inertia and live-cluster count:
    the convergence table an operator reads before freezing IVF/topic
    centroids (q59 is one step of this loop; q67 audits the result).
    The integer quantization makes assignment, inertia AND the
    centroid handoff bit-replayable, so the DuckDB oracle unrolls all
    rounds (the q157/q169/q177 iterative convention) and value-checks
    an end-to-end TRAINING loop, not just one step.

    Scale (100 TB): per round, one narrow corpus projection (literal
    centroids — zero shuffle) + one (cluster, dim) map-side-combined
    aggregate; only the k·dim integer centroid table hits the driver
    between rounds."""
    from spark_nnd_spark.operators.clustering import kmeans_curve  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_curve(emb, k=KMEANS_K, iters=KMEANS_CURVE_ITERS)


def _kmeans_curve_oracle(k: int = KMEANS_K, iters: int = 3) -> str:
    quant = 1_000_000
    rounds, finals = [], []
    prev_c = "c0"
    for t in range(1, iters + 1):
        rounds.append(f"""
        d{t} AS (
            SELECT e.vec_id, c.cid,
                   list_sum(list_transform(range(1, len(e.q) + 1),
                       i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i]))) AS dist
            FROM e CROSS JOIN {prev_c} c
        ),
        a{t} AS (
            SELECT vec_id, cid, dist FROM (
                SELECT vec_id, cid, dist,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
                FROM d{t}
            ) WHERE rn = 1
        ),
        r{t} AS (
            SELECT {t}::BIGINT AS round,
                   CAST(SUM(dist) AS DOUBLE) AS inertia_micro2,
                   COUNT(DISTINCT cid)::BIGINT AS n_clusters
            FROM a{t}
        )""")
        finals.append(
            f"SELECT round, inertia_micro2, n_clusters FROM r{t}"
        )
        if t < iters:
            rounds.append(f"""
        s{t} AS (
            SELECT cid, i, SUM(x) AS s, COUNT(*)::BIGINT AS n
            FROM (
                SELECT a.cid AS cid,
                       UNNEST(range(1, len(e.q) + 1)) AS i,
                       UNNEST(e.q) AS x
                FROM a{t} a JOIN e USING (vec_id)
            ) GROUP BY cid, i
        ),
        n{t} AS (
            SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n + 0.5)
                                  AS BIGINT) ORDER BY i) AS cq
            FROM s{t} GROUP BY cid
        ),
        c{t} AS (
            SELECT p.cid, COALESCE(nn.cq, p.cq) AS cq
            FROM {prev_c} p LEFT JOIN n{t} nn USING (cid)
        )""")
            prev_c = f"c{t}"
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * {quant} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ),
        c0 AS (SELECT vec_id AS cid, q AS cq FROM e WHERE vec_id < {k}),{','.join(rounds)}
        {' UNION ALL '.join(finals)}
        ORDER BY round
    """


PCA_ITERS = 3


def q177_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space PCA by POWER ITERATION — the spectral
    diagnostic behind anisotropy audits (a dominant top eigenvalue
    means cosine similarity is collapsing onto one direction, the
    classic representation-degeneration signal) and PCA-whitening
    decisions. One corpus pass builds the exact-integer covariance
    matrix (operators/clustering.int_covariance — the q165 integer
    discipline applied to second moments); PCA_ITERS matvec rounds
    (top_eigen_power) emit per-iteration Rayleigh quotients, each
    round's O(d) iterate being the one collected driver scalar (the
    reference's convergence-scalar class, NND.scala:118). The DuckDB
    oracle unrolls the identical rounds over list folds, so an
    ITERATIVE LINEAR-ALGEBRA pipeline is value-checked end-to-end.

    Scale (100 TB): the corpus contributes one scan + an O(d²)
    map-side-combined integer aggregate; every iteration afterwards
    touches only the d² matrix rows. No Python kernels anywhere."""
    from spark_nnd_spark.operators.clustering import (  # noqa: PLC0415
        int_covariance,
        top_eigen_power,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cov = int_covariance(emb, vec_col="embedding", dim=64)
    return top_eigen_power(cov, dim=64, iters=PCA_ITERS)


def _power_round_ctes(
    t: int, prev_v: str, vscale: int, sym: str = "sym", tag: str = ""
) -> str:
    """One power-iteration round (matvec → ordered fold stats →
    re-quantized iterate) as oracle CTEs — shared by the q177/q179
    spectrum oracles, the q180 transform oracle and q185's second
    (deflated) loop, which passes its own matrix name and a CTE-name
    tag to avoid collisions."""
    t = f"{tag}{t}"
    return f"""
        w{t}r AS (
            SELECT s.i AS i, SUM(CAST(s.c AS HUGEINT) * m[s.j]) AS w
            FROM {sym} s, {prev_v} GROUP BY s.i
        ),
        w{t} AS (SELECT list(struct_pack(i := i, w := w) ORDER BY i) AS ws
                 FROM w{t}r),
        s{t} AS (
            SELECT ws,
                   sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(ws, s -> CAST(s.w AS DOUBLE)
                                               * CAST(s.w AS DOUBLE))),
                        (acc, x) -> acc + x)) AS norm,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(ws, s -> CAST(m[s.i] AS DOUBLE)
                                               * CAST(s.w AS DOUBLE))),
                        (acc, x) -> acc + x) AS num,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                        list_transform(m, x -> CAST(x AS DOUBLE)
                                              * CAST(x AS DOUBLE))),
                        (acc, x) -> acc + x) AS den
            FROM w{t}, {prev_v}
        ),
        v{t} AS (
            SELECT list_transform(ws, s ->
                CAST(floor(CAST(s.w AS DOUBLE) / norm * {vscale} + 0.5)
                     AS BIGINT)) AS m
            FROM s{t}
        )"""


def _pca_prefix_ctes(iters: int, dim: int, quant: int, vscale: int, v0: int) -> str:
    """Everything from the quantized corpus through v{iters} — the
    shared spine of the spectral oracles."""
    rounds = []
    prev_v = "v0"
    for t in range(1, iters + 1):
        rounds.append(_power_round_ctes(t, prev_v, vscale))
        prev_v = f"v{t}"
    return f"""
        WITH t AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(floor(x * {quant} + 0.5) AS BIGINT)) AS q
            FROM embeddings
        ),
        g AS (
            SELECT vec_id, u.i AS i, u.qi AS qi
            FROM (SELECT vec_id, unnest(list_transform(range(1, len(q) + 1),
                         i -> struct_pack(i := i, qi := q[i]))) AS u
                  FROM t)
        ),
        b AS (SELECT i, SUM(qi) AS bv, COUNT(*)::BIGINT AS n
              FROM g GROUP BY i),
        a AS (
            SELECT x.i AS i, y.i AS j, SUM(x.qi * y.qi) AS a
            FROM g x JOIN g y ON x.vec_id = y.vec_id AND y.i >= x.i
            GROUP BY 1, 2
        ),
        covu AS (
            SELECT a.i, a.j,
                   CAST(floor(CAST(a.a AS DOUBLE) / bi.n
                              - (CAST(bi.bv AS DOUBLE) / bi.n)
                              * (CAST(bj.bv AS DOUBLE) / bi.n)
                              + 0.5) AS BIGINT) AS c
            FROM a JOIN b bi ON a.i = bi.i JOIN b bj ON a.j = bj.i
        ),
        sym AS (SELECT i, j, c FROM covu
                UNION ALL SELECT j, i, c FROM covu WHERE i <> j),
        tr AS (SELECT SUM(c)::BIGINT AS trace FROM covu WHERE i = j),
        v0 AS (SELECT list_transform(range(1, {dim + 1}),
                      x -> CAST({v0} AS BIGINT)) AS m),{','.join(rounds)}"""


def _pca_power_oracle(iters: int = PCA_ITERS) -> str:
    dim, quant, vscale = 64, 1_000_000, 100_000
    v0 = 12500  # floor(vscale / sqrt(64) + 0.5)
    rounds, finals = [], []
    for t in range(1, iters + 1):
        rounds.append(f"""
        t{t} AS (
            SELECT j AS top_dim,
                   round(CAST(mv AS DOUBLE) / {vscale}, 6) AS top_loading
            FROM (SELECT u.j AS j, u.mv AS mv
                  FROM (SELECT unnest(list_transform(range(1, {dim + 1}),
                               j -> struct_pack(j := j, mv := m[j]))) AS u
                        FROM v{t}))
            ORDER BY abs(mv) DESC, j LIMIT 1
        ),
        r{t} AS (
            SELECT {t}::BIGINT AS iter,
                   round(num / den / 1000000000000.0, 8) AS lambda_top,
                   round(num / den / CAST(tr.trace AS DOUBLE), 6)
                       AS explained_frac,
                   t{t}.top_dim::BIGINT AS top_dim,
                   t{t}.top_loading AS top_loading
            FROM s{t}, tr, t{t}
        )""")
        finals.append(
            f"SELECT iter, lambda_top, explained_frac, top_dim, top_loading FROM r{t}"
        )
    return f"""
        {_pca_prefix_ctes(iters, dim, quant, vscale, v0)},{','.join(rounds)}
        {' UNION ALL '.join(finals)}
        ORDER BY iter
    """


def q180_abtt_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top anisotropy correction (Mu & Viswanath, ICLR
    2018) APPLIED — the transform the q177 diagnostic motivates: train
    the top principal direction on the persisted covariance stats
    (q179's sidecar — no corpus pass), then score every embedding with
    its signed projection onto that direction and the residual norm
    after removing it. Downstream, cosine over the residual space is
    the corrected similarity; the projection column ranks the vectors
    the dominant direction inflates. Oracle: the shared spectral CTE
    spine through v3, then the same integer inner products.

    Scale (100 TB): training reads O(d²) stored rows; scoring is one
    narrow corpus projection against literal (mean, direction) — zero
    shuffle beyond the presentation sort."""
    import math  # noqa: PLC0415

    from spark_nnd_spark.operators.clustering import (  # noqa: PLC0415
        abtt_scores,
        cov_from_stats,
        cov_state_dir,
        top_eigen_vector,
    )

    path = _cov_stats_for(spark, sf_dir)
    v = top_eigen_vector(cov_from_stats(spark, path), dim=64, iters=PCA_ITERS)
    state = cov_state_dir(spark, path)
    first = spark.read.parquet(f"{state}/first").orderBy("i").collect()
    mu = [int(math.floor(float(r["b"]) / r["n"] + 0.5)) for r in first]
    emb = load_table(spark, sf_dir, "embeddings")
    return abtt_scores(emb, mu, v).orderBy("vec_id")


def _abtt_oracle(iters: int = PCA_ITERS) -> str:
    dim, quant, vscale = 64, 1_000_000, 100_000
    scale_pv = float(quant) * float(vscale)   # proj rescale
    scale_n2 = float(quant) * float(quant)    # norm² rescale
    return f"""
        {_pca_prefix_ctes(iters, dim, quant, vscale, 12500)},
        mu AS (
            SELECT list(CAST(floor(CAST(bv AS DOUBLE) / n + 0.5) AS BIGINT)
                        ORDER BY i) AS mv
            FROM b
        ),
        scored AS (
            SELECT t.vec_id,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> (t.q[i] - mu.mv[i]) * v{iters}.m[i])) AS pi,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> (t.q[i] - mu.mv[i]) * (t.q[i] - mu.mv[i]))) AS n2
            FROM t, mu, v{iters}
        )
        SELECT vec_id,
               round(CAST(pi AS DOUBLE) / {scale_pv}, 6) AS proj,
               round(sqrt(greatest(
                   CAST(n2 AS DOUBLE) / {scale_n2}
                   - (CAST(pi AS DOUBLE) / {scale_pv})
                   * (CAST(pi AS DOUBLE) / {scale_pv}), 0.0)), 6)
                   AS resid_norm
        FROM scored ORDER BY vec_id
    """


def q185_spectrum2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-2 SPECTRUM via power iteration + Hotelling deflation — the
    effective-dimensionality table (how concentrated is the embedding
    space: two dominant directions vs a flat spectrum changes whether
    all-but-the-top should remove 1 or k components). Component 1 is
    q177's loop on the stats-served matrix; the matrix is then
    deflated by λ₁·v₁v₁ᵀ/v₁ᵀv₁ (operators/clustering.deflate — exact
    integer vᵀv, deterministic correction) and the same loop extracts
    component 2. Per component: (component, lambda_top,
    explained_frac vs the ORIGINAL trace) — both recomputed from the
    8dp eigenvalue so the two engines agree by construction.

    Scale: everything after the (already-persisted) moment stats is
    O(d²) arithmetic — two loops over 4096-row matrices."""
    from spark_nnd_spark.operators.clustering import (  # noqa: PLC0415
        _power_loop,
        cov_from_stats,
        deflate,
    )

    path = _cov_stats_for(spark, sf_dir)
    cov = cov_from_stats(spark, path).localCheckpoint(eager=True)
    trace_row = cov.filter("i = j").agg(F.sum("c").alias("trace"))

    rows = []
    cur = cov
    for comp in (1, 2):
        per, m = _power_loop(cur, 64, PCA_ITERS, 100_000)
        last = per[-1].localCheckpoint(eager=True)
        rows.append(
            last.crossJoin(trace_row).select(
                F.lit(comp).cast("long").alias("component"),
                "lambda_top",
                F.round(
                    F.col("lambda_top")
                    * F.lit(1.0e12)
                    / F.col("trace").cast("double"),
                    6,
                ).alias("explained_frac"),
            )
        )
        if comp == 1:
            lam_d = float(last.collect()[0]["lambda_top"]) * 1.0e12
            cur = deflate(cov, m, lam_d).localCheckpoint(eager=True)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("component")


def _spectrum2_oracle(iters: int = PCA_ITERS) -> str:
    dim, quant, vscale = 64, 1_000_000, 100_000
    rounds2 = []
    prev_v = "v0"
    for t in range(1, iters + 1):
        rounds2.append(_power_round_ctes(t, prev_v, vscale, sym="defl", tag="b"))
        prev_v = f"vb{t}"
    vtv = f"""(SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(m, x -> x * x)), (a, b) -> a + b) AS vtv
               FROM v{iters})"""
    return f"""
        {_pca_prefix_ctes(iters, dim, quant, vscale, 12500)},
        lam1 AS (
            SELECT round(num / den / 1000000000000.0, 8) AS l FROM s{iters}
        ),
        defl AS (
            SELECT s.i, s.j,
                   s.c - CAST(floor(
                       l.l * 1000000000000.0
                       * CAST(v.m[s.i] AS DOUBLE)
                       * CAST(v.m[s.j] AS DOUBLE)
                       / CAST(t2.vtv AS DOUBLE) + 0.5) AS BIGINT) AS c
            FROM sym s, lam1 l, v{iters} v, {vtv} t2
        ),{','.join(rounds2)},
        lam2 AS (
            SELECT round(num / den / 1000000000000.0, 8) AS l FROM sb{iters}
        )
        SELECT 1::BIGINT AS component, l AS lambda_top,
               round(l * 1000000000000.0 / CAST(tr.trace AS DOUBLE), 6)
                   AS explained_frac
        FROM lam1, tr
        UNION ALL
        SELECT 2::BIGINT, l,
               round(l * 1000000000000.0 / CAST(tr.trace AS DOUBLE), 6)
        FROM lam2, tr
        ORDER BY component
    """


# One covariance-stats sidecar per (session, sf_dir) — the q25/_nnd_graph
# session-cache convention (build once, every spectrum probe reuses it).
_COVSTATS_CACHE: dict[tuple[str, str], str] = {}


def _cov_stats_for(spark: SparkSession, sf_dir: str) -> str:
    from spark_nnd_spark.operators.clustering import build_cov_stats  # noqa: PLC0415
    from spark_nnd_spark.session import session_scratch_dir  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COVSTATS_CACHE:
        path = session_scratch_dir("cov_stats_")
        build_cov_stats(load_table(spark, sf_dir, "embeddings"), path, dim=64)
        _COVSTATS_CACHE[key] = path
    return _COVSTATS_CACHE[key]


def q179_indexed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q177's power-iteration spectrum served from the PERSISTED
    mergeable covariance statistics (operators/clustering.
    build_cov_stats — the 8th index family, and the only ALGEBRAIC
    one: stored exact integer sums make extend addition and retraction
    subtraction, with extend == fresh-rebuild EXACT, not approximate —
    tested in test_cov_stats.py). The probe reads O(d²) stored rows
    and never rescans the corpus — how a continuously-ingesting
    pipeline keeps an up-to-date anisotropy dashboard without paying
    a corpus pass per refresh. Shares q177's oracle: index-served ==
    inline is itself the assertion (the q159/q161 convention)."""
    from spark_nnd_spark.operators.clustering import (  # noqa: PLC0415
        cov_from_stats,
        top_eigen_power,
    )

    path = _cov_stats_for(spark, sf_dir)
    return top_eigen_power(cov_from_stats(spark, path), dim=64, iters=PCA_ITERS)


PROTO_FRAC = 0.25  # per-cell prune fraction (the D4 paper's ballpark)


def q208_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, 'Beyond
    neural scaling laws'; the prototype half of D4, Tirumala et al.
    2023): assign every embedding to its nearest fixed centroid (the
    q67/q138 literal-replay convention), rank within each cell by
    cosine to the centroid DESC (most prototypical first), and DROP
    the top PROTO_FRAC of each cell — the easiest, most redundant
    examples, which beats random pruning in the data-rich regime.
    Output is the per-vector verdict with full provenance (cell,
    rounded prototypicality, in-cell rank, keep).

    Scale (100 TB): the assignment is the same narrow Arrow-batched
    literal-centroid map every IVF/SemDeDup tier uses (no shuffle);
    the only exchange is cell-keyed, and each ranking window is
    bounded by cell occupancy — the identical fan-out bound the IVF
    index enforces for search. No pairwise stage at all (unlike
    SemDeDup): pruning is O(N log cell) overall."""
    from pyspark.sql import Window  # noqa: PLC0415

    from spark_nnd_spark.functions.numeric import round_half_up_expr
    from spark_nnd_spark.operators.similarity import (  # noqa: PLC0415
        _as_double,
        _cell_dots_udf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fixed_centroids(64, 16, 42)
    dots = _cell_dots_udf(cents)
    a = (
        emb.select("vec_id", _as_double("embedding").alias("__v"))
        .withColumn("__d", dots("__v"))
        .select(
            "vec_id",
            F.expr("array_position(__d, array_max(__d)) - 1").alias("cell"),
            round_half_up_expr(F.array_max("__d")).alias("cos_c"),
        )
    )
    w = Window.partitionBy("cell").orderBy(F.desc("cos_c"), "vec_id")
    wc = Window.partitionBy("cell")
    return (
        a.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("n_cell", F.count("*").over(wc))
        .withColumn(
            "keep",
            F.col("rank") > F.floor(F.col("n_cell") * F.lit(PROTO_FRAC)),
        )
        .select("vec_id", "cell", "cos_c", "rank", "keep")
        .orderBy("vec_id")
    )


def _prototype_prune_oracle() -> str:
    """q208 replay: q138's literal centroid assignment, per-cell rank
    on the 6-digit-rounded prototypicality (rounding pins the ordering
    cross-engine), drop the floor(n_cell * PROTO_FRAC) head."""
    from spark_nnd_spark.functions.numeric import round_half_up_sql

    cents = fixed_centroids(64, 16, 42)

    def cell_dots(v: str) -> str:
        norm = f"greatest(sqrt(list_dot_product({v},{v})), 1e-12)"
        return (
            "["
            + ",".join(
                f"list_dot_product({v}, {_vec_lit(c)}) / {norm}" for c in cents
            )
            + "]"
        )

    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        cd AS (SELECT vec_id, {cell_dots('cv')} AS dots FROM c),
        a AS (
            SELECT vec_id,
                   (list_position(dots, list_max(dots)) - 1)::BIGINT AS cell,
                   {round_half_up_sql('list_max(dots)')} AS cos_c
            FROM cd
        ),
        r AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY cos_c DESC, vec_id) AS rank,
                   COUNT(*) OVER (PARTITION BY cell) AS n_cell
            FROM a
        )
        SELECT vec_id, cell, cos_c, rank::BIGINT AS rank,
               rank > floor(n_cell * {PROTO_FRAC}) AS keep
        FROM r ORDER BY vec_id
    """


KNN_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q24_knn_exact": q24_knn_exact,
    "q25_nnd_graph": q25_nnd_graph,
    "q26_ann_lsh_topk": q26_ann_lsh_topk,
    "q30_ann_ivf_topk": q30_ann_ivf_topk,
    "q33_ann_recall": q33_ann_recall,
    "q59_kmeans_step": q59_kmeans_step,
    "q67_ivf_cells": q67_ivf_cells,
    "q127_ivfpq_topk": q127_ivfpq_topk,
    "q138_semantic_dedup": q138_semantic_dedup,
    "q148_embedding_decontam": q148_embedding_decontam,
    "q143_hard_negatives": q143_hard_negatives,
    "q144_balanced_cells": q144_balanced_cells,
    "q176_preference_pairs": q176_preference_pairs,
    "q177_pca_power": q177_pca_power,
    "q178_kmeans_curve": q178_kmeans_curve,
    "q179_indexed_pca": q179_indexed_pca,
    "q180_abtt_scores": q180_abtt_scores,
    "q185_spectrum2": q185_spectrum2,
    "q199_graph_search": q199_graph_search,
    "q200_graph_search_recall": q200_graph_search_recall,
    "q201_indexed_graph_search": q201_indexed_graph_search,
    "q202_indexed_graph_recall": q202_indexed_graph_recall,
    "q211_extended_graph_recall": q211_extended_graph_recall,
    "q208_prototype_prune": q208_prototype_prune,
}

KNN_ORACLES: dict[str, str] = {
    "q24_knn_exact": f"""
        WITH t AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
            SELECT a.id AS id, b.id AS nb_id,
                   1.0 / (1.0 + sqrt(list_sum(
                       list_transform(range(1, len(a.v) + 1),
                                      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))))
                   AS sim
            FROM t a JOIN t b ON a.id <> b.id
        ),
        ranked AS (
            SELECT id, nb_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, nb_id) AS rank
            FROM pairs
        )
        SELECT id, nb_id, rank, round(sim, 6) AS sim
        FROM ranked WHERE rank <= {K} ORDER BY id, rank
    """,
    "q33_ann_recall": _ann_recall_oracle(),
    "q59_kmeans_step": _kmeans_oracle(),
    "q67_ivf_cells": _ivf_cells_oracle(),
    "q127_ivfpq_topk": _ivfpq_oracle(),
    "q138_semantic_dedup": _semantic_dedup_oracle(),
    "q148_embedding_decontam": _embedding_decontam_oracle(),
    "q208_prototype_prune": _prototype_prune_oracle(),
    "q143_hard_negatives": _hard_negatives_oracle(),
    "q144_balanced_cells": _balanced_cells_oracle(),
    "q176_preference_pairs": _preference_pairs_oracle(),
    "q177_pca_power": _pca_power_oracle(),
    "q178_kmeans_curve": _kmeans_curve_oracle(),
    # index-served twin: the persisted-stats spectrum must equal the
    # inline q177 computation exactly (integer sums are associative)
    "q179_indexed_pca": _pca_power_oracle(),
    "q180_abtt_scores": _abtt_oracle(),
    "q185_spectrum2": _spectrum2_oracle(),
    # q199/q201 are rows-only (iterative seeded artifact); q200/q202
    # are their hash-checked grades.
    "q200_graph_search_recall": _graph_search_recall_oracle(),
    "q202_indexed_graph_recall": _indexed_graph_recall_oracle(),
    "q211_extended_graph_recall": _extended_graph_recall_oracle(),
}
