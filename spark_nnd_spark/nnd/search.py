"""Graph-served ANN search: greedy best-first (beam) search over a
built K-NN graph for out-of-corpus query vectors — serving queries
from the reference's own output, the K-NN graph (NND.scala:66), in
the HNSW/NSW manner (Malkov & Yashunin 2016).

Algorithm (best-first with an ``ef``-bounded candidate pool):

- seed every query with its ``n_entry`` nearest anchors PER GRAPH
  PARTITION, the partition's ``n_anchors`` rows with the smallest
  ``xxhash64(id, seed)`` draw: the graph has no cross-``partition``
  edges (NND.scala:296-306), so per-partition seeding is what makes
  every walled component reachable. With ``n_anchors = n_entry``
  (flat seeding) every query seeds from the same draws, and
  ``n_entry`` is the coverage knob for NATURAL components (one per
  well-separated cluster): size it to the expected cluster count, as
  a missed component is ~((C-1)/C)^n_entry rare for C same-sized
  clusters. A larger anchor sample (the HNSW upper-layer move) lets
  each query start near its own region at small ``n_entry``;
- iterate: expand the best ``beam`` unexpanded candidates, score
  their neighbors against the query, keep the top-``ef`` pool; stop
  when no pool entry is unexpanded or after ``max_iterations`` hops;
- return the pool's top-k; scores are exact, so no rerank pass.

Similarity is the graph's metric ``1 / (1 + ||q - x||_2)``, summed
left to right in float64 as Spark's ``aggregate(zip_with(...))``
does, so scores equal the SQL metric's to the last bit. Expansion is
UNDIRECTED (out- ∪ reverse neighbors, NN-Descent's B(v) ∪ R(v)): a
node freshly folded in by ``update_graph`` has no in-edges, so a
directed walk could never reach it. The walker derives reverse edges
and its anchors from the rows it holds, so a listed id that is not a
row (a masked or retracted node) is dropped, and an anchor that is not
a row is replaced by the next-ranked one.

Execution: a walk never leaves its partition, so a batch is one Arrow
cogroup — the graph's rows grouped by ``partition`` on one side, the
queries crossed with the partition list on the other, one numpy walk
per query in the partition's Python call — and one window by
``query_id`` merges the local top-k lists. Each partition keeps its
OWN ``ef`` pool, so on a graph of P partitions a query walks P times.
When partitions leave cores idle, a partition's queries are split
into chunks, one task and one copy of the partition each
(:func:`_query_chunks`).

Cost: a query scores O(P · iterations · beam · K) candidates; per
BATCH every stored row crosses one exchange into its walker, so a
probe's shuffle and scan are O(corpus); the job count does not depend
on the hop count. Memory bound: a walker holds a whole graph
partition (:func:`_check_worker_memory`, raised while the search is
planned when ``spark.executor.pyspark.memory`` caps the workers).
``normalize_points`` puts every row in partition 0 by default, which
caps a searchable corpus at one worker's memory: give a large corpus
more partitions. Measured (ROADMAP item 3) on graphs of at most
80,000 rows of at most 32 dims, one to eight partitions, and batches
of up to 2,000 queries.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.rdd import _parse_memory
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_nnd_spark.functions.vector import l2_distance_expr
from spark_nnd_spark.nnd.descent import _float_matrix
from spark_nnd_spark.schemas import InvalidPointsError, has_non_finite


def _sim(q: str, x: str):
    return F.lit(1.0) / (F.lit(1.0) + l2_distance_expr(q, x))


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
    n_anchors: int | None = None,
) -> DataFrame:
    """Top-k nearest stored neighbors of each query vector, served by
    greedy best-first search over ``graph`` (a ``build_graph`` /
    ``update_graph`` result: id, features, partition, neighbors). Rows
    masked out of ``graph`` can neither seed nor surface, and stale
    in-list references to them are dropped.

    Each partition's anchors are its ``n_anchors`` rows (default
    ``n_entry``) with the smallest ``xxhash64(id, seed)`` draw, ties by
    id: stable across runs, rotating with ``seed``, and drawn from the
    rows of ``graph`` alone. Every query seeds from its partition's
    ``min(n_entry, ef)`` NEAREST anchors. At the default every query
    seeds from the same draws, which needs n_entry ≈ the component
    count for coverage (BENCH_GS_SWEEP: recall 0.19@16 → 1.0@256 on 64
    clusters); a larger ``n_anchors`` (a COARSE ENTRY LAYER, the HNSW
    upper-layer move) reaches that recall at small n_entry for an
    O(n_anchors·Q) scoring pass per partition.

    Query vectors holding a null, NaN or infinite element, of ragged
    lengths, or of a dimension other than the stored vectors' raise
    ``InvalidPointsError``, and a graph partition too large for one
    Python worker raises ``MemoryError``, before the search runs: one
    small aggregate over the queries, and the stored sizes ride on the
    aggregate that lists the graph's partitions.

    Returns (query_id, nb_id, rank, sim), rank 1..k by sim desc / id
    asc — ties broken exactly like the graph build.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("q_vec"),
    )
    parts = graph.groupBy("partition").agg(
        F.count("*").alias("n"),
        F.min(F.size("features")).alias("lo"),
        F.max(F.size("features")).alias("hi"),
        F.max(F.size("neighbors")).alias("k"),
    ).collect()
    n_q = _check_queries(q, {d for r in parts for d in (r.lo, r.hi)})
    sc = graph.sparkSession.sparkContext
    _check_worker_memory(parts, sc.getConf())
    n_chunks = _query_chunks(
        parts, n_q, max_iterations * beam, sc.defaultParallelism
    )
    part_t = graph.schema["partition"].dataType
    q = q.withColumn(
        "partition",
        F.explode(F.array(*[F.lit(r.partition).cast(part_t) for r in parts])),
    ).withColumn("chunk", F.pmod(F.xxhash64("query_id"), F.lit(n_chunks)).cast("int"))
    # every chunk gets its own copy of the partition's rows
    rows = graph.select(
        "id",
        F.col("features").cast("array<double>").alias("features"),
        "partition",
        F.transform("neighbors", lambda s: s["id"]).alias("nb_ids"),
        F.xxhash64("id", F.lit(seed)).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
    )
    key = ("partition", "chunk")
    local = rows.groupBy(*key).cogroup(q.groupBy(*key)).applyInArrow(
        _walk_kernel(
            k, ef, beam, n_entry, n_entry if n_anchors is None else n_anchors,
            max_iterations,
        ),
        f"query_id {q.schema['query_id'].dataType.simpleString()}, "
        "nb_id long, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("nb_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nb_id", "rank", "sim")
    )


def _check_queries(q: DataFrame, stored_dims: set) -> int:
    """Raise ``InvalidPointsError`` for query vectors the walk cannot
    score: null, NaN or infinite elements, ragged lengths, or a length
    other than the stored vectors' (``stored_dims``, empty for an empty
    graph). One aggregate job over the queries; returns their count."""
    st = q.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("q_vec").isNull() | has_non_finite("q_vec"), 1).otherwise(0)
        ).alias("bad"),
        F.min(F.size("q_vec")).alias("lo"),
        F.max(F.size("q_vec")).alias("hi"),
    ).first()
    if st.bad:
        raise InvalidPointsError(
            f"{st.bad} query vectors are null or hold a NaN, infinite or null value"
        )
    dims = {d for d in (st.lo, st.hi) if d is not None}
    stored_dims = {d for d in stored_dims if d is not None}
    if len(dims) > 1 or (dims and stored_dims and dims != stored_dims):
        raise InvalidPointsError(
            f"query vectors of length {sorted(dims)} against stored vectors "
            f"of length {sorted(stored_dims)}"
        )
    return st.n


def _check_worker_memory(parts: list, conf) -> None:
    """Raise ``MemoryError`` when a graph partition's walker would not
    fit one Python worker: Spark caps each at
    ``spark.executor.pyspark.memory`` / ``spark.executor.cores``, and
    none when that memory is not set. A walker peaks at about three
    float64 copies of each vector and sixteen int64 words per listed
    neighbor (measured on synthetic partitions of 20,000-60,000 rows)."""
    mem = conf.get("spark.executor.pyspark.memory", None)
    if mem is None:
        return
    budget = (_parse_memory(mem) << 20) // int(conf.get("spark.executor.cores", "1"))
    for r in parts:
        need = 8 * r.n * (3 * (r.hi or 0) + 16 * max(r.k or 0, 0))
        if need > budget:
            raise MemoryError(
                f"graph partition {r.partition} holds {r.n} rows: its search "
                f"walker needs about {need >> 20} MiB, over the {budget >> 20} MiB "
                "of one Python worker; split the graph into more partitions"
            )


def _query_chunks(parts: list, n_q: int, hop_work: int, cores: int) -> int:
    """How many tasks each partition's queries are split across. A
    chunk is a task with its own copy of the partition, so chunks only
    take idle cores, and only while a chunk's walk work (queries ×
    ``hop_work`` × K scored candidates) outweighs its copy: a row
    shipped to a walker costs about 64 scored candidates (measured on
    20,000 16-dim rows: ~27 µs a row, ~0.4 µs a candidate)."""
    n = max((r.n for r in parts), default=1)
    k = max((r.k or 0 for r in parts), default=0)
    return max(1, min(cores // max(len(parts), 1), n_q * hop_work * k // (64 * n)))


def _sims(x: np.ndarray, qv: np.ndarray) -> np.ndarray:
    """``1/(1+L2)`` of every row of ``x`` against every query of ``qv``
    as a (len(qv), len(x)) matrix. The squared differences are summed
    left to right in float64, as Spark's ``aggregate(zip_with(...))``
    does; numpy's pairwise ``sum`` would differ in the last bit."""
    acc = np.zeros((len(qv), len(x)))
    for d in range(x.shape[1]):
        diff = qv[:, d, None] - x[None, :, d]
        acc += diff * diff
    return 1.0 / (1.0 + np.sqrt(acc))


def _large(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """A list column with 64-bit offsets, so one partition's lists can
    combine into one array past 2^31 values."""
    return col.cast(pa.large_list(col.type.value_type))


def _walk_kernel(
    k: int, ef: int, beam: int, n_entry: int, n_anchors: int, max_iterations: int
):
    """One graph partition's walker: ``rows`` holds the partition's
    graph rows (id, features, nb_ids, h), ``qs`` one chunk of the query
    batch (query_id, q_vec). The anchors are the ``n_anchors`` rows of
    smallest (h, id). Every query runs its whole walk here; returns
    each query's local top-k as (query_id, nb_id, sim).

    Rows are sorted by id, so a row index orders like its id and one
    ``np.lexsort`` on (index, -sim) ranks by (sim desc, id asc). A
    pool is kept in that order, so its unexpanded entries are already
    ranked for the next frontier."""

    def kernel(rows: pa.Table, qs: pa.Table) -> pa.Table:
        none = np.empty(0, np.int64)
        out_q, out_nb, out_sim = [none], [none], [np.empty(0)]
        if rows.num_rows and qs.num_rows:
            ids = rows.column("id").to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            x = _float_matrix(_large(rows.column("features")))[order]
            n = len(ids)
            pos_of = np.empty(n, np.int64)
            pos_of[order] = np.arange(n)
            nb = _large(rows.column("nb_ids")).combine_chunks()
            src = pos_of[np.repeat(
                np.arange(n), pc.list_value_length(nb).fill_null(0).to_numpy()
            )]
            dst = pc.list_flatten(nb).to_numpy()
            at = np.minimum(np.searchsorted(ids, dst), n - 1)
            keep = ids[at] == dst  # a dangling id is not among the rows
            src, dst = src[keep], at[keep]
            # undirected adjacency (out-neighbors ∪ reverse), as CSR
            a, b = np.r_[src, dst], np.r_[dst, src]
            by = np.argsort(a, kind="stable")
            adj = b[by]
            ptr = np.r_[0, np.cumsum(np.bincount(a, minlength=n))]
            h = rows.column("h").to_numpy()[order]
            anchors = np.lexsort((ids, h))[:n_anchors]  # smallest (h, id)
            qv = _float_matrix(qs.column("q_vec"))
            seed_sims = _sims(x[anchors], qv)
            for qi in range(len(qv)):
                top = np.lexsort((anchors, -seed_sims[qi]))[: min(n_entry, ef)]
                pool, psim = anchors[top], seed_sims[qi][top]
                done = np.zeros(len(pool), bool)
                for _ in range(max_iterations):
                    front = np.flatnonzero(~done)[:beam]
                    if not len(front):
                        break
                    done[front] = True
                    cand = np.unique(
                        np.concatenate([adj[ptr[v] : ptr[v + 1]] for v in pool[front]])
                    )
                    cand = cand[~np.isin(cand, pool)]
                    if not len(cand):
                        continue
                    pool = np.r_[pool, cand]
                    psim = np.r_[psim, _sims(x[cand], qv[qi : qi + 1])[0]]
                    done = np.r_[done, np.zeros(len(cand), bool)]
                    keep = np.lexsort((pool, -psim))[:ef]
                    pool, psim, done = pool[keep], psim[keep], done[keep]
                out_q.append(np.full(min(k, len(pool)), qi))
                out_nb.append(ids[pool[:k]])
                out_sim.append(psim[:k])
        return pa.table({
            "query_id": qs.column("query_id").take(pa.array(np.concatenate(out_q))),
            "nb_id": np.concatenate(out_nb),
            "sim": np.concatenate(out_sim),
        })

    return kernel


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
