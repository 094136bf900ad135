"""NN-Descent approximate K-NN graph construction — Spark-first.

Re-expresses ``NND.buildGraph`` (NND.scala:66-283; Dong et al. WWW'11 via
Warashina's MapReduce adaptation) on DataFrames. Semantics preserved:

- deterministic per-point bucket init seeded by a feature hash
  (NND.scala:87-93), buckets namespaced per ``partition`` so neighbors
  never cross partitions (NND.scala:91,296-306);
- per-iteration dataflow B(v) → R(v) → sampled R(v) → A(v) → local join
  → top-K merge with B-preference dedup (NND.scala:117-249);
- convergence when ``updated ≤ early_termination * K * N``
  (NND.scala:259-262), with ``updated`` counted exactly by the
  iteration's checkpoint job, in its result stage, where Spark applies
  each partition's count once even when a task is retried — not by a
  task-side accumulator (SURVEY.md §4 defect 1);
- ``finished`` rows skipped and returned with null neighbors
  (NND.scala:71,277); left-join result assembly (NND.scala:265-282).

Deliberate, documented improvements over the reference (SURVEY.md §4):
seeded randomness everywhere (defect 2), ascending-id tie-break in top-K
(defect 3), up-front input validation instead of mid-shuffle asserts
(defect 4), and a *real* incremental search — the reference declares the
old/new flag but never branches on it (NND.scala:49-51, SURVEY.md §1.3);
here old-old pairs are pruned from the local join, which is the actual
NN-Descent optimization from the paper.

Scale design (the thesis's point, preserved by construction —
SURVEY.md §4 "minimal feature shipping"):

- candidate messages between groups carry only (id, id, similarity) —
  features NEVER ride on the O(N·K̄²) candidate stream;
- the local join runs per BLOCK, not per group: groups are hashed into
  ``n_blocks`` blocks (about one per shuffle partition, more only when a
  block would exceed ``_BLOCK_BYTES`` of vectors), and a feature vector
  ships once per (block, member) pair — one copy however many of the
  block's groups A(v) hold it, instead of one copy per group;
- each block is ONE Arrow call (``cogroup(...).applyInArrow``): the id
  rows and the block's distinct member vectors arrive as two Arrow
  tables, and the O(|A(v)|²) pairwise scoring runs group by group in
  numpy (BLAS matmul) inside it — pairs are never materialized as
  shuffle rows;
- per-iteration ``localCheckpoint`` truncates the growing logical plan
  (SURVEY.md A13 — the one thing the DataFrame port needs that the RDD
  version didn't).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_nnd_spark.schemas import InvalidPointsError, normalize_points, validate_points

_CAND_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("nb_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)

_CAND_SCHEMA_ARROW = pa.schema(
    [("id", pa.int64()), ("nb_id", pa.int64()), ("sim", pa.float64())]
)

# Working-graph neighbor entries carry an `is_new` flag (incremental search).
_WORK_NEIGHBOR = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("similarity", T.DoubleType()),
            T.StructField("is_new", T.BooleanType()),
        ]
    )
)

_OUT_NEIGHBOR = T.ArrayType(
    T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("similarity", T.DoubleType()),
        ]
    )
)


# Expected float32 vector bytes one block of the local join may receive.
# Blocks are sized from an upper bound on the join's (v, member) rows —
# every active node's K forward, ≤ K sampled-reverse (on average) and one
# self row — so one Python worker holds at most about this much feature
# data (plus its float64 copy) at a time, however large the corpus.
_BLOCK_BYTES = 64 << 20


def _n_parts(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _join_blocks(spark: SparkSession, n_active: int, dim: int, k: int) -> int:
    """Number of local-join blocks: one per shuffle partition (the work
    spreads over every task slot, and each vector ships once per block,
    so fewer blocks ship less), more when a block's share of the
    ``n_active·(2K+1)`` member vectors would exceed ``_BLOCK_BYTES``;
    never more than there are groups."""
    n_parts = _n_parts(spark)
    need = math.ceil(n_active * (2 * k + 1) * max(dim, 1) * 4 / _BLOCK_BYTES)
    return max(1, min(max(n_parts, need), n_active))


def _murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashLong`` — the hash behind ``F.hash``
    and ``HashPartitioning`` for a single BIGINT key."""
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    def mix(h1: int, k1: int) -> int:
        k1 = rotl((k1 * 0xCC9E2D51) & mask, 15)
        h1 ^= (k1 * 0x1B873593) & mask
        return (rotl(h1, 13) * 5 + 0xE6546B64) & mask

    h = mix(mix(seed, value & mask), (value >> 32) & mask) ^ 8
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & mask
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def _block_of(key: str, n_blocks: int, n_parts: int):
    """Block label of each row: ``pmod(xxhash64(key), n_blocks)`` mapped
    to a label that Spark's hash partitioning over ``n_parts`` partitions
    sends to partition ``block % n_parts``. Plain labels 0..n-1 collide
    (4 blocks hash onto 3 of 4 partitions, 2 onto 1), which would leave
    task slots idle while others run two blocks."""
    labels, pools, c = [], [[] for _ in range(n_parts)], 0
    for b in range(n_blocks):
        while not pools[b % n_parts]:  # pools[p]: unused ints hashed to p
            pools[_murmur3_long(c) % n_parts].append(c)
            c += 1
        labels.append(pools[b % n_parts].pop(0))
    idx = (F.pmod(F.xxhash64(key), F.lit(n_blocks)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(x).cast("long") for x in labels]), idx)


def _float_matrix(col) -> np.ndarray:
    """An Arrow ``list<float>`` (``list<double>``) column as an (n, dim)
    float32 (float64) matrix. Every list must be non-null and of one
    length: ragged vectors raise ``InvalidPointsError`` — never a
    reshape of data whose total length happens to divide evenly."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if len(arr) == 0:
        return np.empty((0, 0), np.float32)
    span = pc.min_max(pc.list_value_length(arr))
    lo, hi = span["min"].as_py(), span["max"].as_py()
    if arr.null_count or lo != hi:
        raise InvalidPointsError(
            "feature vectors must be non-null and of one length; got "
            f"{arr.null_count} null and lengths {lo}..{hi}"
        )
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr), hi)


def _cand_table(parts: list) -> pa.Table:
    """A block's (id, nb_id, sim) candidate arrays as one Arrow table."""
    if not parts:
        return _CAND_SCHEMA_ARROW.empty_table()
    ids, nbs, sims = (np.concatenate(c) for c in zip(*parts))
    return pa.table({"id": ids, "nb_id": nbs, "sim": sims})


def _init_kernel(seed: int, k: int):
    """Per-bucket random init (NND.scala:95-102), one call per block of
    buckets: each member samples K neighbors with replacement, scores
    them, drops self-edges. Seeded by (seed, bucket) → deterministic,
    unlike the reference's global Random. A stable sort by bucket keeps
    each bucket's members in arrival order, so the draws index the same
    members as a one-call-per-bucket kernel would."""

    def kernel(tbl: pa.Table) -> pa.Table:
        buckets = tbl.column("bucket").to_numpy()
        order = np.argsort(buckets, kind="stable")
        all_ids = tbl.column("id").to_numpy()
        all_feats = _float_matrix(tbl.column("features"))
        cuts = np.flatnonzero(np.diff(buckets[order])) + 1
        parts = []
        for rows in np.split(order, cuts):
            m = len(rows)
            if m < 2:
                continue
            bucket = int(buckets[rows[0]])
            ids = all_ids[rows]
            feats = all_feats[rows].astype(np.float64)
            rng = np.random.default_rng([seed & 0x7FFFFFFF, bucket & 0x7FFFFFFFFFFF])
            # K draws with replacement per member (reference semantics).
            draws = rng.integers(0, m, size=(m, k))
            src = np.repeat(np.arange(m), k)
            dst = draws.ravel()
            mask = src != dst
            src, dst = src[mask], dst[mask]
            if len(src) == 0:
                continue
            diff = feats[src] - feats[dst]
            sims = 1.0 / (1.0 + np.sqrt((diff * diff).sum(axis=1)))
            parts.append((ids[src], ids[dst], sims))
        return _cand_table(parts)

    return kernel


def _join_group(uniq, new_u, feats, thr, cap: int):
    """The NN-Descent local join (NND.scala:200-217) for one adjacency
    group A(v) of ``m`` distinct members (``uniq`` ascending): score all
    pairs (u, p), u != p, where at least one endpoint is new (incremental
    search), and emit id-only candidate messages to both endpoints —
    pruned here so the candidate shuffle stays O(K) per node instead of
    O(|A(v)|):

    - **threshold prune**: a candidate scoring strictly below the target
      node's current K-th neighbor similarity (``thr``, one scalar per
      member) cannot displace anything in the merge's top-K — equal
      scores are kept, since the ascending-id tie-break can still admit
      them;
    - **top-2K truncation** (``cap``) per target node within the group:
      dedup in the merge collapses a candidate onto an existing B-entry
      (same (id, nb_id)) rather than adding a row, and at most K of the
      2K better-ranked candidates can collapse that way, so ≥ K distinct
      better entries always remain — a candidate ranked past 2K can
      never reach the final top-K. Rank order (sim desc, id asc) matches
      the merge's, so truncation is exact, not approximate.
    """
    m = len(uniq)
    new_idx = np.flatnonzero(new_u)
    n_new = len(new_idx)
    a = feats[new_idx]
    # pairwise squared L2: ||a||² + ||b||² - 2ab (BLAS matmul)
    d2 = (
        (a * a).sum(axis=1)[:, None]
        + (feats * feats).sum(axis=1)[None, :]
        - 2.0 * (a @ feats.T)
    )
    np.maximum(d2, 0.0, out=d2)
    sims = 1.0 / (1.0 + np.sqrt(d2))  # (n_new, m)
    sims[np.arange(n_new), new_idx] = -np.inf  # no self-edges

    out = []
    # Row side: a new node's candidates are all other members. `uniq` is
    # ascending, so a stable argsort on -sim realizes the merge's exact
    # (sim desc, id asc) order.
    kk = min(cap, m - 1)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    rsims = np.take_along_axis(sims, order, axis=1)
    rmask = np.isfinite(rsims) & (rsims >= thr[new_idx][:, None])
    if rmask.any():
        rows = np.broadcast_to(np.arange(n_new)[:, None], rmask.shape)[rmask]
        out.append((uniq[new_idx[rows]], uniq[order[rmask]], rsims[rmask]))

    # Column side: old members receive candidates only from new rows
    # (new members were already served by their own row above).
    old_idx = np.flatnonzero(~new_u)
    if len(old_idx):
        csims = sims[:, old_idx]  # (n_new, n_old); new_idx ascending
        kk2 = min(cap, n_new)
        order2 = np.argsort(-csims, axis=0, kind="stable")[:kk2, :]
        cs = np.take_along_axis(csims, order2, axis=0)
        cmask = np.isfinite(cs) & (cs >= thr[old_idx][None, :])
        if cmask.any():
            cols = np.broadcast_to(np.arange(len(old_idx))[None, :], cmask.shape)[cmask]
            out.append((uniq[old_idx[cols]], uniq[new_idx[order2[cmask]]], cs[cmask]))
    return out


def _local_join_block(k: int):
    """One block of the local join: ``rows`` holds the block's raw
    (v, member, is_new) id rows, ``feats`` each distinct member's vector
    and ``kth_sim`` once. Members repeat within a group (forward ∪
    sampled-reverse ∪ self); they are deduped here, keeping `new` if any
    copy was new, and a member without a vector is dropped, as an inner
    join to the active points would drop it."""
    cap = 2 * k

    def kernel(rows: pa.Table, feats: pa.Table) -> pa.Table:
        fid = feats.column("member").to_numpy()
        forder = np.argsort(fid, kind="stable")
        fid = fid[forder]
        fmat = _float_matrix(feats.column("member_features"))
        kth = feats.column("kth_sim").to_numpy()
        v = rows.column("v").to_numpy()
        mem = rows.column("member").to_numpy()
        isnew = rows.column("is_new").to_numpy(zero_copy_only=False)
        pos = np.minimum(np.searchsorted(fid, mem), max(len(fid) - 1, 0))
        keep = (fid[pos] == mem) if len(fid) else np.zeros(len(mem), bool)
        v, mem, isnew, pos = v[keep], mem[keep], isnew[keep], pos[keep]
        # dedup (v, member), OR-ing the is_new flags of the copies
        order = np.lexsort((mem, v))
        v, mem, isnew, pos = v[order], mem[order], isnew[order], pos[order]
        first = np.flatnonzero(np.r_[True, (v[1:] != v[:-1]) | (mem[1:] != mem[:-1])])
        if len(first) == 0:
            return _cand_table([])
        isnew = np.logical_or.reduceat(isnew, first)
        v, mem, frow = v[first], mem[first], forder[pos[first]]
        starts = np.flatnonzero(np.r_[True, v[1:] != v[:-1]])
        parts = []
        for s, e in zip(starts, np.r_[starts[1:], len(v)]):
            if e - s < 2 or not isnew[s:e].any():
                continue
            g = frow[s:e]
            parts += _join_group(
                mem[s:e], isnew[s:e], fmat[g].astype(np.float64), kth[g], cap
            )
        return _cand_table(parts)

    return kernel


def _local_join(
    adj: DataFrame, feats_iter: DataFrame, k: int, n_blocks: int,
    broadcast_pairs: bool = False,
) -> DataFrame:
    """A11, the local join, for both descent loops: ``adj`` (v, member,
    is_new) raw id rows, duplicates allowed; ``feats_iter`` (member,
    member_features, kth_sim). Groups hash into ``n_blocks`` blocks; the
    id rows exchange by block, each block's distinct members pick up
    their vectors, and one Arrow call per block scores every group in
    it. Returns the id-only candidate stream (id, nb_id, sim).

    Each vector crosses one exchange, into its blocks. The dense loop
    caches ``feats_iter`` hash-partitioned by member, and the (block,
    member) pairs exchange by member to meet it there. The sparse loop,
    whose vectors sit in no particular partition, broadcasts its
    O(touched) pairs instead (``broadcast_pairs``) while they are small."""
    n_parts = _n_parts(adj.sparkSession)
    block = _block_of("v", n_blocks, n_parts)
    # The cogroup's own exchange by block is left to AQE: a small
    # (incremental) join coalesces into few tasks and Python workers.
    rows = adj.withColumn("block", block)
    # Fresh names on the vector side: both sides derive from one plan,
    # and a cogroup over same-named attributes trips the self-join check.
    pairs = adj.select(block.alias("fblock"), F.col("member").alias("fmember"))
    pairs = (
        F.broadcast(pairs.distinct())
        if broadcast_pairs
        else pairs.repartition(n_parts, "fmember").distinct()
    )
    vecs = pairs.join(feats_iter, pairs["fmember"] == feats_iter["member"]).select(
        F.col("fblock").alias("block"), "member", "member_features", "kth_sim"
    )
    return rows.groupBy("block").cogroup(vecs.groupBy("block")).applyInArrow(
        _local_join_block(k), _CAND_SCHEMA
    )


def _merge_top_k(edges: DataFrame, k: int) -> DataFrame:
    """Merge candidate edges into per-node top-K neighbor lists
    (NND.scala:228-243): dedup per (node, candidate) preferring the
    existing-B copy, rank by similarity desc / id asc (deterministic
    tie-break), keep K, assemble a sorted neighbor array.

    ``edges``: (id, nb_id, sim, is_b). Pure Spark SQL — ONE shuffle:
    the up-front repartition by ``id`` satisfies the (id, nb_id)
    dedup's clustering (HashPartitioning on a subset of the grouping
    keys co-locates every group), the rank window's id partitioning,
    AND the trailing groupBy(id). The exchanged stream is the O(N·K̄)
    id-only candidate edges — the merge never ships features.
    """
    dedup = edges.repartition("id").groupBy("id", "nb_id").agg(
        F.max("is_b").alias("is_b"),
        F.max("sim").alias("sim"),  # copies of a pair have identical sims
    )
    w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("nb_id"))
    topk = dedup.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return topk.groupBy("id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("__rn", "nb_id", "sim", "is_b"))
            ),
            lambda s: F.struct(
                s["nb_id"].alias("id"),
                s["sim"].alias("similarity"),
                (~s["is_b"]).alias("is_new"),
            ),
        ).alias("neighbors")
    )


def _merge(b_rows: DataFrame, cands: DataFrame, k: int) -> DataFrame:
    """A7/A12 merge of one round: the current lists of ``b_rows`` (id,
    neighbors), exploded as existing-B edges, with the id-only
    candidate stream ``cands`` (id, nb_id, sim) — see
    :func:`_merge_top_k`."""
    old_edges = b_rows.select("id", F.explode("neighbors").alias("nb")).select(
        "id", F.col("nb.id").alias("nb_id"), F.col("nb.similarity").alias("sim"),
        F.lit(True).alias("is_b"),
    )
    return _merge_top_k(
        old_edges.unionByName(cands.withColumn("is_b", F.lit(False))), k
    )


def _kth_sim(k: int):
    """``kth_sim``: a row's current K-th neighbor similarity, ``-inf``
    while its list holds fewer than K (or none) — one double per member
    that lets the local join prune candidates which cannot enter the
    top-K."""
    return (
        F.when(F.size("neighbors") >= k, F.element_at("neighbors", k)["similarity"])
        .otherwise(F.lit(float("-inf")))
        .alias("kth_sim")
    )


def _with_kth(feats: DataFrame, kth: DataFrame) -> DataFrame:
    """The local join's vector side: (member, member_features) with each
    member's ``kth_sim`` attached, ``-inf`` for members without a row."""
    return feats.join(kth, "member", "left").withColumn(
        "kth_sim", F.coalesce("kth_sim", F.lit(float("-inf")))
    )


def _new_entries(col: str = "neighbors"):
    """A working-schema neighbor array's entries flagged new."""
    return F.filter(col, lambda n: n["is_new"])


def _checkpoint_observing(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """``df`` checkpointed eagerly, with the aggregates ``aggs`` (name →
    column, 0 over no rows). They are an ``Observation`` on the
    checkpoint's own job, not a second job: gathered in that job's
    result stage, where Spark applies each partition's update once
    even when a task is retried, so they are as exact as an
    aggregate."""
    obs = Observation()
    df = df.observe(
        obs, *(F.coalesce(c, F.lit(0)).alias(n) for n, c in aggs.items())
    ).localCheckpoint(eager=True)
    return df, {n: int(v) for n, v in obs.get.items()}


def _checkpoint_counting(graph: DataFrame) -> tuple[DataFrame, int]:
    """``graph`` checkpointed eagerly, with its exact count of new
    entries (:func:`_checkpoint_observing`)."""
    graph, m = _checkpoint_observing(graph, u=F.sum(F.size(_new_entries())))
    return graph, m["u"]


def _fits_broadcast(spark: SparkSession, n_bytes: int) -> bool:
    """Whether a join side of about ``n_bytes`` is within the session's
    autoBroadcastJoinThreshold: the planner's own broadcast rule,
    applied to a size the caller counted, since a checkpoint carries
    only its plan's estimated statistics, which overflow after a join
    or an explode."""
    return n_bytes <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def _converged(
    updated: int, iteration: int, on_iteration, early_termination: float,
    k: int, threshold_n: int,
) -> bool:
    """A12: the count of new entries (:func:`_checkpoint_counting`),
    reported to ``on_iteration``, against the stop rule ``updated ≤
    δ·K·N`` (NND.scala:259-262)."""
    if on_iteration is not None:
        on_iteration(iteration, updated)
    return updated <= early_termination * k * threshold_n


def _bucket_members(active: DataFrame, k: int, buckets_per_instance: int, seed: int):
    """A3–A5: bucket geometry and membership over ``active``. One
    aggregate job reads the per-partition counts (bucket counts follow
    from them, NND.scala:80-85) and the vector dimension (which sizes
    the local join's blocks). Vectors of more than one length raise
    ``InvalidPointsError`` here, before any kernel runs — this covers
    callers that skip :func:`validate_points`, such as an extend whose
    batch differs in dimension from the stored points. Each point joins
    ``buckets_per_instance`` buckets drawn from a seeded hash of its
    features (NND.scala:87-93); bucket ids are namespaced per
    partition. Returns ``(members, n_active, n_blocks)``, or None when
    there are no active points."""
    stats = (
        active.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("features")).alias("min_dim"),
            F.max(F.size("features")).alias("max_dim"),
        )
        .collect()
    )
    n_active = sum(r["n"] for r in stats)
    if n_active == 0:
        return None
    dims = [d for r in stats for d in (r["min_dim"], r["max_dim"]) if d is not None]
    if min(dims, default=0) != max(dims, default=0):
        raise InvalidPointsError(
            f"feature vectors must be of one length; got {min(dims)}..{max(dims)}"
        )
    n_buckets = {
        r["partition"]: max(1, math.ceil(r["n"] * buckets_per_instance / (2.0 * k)))
        for r in stats
    }
    max_nb = max(n_buckets.values())
    nb_df = active.sparkSession.createDataFrame(
        [(int(p), int(b)) for p, b in n_buckets.items()], "partition long, n_buckets long"
    )
    draws = F.array_distinct(
        F.array(
            *[
                F.pmod(F.xxhash64("features", F.lit(seed * 7919 + i)), F.col("n_buckets")) + 1
                for i in range(buckets_per_instance)
            ]
        )
    )
    members = (
        active.join(F.broadcast(nb_df), "partition")
        .withColumn("__b", F.explode(draws))
        .select(
            (F.col("__b") + F.lit(int(max_nb)) * F.col("partition")).alias("bucket"),
            "id",
            # float32 on the wire (kernels upcast to float64); the bucket
            # draw above hashes the original float64 features.
            F.col("features").cast("array<float>").alias("features"),
        )
    )
    dim = max(dims, default=0)
    return members, n_active, _join_blocks(active.sparkSession, n_active, dim, k)


def _init_cands(members: DataFrame, seed: int, k: int, n_blocks: int) -> DataFrame:
    """A6: in-bucket random init candidates, one Arrow call per block of
    buckets."""
    n_parts = _n_parts(members.sparkSession)
    return (
        members.withColumn("block", _block_of("bucket", n_blocks, n_parts))
        .groupBy("block")
        .applyInArrow(_init_kernel(seed, k), _CAND_SCHEMA)
    )


def build_graph(
    df: DataFrame,
    k: int,
    max_iterations: int = 5,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    validate: bool = True,
    on_iteration=None,
) -> DataFrame:
    """Approximate K-NN graph via NN-Descent (reference `buildGraph`,
    NND.scala:66, same parameters plus an explicit ``seed``).

    ``on_iteration``, if given, is called after each round with
    ``(iteration_index, updated_count)`` — progress/telemetry hook.

    Returns the input columns plus ``neighbors ARRAY<STRUCT<id BIGINT,
    similarity DOUBLE>>``, sorted by similarity desc / id asc; null for
    ``finished`` rows, ``[]`` for active nodes that found none.
    """
    points = normalize_points(df)
    if validate:
        validate_points(points)

    active = (
        points.filter(~F.col("finished"))
        .select("id", "features", "partition")
        .persist()
    )

    geo = _bucket_members(active, k, buckets_per_instance, seed)
    if geo is None:
        active.unpersist()
        return points.withColumn("neighbors", F.lit(None).cast(_OUT_NEIGHBOR))
    members, n_active, n_blocks = geo

    # --- A6/A7: in-bucket random init + per-node top-K merge -----------
    init_cands = _init_cands(members, seed, k, n_blocks)
    graph = _merge_top_k(init_cands.withColumn("is_b", F.lit(False)), k)
    graph = graph.localCheckpoint(eager=True)

    graph = _descend(
        active, graph, k, max_iterations, early_termination, sample_rate,
        seed, n_active, n_blocks, on_iteration,
    )
    result = _assemble(points, graph)
    active.unpersist()
    return result


def _sample_reverse(
    rev: DataFrame, sample_rate: float, seed: int, iteration: int
) -> DataFrame:
    """A9 (NND.scala:146-152): keep ``max(ceil(ρ·|R(v)|), 1)`` reverse
    edges per target ``v`` — the reference's shuffle-control knob, since
    every surviving member adds a row to its group and, unless its block
    already holds it, a feature vector to the local join's exchange.
    Selection order is a seeded hash of the member id, so the draw is
    deterministic per (seed, iteration) and rotates across iterations.
    ``ρ=1`` short-circuits: no window, no extra shuffle."""
    if sample_rate >= 1.0:
        return rev
    wr = Window.partitionBy("v").orderBy(
        F.xxhash64(F.lit(seed + 17 + iteration), "member")
    )
    wc = Window.partitionBy("v")
    return (
        rev.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("__rn")
            <= F.greatest(F.ceil(F.lit(sample_rate) * F.col("__n")), F.lit(1))
        )
        .drop("__rn", "__n")
    )


def _descend(
    active: DataFrame,
    graph: DataFrame,
    k: int,
    max_iterations: int,
    early_termination: float,
    sample_rate: float,
    seed: int,
    threshold_n: int,
    n_blocks: int,
    on_iteration=None,
) -> DataFrame:
    """The NN-Descent iteration loop (A8–A13) from a seeded working
    graph — the FULL-BUILD loop, where every node is churning and the
    O(N·K) per-iteration explode/merge is the work itself (incremental
    updates go through :func:`_descend_sparse`, which bounds every
    exchange to the touched neighborhood). ``threshold_n`` is the N in
    the ``updated ≤ δ·K·N`` stop rule; ``n_blocks`` sizes the local
    join (:func:`_join_blocks`)."""
    # Features ship as float32: halves the dominant exchange (the
    # per-block feature routing); kernels upcast to float64 for the math.
    # Output similarities deviate from exact-float64 by ~1e-7 relative —
    # irrelevant for an approximate-KNN contract (recall-tested).
    # Cached hash-partitioned by member: the local join's member-keyed
    # lookup then finds every vector in place, and vectors cross one
    # exchange per iteration, into their blocks (:func:`_local_join`).
    feats = (
        active.select(
            F.col("id").alias("member"),
            F.col("features").cast("array<float>").alias("member_features"),
        )
        .repartition(_n_parts(active.sparkSession), "member")
        .persist()
    )

    iterations_run = 0
    for _ in range(max_iterations):
        edges = graph.select(
            F.col("id").alias("src"), F.explode("neighbors").alias("nb")
        ).select(
            "src", F.col("nb.id").alias("dst"), F.col("nb.similarity").alias("sim"),
            F.col("nb.is_new").alias("is_new"),
        )

        # A8/A9: reverse edges, sampled per target (deterministic hash
        # order; rate 1.0 short-circuits the window entirely).
        rev = edges.select(F.col("dst").alias("v"), F.col("src").alias("member"), "is_new")
        rev = _sample_reverse(rev, sample_rate, seed, iterations_run)

        # A10: A(v) = B(v) ∪ sampled-R(v) ∪ {v} as raw id rows (the local
        # join dedups in-block); vectors attach once per block, each
        # with its member's K-th neighbor similarity.
        fwd = edges.select(F.col("src").alias("v"), F.col("dst").alias("member"), "is_new")
        self_m = active.select(
            F.col("id").alias("v"), F.col("id").alias("member"), F.lit(False).alias("is_new")
        )
        adj = fwd.unionByName(rev).unionByName(self_m)
        feats_iter = _with_kth(
            feats, graph.select(F.col("id").alias("member"), _kth_sim(k))
        )

        # A11: local join (numpy, one Arrow call per block) → id-only
        # candidate stream.
        cands = _local_join(adj, feats_iter, k, n_blocks)
        graph, updated = _checkpoint_counting(_merge(graph, cands, k))
        iterations_run += 1
        if _converged(updated, iterations_run, on_iteration, early_termination, k, threshold_n):
            break
    feats.unpersist()
    return graph


def _assemble(points: DataFrame, graph: DataFrame) -> DataFrame:
    """A14: join results back; finished → null, active-no-neighbors → []."""
    return (
        points.join(graph.select("id", "neighbors"), "id", "left")
        .withColumn(
            "neighbors",
            F.when(F.col("finished"), F.lit(None).cast(_OUT_NEIGHBOR)).otherwise(
                F.coalesce(_out_lists(), F.array().cast(_OUT_NEIGHBOR))
            ),
        )
    )


def _out_lists(col: str = "neighbors"):
    """Working-schema neighbor array in the output schema: the
    ``is_new`` flag dropped."""
    return F.transform(
        col, lambda s: F.struct(s["id"].alias("id"), s["similarity"].alias("similarity"))
    )


def _flag_old(col: str = "neighbors"):
    """Output-schema neighbor array lifted into the working schema with
    every entry old — how stored rows enter the sparse loop."""
    return F.transform(
        col,
        lambda s: F.struct(
            s["id"].alias("id"),
            s["similarity"].alias("similarity"),
            F.lit(False).alias("is_new"),
        ),
    )


def _load(active: DataFrame, prev: DataFrame, ids: DataFrame) -> DataFrame:
    """Rows (id, prev, partition, float32 features) of the ids in
    ``ids`` (column ``lid``, duplicates allowed) that have a vector in
    ``active``; ``prev`` is the stored list, null for a new point. Both
    tables are scanned under a broadcast of ``ids``; the planner joins
    the two scans."""
    ids = F.broadcast(ids)
    pts = active.join(ids, F.col("id") == F.col("lid"), "left_semi")
    old = prev.join(ids, F.col("id") == F.col("lid"), "left_semi")
    return pts.join(
        old.select("id", F.col("neighbors").alias("prev")), "id", "left"
    ).select(
        "id", "prev", "partition",
        F.col("features").cast("array<float>").alias("features"),
    )


def _live_groups(
    t: DataFrame, loaded: DataFrame, prev: DataFrame, reverse: DataFrame,
    sample_rate: float, seed: int, iteration: int,
) -> tuple[DataFrame, dict]:
    """A8–A10 of one sparse round, read from the touched lists ``t``:
    the live groups' raw (v, member, is_new) rows, checkpointed with
    their count, each flagged ``fresh`` when its member is not yet a
    row of ``loaded``.

    Live groups are ``t``'s rows holding a new entry and the targets of
    those entries: a group A(v) gains a new member only through v's own
    list or a reverse edge from such a row. B(v) is ``t``'s list, or the
    stored one for a live id not yet loaded; R(v) is ``t``'s edges into
    live targets plus the stored ``reverse`` pairs of sources not yet
    loaded (a loaded row missing from ``t`` has an empty list: the merge
    drops only rows without an edge)."""
    new = _new_entries()
    live = t.filter(F.size(new) > 0).select(F.col("id").alias("lid")).unionByName(
        t.select(F.explode(F.transform(new, lambda n: n["id"])).alias("lid"))
    )
    tid = F.broadcast(loaded.select(F.col("id").alias("tid")))
    is_live = F.col("id") == F.col("lid")
    own = t.join(F.broadcast(live), is_live, "left_semi")
    stored = (
        prev.join(F.broadcast(live), is_live, "left_semi")
        .join(tid, F.col("id") == F.col("tid"), "left_anti")
        .select("id", _flag_old().alias("neighbors"))
    )
    fwd = own.unionByName(stored).select(
        F.col("id").alias("v"), F.explode("neighbors").alias("nb")
    ).select("v", F.col("nb.id").alias("member"), F.col("nb.is_new").alias("is_new"))
    rev_t = t.select(
        F.col("id").alias("member"), F.explode("neighbors").alias("nb")
    ).select(
        F.col("nb.id").alias("v"), "member", F.col("nb.is_new").alias("is_new")
    ).join(F.broadcast(live), F.col("v") == F.col("lid"), "left_semi")
    rev_s = (
        reverse.join(F.broadcast(live), is_live, "left_semi")
        .join(tid, F.col("src") == F.col("tid"), "left_anti")
        .select(
            F.col("id").alias("v"), F.col("src").alias("member"),
            F.lit(False).alias("is_new"),
        )
    )
    self_m = live.select(
        F.col("lid").alias("v"), F.col("lid").alias("member"), F.lit(False).alias("is_new")
    )
    adj = fwd.unionByName(
        _sample_reverse(rev_t.unionByName(rev_s), sample_rate, seed, iteration)
    ).unionByName(self_m)
    return _checkpoint_observing(
        adj.join(tid, F.col("member") == F.col("tid"), "left").select(
            "v", "member", "is_new", F.col("tid").isNull().alias("fresh")
        ),
        rows=F.count(F.lit(1)),
    )


def _descend_sparse(
    active: DataFrame,
    prev: DataFrame,
    reverse: DataFrame,
    cands: DataFrame,
    k: int,
    max_iterations: int,
    early_termination: float,
    sample_rate: float,
    seed: int,
    threshold_n: int,
    n_blocks: int,
    on_iteration=None,
) -> DataFrame:
    """The NN-Descent loop for INCREMENTAL updates, from the
    checkpointed init candidates ``cands``, over two checkpointed tables
    that grow with the rows the update reads: the touched lists
    T = (id, neighbors) and the loaded rows L = (id, prev, partition,
    features), read from the stored tables once. The working graph is
    T's list inside T and ``prev``'s outside; ``prev`` and its
    ``reverse`` pairs (id = target, src) are only scanned.

    Per round, row for row what the dense loop with inert groups pruned
    would do, in three checkpoints: the live groups (:func:`_live_groups`);
    the L rows of the members L lacks (:func:`_load`), whose stored
    lists, flagged old, join T; and the next T, where the local join
    reads vectors from L and K-th similarities from T, and the merge,
    whose checkpoint job also counts the new entries. T's lists are in
    merge order, so a row no round touches keeps its stored list.

    Every exchange is O(touched). Id sets are broadcast; the (block,
    member) pairs, the K-th similarities and L's stored lists only while
    the sizes the checkpoints counted fit :func:`_fits_broadcast`.
    Returns the last T joined to L's (prev, partition)."""
    spark, rows = active.sparkSession, F.count(F.lit(1))
    loaded, n = _checkpoint_observing(
        _load(active, prev, cands.select(F.col("id").alias("lid"))), rows=rows
    )
    n_loaded = n["rows"]
    t, _ = _checkpoint_counting(
        _merge(loaded.select("id", _flag_old("prev").alias("neighbors")), cands, k)
    )
    for iteration in range(max_iterations):
        adj, n = _live_groups(t, loaded, prev, reverse, sample_rate, seed, iteration)
        fresh, m = _checkpoint_observing(
            _load(active, prev, adj.filter("fresh").select(F.col("member").alias("lid"))),
            rows=rows,
        )
        n_loaded += m["rows"]
        t = t.unionByName(fresh.select("id", _flag_old("prev").alias("neighbors")))
        loaded = loaded.unionByName(fresh)
        kth = t.select(F.col("id").alias("member"), _kth_sim(k))
        feats_iter = _with_kth(
            loaded.select(
                F.col("id").alias("member"), F.col("features").alias("member_features")
            ),
            F.broadcast(kth) if _fits_broadcast(spark, 16 * n_loaded) else kth,
        )
        cands = _local_join(
            adj.drop("fresh"), feats_iter, k, n_blocks,
            broadcast_pairs=_fits_broadcast(spark, 16 * n["rows"]),
        )
        t, updated = _checkpoint_counting(_merge(t, cands, k))
        if _converged(
            updated, iteration + 1, on_iteration, early_termination, k, threshold_n
        ):
            break
    fixed = loaded.select("id", "prev", "partition")
    if _fits_broadcast(spark, 32 * (k + 1) * n_loaded):
        fixed = F.broadcast(fixed)
    return t.join(fixed, "id")


def update_graph(
    prev: DataFrame,
    df: DataFrame,
    k: int,
    max_iterations: int = 3,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    validate: bool = True,
    on_iteration=None,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """Incrementally fold new points into an existing K-NN graph.

    The extension the reference's ``finished`` flag exists for
    (NND.scala:62, README.md:34 — carried for the upstream spark-rgt
    incremental workflow but never implemented there): ``prev`` is a
    prior ``build_graph``/``update_graph`` result (lists in canonical
    merge order), ``df`` is the full current point set; rows absent
    from ``prev`` are the new arrivals.

    The update itself is :func:`update_graph_delta`; this assembles its
    changed rows over ``prev`` — ``prev``'s list for every id the
    update left unchanged, the delta's list for every other — and
    joins them back to ``df`` as :func:`build_graph` does.
    ``new_ids`` passes through to it.

    Returns the same output schema as ``build_graph`` over ``df``.
    """
    points = normalize_points(df)
    if validate:
        validate_points(points)
    points = points.persist()
    prev_nb = prev.select("id", "neighbors").persist()
    changed = update_graph_delta(
        prev_nb, points, k, max_iterations, early_termination, sample_rate,
        buckets_per_instance, seed, on_iteration, new_ids,
    ).select("id", "neighbors")
    stable = prev_nb.join(F.broadcast(changed.select("id")), "id", "left_anti")
    result = _assemble(points, stable.unionByName(changed))
    points.unpersist()
    prev_nb.unpersist()
    return result


def update_graph_delta(
    prev: DataFrame,
    df: DataFrame,
    k: int,
    max_iterations: int = 3,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    on_iteration=None,
    new_ids: DataFrame | None = None,
) -> DataFrame:
    """The incremental update (see :func:`update_graph` for ``prev``
    and ``df``), returning ONLY the changed rows — (id, neighbors,
    partition) for every node whose final list differs from ``prev``
    (new nodes included; a new node that found no neighbors emits no
    row, matching the read path's empty-list coalesce).

    This is the persisted index family's extend entry point: the full
    graph is never assembled, so nothing in the job — not the result
    join, not the diff — is O(corpus). Inputs may be lazy parquet
    scans; they are read, never cached or checkpointed here.

    Compute and shuffle scale with the batch's TOUCHED NEIGHBORHOOD,
    O(min(corpus, batch·draws·bucket_size·K̄)), never the corpus:

    - init: only new points' bucket cohorts run the init kernel (bucket
      membership is a pure function of the feature hash, so old members
      land in the buckets they did at build time);
    - iterations run :func:`_descend_sparse` from the candidate-receiving
      rows; rows it never touches are scanned, never exchanged, and its
      reverse pairs are ``prev``'s lists exploded inside that scan;
    - the stop rule counts against the NEW points (``updated ≤
      δ·K·N_new``), since a converged bulk would mask their churn;
    - the diff compares the touched lists with the stored lists the loop
      loaded: no join back to ``prev`` or to the points.

    ``new_ids`` (optional) skips the new-arrival anti-join when the
    caller already knows the batch ids (the persisted index's extend,
    whose upsert guarantees batch ids are absent from the store).
    """
    points = normalize_points(df)
    active = points.filter(~F.col("finished")).select(
        "id", "features", "partition"
    )
    prev_nb = prev.select("id", "neighbors")
    # reverse pairs (id = target, src): a map-side explode of prev, no
    # shuffle; each hop reads only the live targets' pairs
    reverse = prev_nb.select(
        F.col("id").alias("src"), F.explode("neighbors").alias("nb")
    ).select(F.col("nb.id").alias("id"), "src")
    if new_ids is None:
        new_ids = (
            active.select("id").join(prev_nb.select("id"), "id", "left_anti")
        )
    n_new = new_ids.count()
    # Bucket geometry over ALL actives (same formula as build_graph, so
    # old members hash into consistent buckets). The aggregate is
    # map-side-combined: O(partitions), not O(N), moves.
    geo = _bucket_members(active, k, buckets_per_instance, seed) if n_new else None
    if geo is None:
        return df.sparkSession.createDataFrame(
            [], f"id long, neighbors {_OUT_NEIGHBOR.simpleString()}, partition long"
        )
    members, _, n_blocks = geo
    # Only buckets holding >= 1 new point produce candidates that can
    # involve a new point; prune the rest before any feature moves.
    # BOTH prunes are broadcast joins: the O(N·draws) member stream
    # (features attached) is scanned, never exchanged.
    live_buckets = (
        members.join(F.broadcast(new_ids), "id", "left_semi")
        .select("bucket")
        .distinct()
    )
    members = members.join(F.broadcast(live_buckets), "bucket", "left_semi")
    init_cands = _init_cands(members, seed, k, n_blocks)
    # Drop candidates where both endpoints are old (their graph entries
    # are already converged; re-initializing them would only add noise).
    new_b = F.broadcast(new_ids.select(F.col("id").alias("nid")))
    init_cands = (
        init_cands.join(new_b, F.col("id") == F.col("nid"), "left")
        .withColumnRenamed("nid", "__new_id")
        .join(new_b, F.col("nb_id") == F.col("nid"), "left")
        .filter(F.col("__new_id").isNotNull() | F.col("nid").isNotNull())
        .select("id", "nb_id", "sim")
        .localCheckpoint(eager=True)
    )
    t = _descend_sparse(
        active, prev_nb, reverse, init_cands, k,
        max_iterations, early_termination, sample_rate, seed, n_new, n_blocks,
        on_iteration,
    )
    return t.filter(
        F.col("prev").isNull() | (_out_lists() != F.col("prev"))
    ).select("id", _out_lists().alias("neighbors"), "partition")
