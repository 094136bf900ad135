"""Persisted K-NN-graph index family (the 10th): the flagship NND
artifact (reference output contract NND.scala:63,66 —
``RDD[(Long, NodeWithNeighbors)]``) with the same build → probe →
extend → retract → compact lifecycle every other expensive artifact in
the engine carries (LSH postings, IVF cells, span grams, image bands,
token stats, covariance moments).

Layout under ``{path}``:

- ``points/``     (id, features, label, finished) hive-partitioned by
  ``partition`` — the vector table every probe's walkers read;
- ``adjacency/``  (id, neighbors) hive-partitioned by ``partition`` —
  the base graph as of the last build/compaction;
- ``updates/``    (id, neighbors, partition, batch) — append-only
  adjacency DELTAS from ``extend``; a row supersedes the base row (and
  any lower-``batch`` update) for its id;
- ``meta/``       build parameters pinned so extend replays the build
  configuration, and the anchor count (``n_anchors``) and ``seed`` of
  anchor-seeded searches;
- ``tombstones/`` the shared O(retracted) delete log
  (operators/index_lifecycle).

Nothing derived from these tables is stored. Reverse edges are the
resolved adjacency exploded where they are read: inside extend's scan,
and inside each probe's walker. Anchors are drawn by each walker from
the live rows it holds (nnd/search), so a retracted anchor is replaced
by the next-ranked live row and an ingested point can become one.

What each operation costs:

- **extend reads and writes O(batch neighborhood)**:
  ``update_graph_delta`` (nnd/descent) bounds every exchange to the
  rows the batch touches — the stored graph is scanned, never joined
  or materialized at corpus size (reverse expansion explodes its lists
  map-side within the scan); the delta write covers only
  rows whose neighbor list actually changed — the base adjacency is
  never rewritten on ingest. Its Spark job count is fixed per update
  hop (tests/test_sparse_descent.py holds each hop to a budget).
- **read pays O(updated), not O(graph)**: resolution is base
  anti-join broadcast(update ids) ∪ latest-per-id over the UPDATES
  table alone — no corpus-sized window. Tombstones mask rows via the
  standard broadcast anti-join; stale in-LIST references to retracted
  or superseded nodes are left in place and the probe's walker drops
  them as ids that are not graph rows (nnd/search), the same
  delete-log read tax every other family pays until compaction.
- **compact restores the zero-tax read**: fold updates into the base,
  physically prune tombstoned ids from rows AND neighbor lists,
  clear both logs (tombstones dropped LAST, so a crashed compaction
  stays correct and a retry converges).

Every table is read with its fixed schema (``_SCHEMAS``), so no read
runs a schema-inference job.
"""

from __future__ import annotations

import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_nnd_spark.nnd.descent import build_graph, update_graph_delta
from spark_nnd_spark.nnd.search import graph_search_topk
from spark_nnd_spark.operators import index_lifecycle as IL
from spark_nnd_spark.schemas import normalize_points, validate_points

_NEIGHBOR_T = "array<struct<id bigint, similarity double>>"

# The tables' fixed read schemas (hive partition column last, as Spark
# places it).
_SCHEMAS = {
    "points": "id bigint, features array<double>, label bigint, finished boolean, "
    "partition bigint",
    "adjacency": f"id bigint, neighbors {_NEIGHBOR_T}, partition bigint",
    "updates": f"id bigint, neighbors {_NEIGHBOR_T}, partition bigint, batch bigint",
    "meta": "k bigint, max_iterations bigint, early_termination double, "
    "sample_rate double, buckets_per_instance bigint, seed bigint, "
    "n_anchors bigint",
}


def _read(spark: SparkSession, path: str, table: str) -> DataFrame:
    """``{path}/{table}`` read with its fixed schema: no
    schema-inference job over the files."""
    return spark.read.schema(_SCHEMAS[table]).parquet(f"{path}/{table}")


# Upsert/purge table specs (id column, partition column).
_TABLES: tuple[IL.TableSpec, ...] = (
    ("points", "id", "partition"),
    ("adjacency", "id", "partition"),
)


def build_knn_graph_index(
    points: DataFrame,
    path: str,
    k: int,
    max_iterations: int = 5,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    n_anchors: int = 256,
) -> None:
    """Build the graph (nnd/descent.build_graph, which validates the
    points first, so a bad corpus writes nothing) and persist it with
    :func:`persist_graph_index`."""
    g = build_graph(
        points,
        k=k,
        max_iterations=max_iterations,
        early_termination=early_termination,
        sample_rate=sample_rate,
        buckets_per_instance=buckets_per_instance,
        seed=seed,
    )
    persist_graph_index(
        g, path,
        k=k, max_iterations=max_iterations,
        early_termination=early_termination, sample_rate=sample_rate,
        buckets_per_instance=buckets_per_instance, seed=seed,
        n_anchors=n_anchors,
    )


def persist_graph_index(
    graph: DataFrame,
    path: str,
    k: int,
    max_iterations: int = 5,
    early_termination: float = 0.01,
    sample_rate: float = 1.0,
    buckets_per_instance: int = 4,
    seed: int = 42,
    n_anchors: int = 256,
) -> None:
    """Persist an ALREADY-BUILT graph (a build_graph/update_graph
    result) into the family layout — the entry point for users who
    hold the artifact in memory and want the lifecycle without paying
    a rebuild. The params are pinned as meta so extend replays the
    build configuration; they must be the ones the graph was built
    with. ``n_anchors`` and ``seed`` also fix the anchors of searches
    with ``use_anchors`` (:func:`graph_index_search`)."""
    spark = graph.sparkSession
    # stored in the types of ``_SCHEMAS``, which every read assumes
    g = graph.select(
        F.col("id").cast("bigint"), F.col("features").cast("array<double>"),
        F.col("label").cast("bigint"), F.col("finished").cast("boolean"),
        F.col("partition").cast("bigint"), F.col("neighbors").cast(_NEIGHBOR_T),
    ).localCheckpoint(eager=True)
    g.select("id", "features", "label", "finished", "partition").write.mode(
        "overwrite"
    ).partitionBy("partition").parquet(f"{path}/points")
    adj = g.filter(F.col("neighbors").isNotNull()).select(
        "id", "neighbors", "partition"
    )
    adj.write.mode("overwrite").partitionBy("partition").parquet(
        f"{path}/adjacency"
    )
    spark.createDataFrame(
        [(
            int(k), int(max_iterations), float(early_termination),
            float(sample_rate), int(buckets_per_instance), int(seed),
            int(n_anchors),
        )],
        _SCHEMAS["meta"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _meta(spark: SparkSession, path: str) -> dict[str, Any]:
    return _read(spark, path, "meta").collect()[0].asDict()


def _latest_updates(spark: SparkSession, path: str) -> DataFrame:
    """Latest delta row per updated id, checkpointed. ONE map-side-
    combinable ``max_by`` aggregate instead of the former row_number
    window: the window exchanged EVERY pending delta row plus a sort,
    where the aggregate's partial combine ships at most one row per id
    per map task — the read-tax resolution every extend and every
    probe under pending deltas pays, so its constant matters at
    ingest cadence (VERDICT r15 #2/#4: the small-batch extend and the
    gate probe inherit prior batches' delta volume here). max_by on
    the batch number is exactly latest-per-id; batches are distinct
    per extend append, so no tie exists (and a same-batch tie would
    have been nondeterministic under the window too)."""
    upd = _read(spark, path, "updates")
    return (
        upd.groupBy("id")
        .agg(
            F.max_by(F.struct("neighbors", "partition"), "batch").alias("__l")
        )
        .select("id", "__l.neighbors", "__l.partition")
        .localCheckpoint(eager=True)
    )


def _resolved_adjacency(
    spark: SparkSession, path: str, latest: DataFrame | None = None
) -> DataFrame:
    """Base adjacency with update deltas applied: base rows whose id
    has no delta, plus the latest delta per updated id. The only
    exchange is the latest-per-id aggregate over the UPDATES table
    (_latest_updates); the base side pays one broadcast anti-join."""
    base = _read(spark, path, "adjacency")
    if not IL.exists(spark, f"{path}/updates"):
        return base
    if latest is None:
        latest = _latest_updates(spark, path)
    upd_ids = latest.select("id")
    return base.join(F.broadcast(upd_ids), "id", "left_anti").unionByName(
        latest
    )


def read_graph(spark: SparkSession, path: str) -> DataFrame:
    """The stored graph in ``build_graph`` output shape (id, features,
    label, partition, finished, neighbors), tombstone-masked and
    update-resolved. Neighbor LISTS may still reference retracted /
    superseded ids until compaction — probes drop those as ids that are
    not among the graph's rows (nnd/search); consumers that need pruned
    lists run :func:`compact_knn_graph_index` first (or explode-filter
    themselves)."""
    tomb = IL.read_tombstones(spark, path)
    pts = IL.anti_tombstones(_read(spark, path, "points"), tomb, "id")
    adj = IL.anti_tombstones(_resolved_adjacency(spark, path), tomb, "id")
    return pts.join(adj.select("id", "neighbors"), "id", "left").select(
        "id", "features", "label", "partition", "finished",
        F.when(F.col("finished"), F.lit(None).cast(_NEIGHBOR_T))
        .otherwise(F.coalesce("neighbors", F.array().cast(_NEIGHBOR_T)))
        .alias("neighbors"),
    )


def graph_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    ef: int = 64,
    beam: int = 16,
    n_entry: int = 16,
    max_iterations: int = 20,
    seed: int = 42,
    query_id_col: str = "query_id",
    query_vec_col: str = "q_vec",
    exclude_ids: DataFrame | None = None,
    use_anchors: bool = False,
) -> DataFrame:
    """Nearest STORED neighbors of each query vector, served by greedy
    search (nnd/search.graph_search_topk) over the persisted graph.
    Tombstoned nodes cannot surface: their rows are masked out of both
    the adjacency and the vector table before the search sees them.
    ``exclude_ids`` additionally masks the given node ids for THIS
    probe only (broadcast anti-join) — the replay-purity device of the
    ingest gate (a retried micro-batch that partially admitted itself
    must still probe the exact pre-batch graph).

    ``use_anchors=True`` seeds each query from its NEAREST anchors —
    the coarse entry layer, the recall-at-small-n_entry mode measured
    in BENCH_GS_SWEEP — instead of shared random entries. The anchors
    are the ``n_anchors`` and ``seed`` pinned in ``meta`` at persist
    (the ``seed`` argument is then unused), drawn by each walker from
    the rows of the masked graph: a retracted or excluded anchor can
    neither seed nor surface, and the next-ranked live row takes its
    place. An index whose ``meta`` has no ``n_anchors`` raises
    ``ValueError``; persist it again."""
    g = read_graph(spark, path)
    n_anchors = None
    if use_anchors:
        m = _meta(spark, path)
        if m["n_anchors"] is None:
            raise ValueError(
                f"{path} was persisted without n_anchors: persist it again "
                "before an anchor-seeded search"
            )
        n_anchors, seed = int(m["n_anchors"]), int(m["seed"])
    if exclude_ids is not None:
        ex = F.broadcast(
            exclude_ids.select(
                F.col(exclude_ids.columns[0]).alias("id")
            ).distinct()
        )
        g = g.join(ex, "id", "left_anti")
    return graph_search_topk(
        g,
        queries,
        k=k,
        ef=ef,
        beam=beam,
        n_entry=n_entry,
        max_iterations=max_iterations,
        seed=seed,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        n_anchors=n_anchors,
    )


def extend_knn_graph_index(
    spark: SparkSession, path: str, new_points: DataFrame
) -> None:
    """Fold a batch of new points into the stored graph and append the
    resulting adjacency CHANGES as a delta. Both compute AND shuffle
    scale with the batch NEIGHBORHOOD, not the corpus
    (nnd/descent.update_graph_delta): the stored graph is only ever
    SCANNED — no O(corpus) materialization, join, or diff anywhere in
    the job. Reverse expansion explodes the resolved adjacency inside
    that scan, map-side, and keeps only the live targets' pairs.

    The size of "neighborhood" (measured per stage): the batch's bucket
    cohorts receive candidates, and each descent hop activates the
    receivers' neighbor groups, so the touched set — and with it extend
    shuffle — is O(min(corpus, batch·draws·bucket_size·K̄)).
    Corpus-independence holds once the corpus exceeds that bound
    (BENCH_GRAPH_INDEX's tiny-batch sweep is the in-bound measurement;
    the larger batches saturate the test corpora and track
    min(corpus, ·)).

    The update keeps the rows it touches in two checkpointed tables
    (their working lists; their stored lists, partitions and vectors),
    so each hop costs a fixed number of Spark jobs (13 on the nndbench
    index), and the delta it returns joins the two, never the stored
    graph. Pending deltas and tombstones add their resolution (the
    latest delta per id, the tombstone ids) to the stored views the
    update scans; both are checkpointed once per extend.

    Re-admission of tombstoned ids is the standard upsert
    (index_lifecycle.settle_readmission: purge old physical rows,
    clear their tombstones) — a retracted-then-reingested node comes
    back with only its new vector. Live-id overlap also settles as an
    upsert: the batch's version of the point wins.
    """
    new_pts = normalize_points(new_points).localCheckpoint(eager=True)
    # one small job over the checkpointed batch: a NaN or ragged vector
    # fails here, before anything is written
    validate_points(new_pts)
    # full upsert via the shared kernel: tombstoned AND still-live
    # overlap purged from points + base adjacency + any update deltas,
    # so the batch's version of each id wins; the live check reads the
    # O(points) roster, and the purge rewrite only fires on actual
    # overlap
    tables = list(_TABLES)
    if IL.exists(spark, f"{path}/updates"):
        tables.append(("updates", "id", None))
    IL.settle_upsert(
        spark, path, new_pts.select("id"), tables,
        roster=("points", "id", "partition"),
    )

    # Lazy, tombstone-masked views pinned AFTER the upsert and BEFORE
    # any append — file listings are fixed at read creation, so the
    # update's scans never see this batch's own writes.
    tomb = IL.read_tombstones(spark, path)
    if tomb is not None:  # read by every hop: resolve it once
        tomb = tomb.localCheckpoint(eager=True)
    latest = (
        _latest_updates(spark, path)
        if IL.exists(spark, f"{path}/updates")
        else None
    )
    prev_adj = IL.anti_tombstones(
        _resolved_adjacency(spark, path, latest), tomb, "id"
    ).select("id", "neighbors")
    prev_pts = IL.anti_tombstones(_read(spark, path, "points"), tomb, "id")
    all_pts = prev_pts.select(
        "id", "features", "label", "partition", "finished"
    ).unionByName(
        new_pts.select("id", "features", "label", "partition", "finished")
    )

    m = _meta(spark, path)
    # Delta = rows whose neighbor list changed (new ids have no prev
    # row), read from the update's own checkpoints.
    changed = update_graph_delta(
        prev_adj,
        all_pts,
        k=int(m["k"]),
        max_iterations=int(m["max_iterations"]),
        early_termination=float(m["early_termination"]),
        sample_rate=float(m["sample_rate"]),
        buckets_per_instance=int(m["buckets_per_instance"]),
        seed=int(m["seed"]),
        new_ids=new_pts.select("id"),
    )

    batch_no = 0
    if IL.exists(spark, f"{path}/updates"):
        # the overlap purge above may have emptied the table → max None
        prev_max = (
            _read(spark, path, "updates")
            .agg(F.max("batch"))
            .collect()[0][0]
        )
        batch_no = (prev_max + 1) if prev_max is not None else 0
    new_pts.select("id", "features", "label", "finished", "partition").write.mode(
        "append"
    ).partitionBy("partition").parquet(f"{path}/points")
    changed.withColumn("batch", F.lit(batch_no).cast("long")).write.mode(
        "append"
    ).parquet(f"{path}/updates")


def retract_from_knn_graph_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> None:
    """Tombstone-retract nodes: O(retracted) append; every read path
    masks their rows immediately, and their appearances inside other
    nodes' neighbor lists are dropped by the probe's walker until
    compaction physically prunes them."""
    IL.append_tombstones(spark, path, ids)


def compact_knn_graph_index(spark: SparkSession, path: str) -> None:
    """Fold updates + tombstones into the physical tables: resolved
    adjacency minus tombstoned rows, neighbor lists pruned of
    tombstoned ids, points minus tombstoned rows; drop the updates
    dir, then the tombstone log LAST (a crash at any point leaves a
    state every read path still serves correctly, and a retry
    converges)."""
    tomb = IL.read_tombstones(spark, path)
    adj = _resolved_adjacency(spark, path)
    pts = _read(spark, path, "points")
    if tomb is not None:
        adj = IL.anti_tombstones(adj, tomb, "id")
        pts = IL.anti_tombstones(pts, tomb, "id")
        n_tomb = tomb.count()
        if 0 < n_tomb <= 4096:
            # typical log is O(retracted) small — a driver literal
            # keeps list pruning inside codegen, no explode/regroup
            tomb_ids = [r.id for r in tomb.collect()]
            lit = F.array(*[F.lit(int(i)) for i in tomb_ids])
            adj = adj.select(
                "id",
                F.filter(
                    "neighbors", lambda s: ~F.array_contains(lit, s["id"])
                ).alias("neighbors"),
                "partition",
            )
        elif n_tomb > 4096:
            # mass retraction: the id list never touches the driver —
            # explode, broadcast anti-join, regroup in position order.
            # The extra O(N·K) exchange lives inside an operation that
            # already rewrites the whole adjacency, so the asymptotics
            # of compaction are unchanged.
            expl = adj.select(
                "id", "partition",
                F.posexplode_outer("neighbors").alias("pos", "nb"),
            )
            kept = (
                expl.filter(F.col("nb").isNotNull())
                .join(
                    F.broadcast(tomb.select(F.col("id").alias("__tid"))),
                    F.col("nb")["id"] == F.col("__tid"),
                    "left_anti",
                )
                .groupBy("id")
                .agg(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "nb"))),
                        lambda s: s["nb"],
                    ).alias("neighbors")
                )
            )
            adj = (
                adj.select("id", "partition")
                .join(kept, "id", "left")
                .select(
                    "id",
                    F.coalesce(
                        "neighbors", F.array().cast(_NEIGHBOR_T)
                    ).alias("neighbors"),
                    "partition",
                )
            )
    adj = adj.localCheckpoint(eager=True)  # detach from files being replaced
    pts = pts.localCheckpoint(eager=True)
    adj.write.mode("overwrite").partitionBy("partition").parquet(
        f"{path}/adjacency"
    )
    pts.write.mode("overwrite").partitionBy("partition").parquet(
        f"{path}/points"
    )
    if IL.exists(spark, f"{path}/updates"):
        shutil.rmtree(f"{path}/updates", ignore_errors=True)
    if tomb is not None:
        shutil.rmtree(f"{path}/tombstones", ignore_errors=True)
