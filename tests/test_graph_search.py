"""Graph-served ANN search (nnd/search.py): recall on the clustered
fixture, same-seed determinism, partition-wall entry coverage,
and tombstone-masked candidate dropout. The walk's plan contract and
its bit-identity with the former per-hop loop are in
tests/test_search_walk.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_nnd_spark.nnd.descent import build_graph
from spark_nnd_spark.nnd.search import brute_topk_l2, graph_search_topk
from tests.conftest import make_clustered_points


pytestmark = pytest.mark.slow  # heavy tier: deselected from the default fast run

_SCHEMA = (
    "id long, features array<double>, label long, partition long, "
    "finished boolean"
)


def _fixture(spark, n_partitions: int = 1):
    rows = make_clustered_points(
        n_clusters=8, per_cluster=25, dim=8, n_partitions=n_partitions
    )
    return spark.createDataFrame(rows, _SCHEMA)


def test_recall_on_clustered_fixture(spark):
    pts = _fixture(spark)
    queries = pts.filter(F.col("id") % 40 == 0).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    corpus = pts.join(
        queries.select(F.col("query_id").alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    g = build_graph(corpus, k=10, max_iterations=5, seed=42, validate=False)
    # n_entry must cover the graph's connected components: a K-NNG of
    # well-separated clusters is one component PER CLUSTER, and greedy
    # search can never cross between them (nnd/search.py docstring) —
    # 32 seeds over 8 clusters makes a missed cluster ~(7/8)^32 rare.
    res = graph_search_topk(g, queries, k=5, ef=64, beam=16, n_entry=32, seed=42)
    brute = brute_topk_l2(corpus, queries, k=5).select("query_id", "nb_id")
    total = brute.count()
    hits = res.select("query_id", "nb_id").join(
        brute, ["query_id", "nb_id"]
    ).count()
    assert total == 5 * queries.count()
    assert hits / total >= 0.9


def test_same_seed_is_deterministic(spark):
    pts = _fixture(spark)
    queries = pts.filter(F.col("id") < 4).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    corpus = pts.filter(F.col("id") >= 4).localCheckpoint(eager=True)
    g = build_graph(corpus, k=10, max_iterations=3, seed=42, validate=False)
    g = g.localCheckpoint(eager=True)
    a = graph_search_topk(g, queries, k=5, ef=32, beam=8, seed=7).collect()
    b = graph_search_topk(g, queries, k=5, ef=32, beam=8, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_every_partition_seeds(spark):
    """With no hop, a query's results are its seeds: ``n_entry`` from
    each of the graph's 4 partitions."""
    pts = _fixture(spark, n_partitions=4)
    g = build_graph(pts, k=5, max_iterations=1, seed=42, validate=False)
    queries = pts.filter(F.col("id") < 2).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    res = graph_search_topk(
        g, queries, k=12, ef=16, beam=4, n_entry=3, max_iterations=0, seed=42
    )
    per_part = (
        res.join(pts.select(F.col("id").alias("nb_id"), "partition"), "nb_id")
        .groupBy("query_id", "partition")
        .count()
        .collect()
    )
    assert sorted((r.query_id, r.partition, r["count"]) for r in per_part) == [
        (q, p, 3) for q in (0, 1) for p in range(4)
    ]


def test_search_reaches_across_partition_walls(spark):
    """Edges never cross partitions, but SERVING is global: per-
    partition entry seeding makes every walled component reachable, so
    a query lands on its true cluster regardless of which partition
    holds it."""
    pts = _fixture(spark, n_partitions=4)
    # one query per cluster-partition combination, held out of the graph
    queries = pts.filter(F.col("id").isin([0, 26, 52, 78])).select(
        F.col("id").alias("query_id"),
        F.col("features").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    corpus = pts.join(
        queries.select(F.col("query_id").alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    g = build_graph(corpus, k=10, max_iterations=5, seed=42, validate=False)
    res = graph_search_topk(
        g,
        queries.select("query_id", "q_vec"),
        k=5,
        ef=64,
        beam=16,
        n_entry=4,
        seed=42,
    )
    labeled = res.join(
        pts.select(F.col("id").alias("nb_id"), "label"), "nb_id"
    ).join(queries.select("query_id", "q_label"), "query_id")
    rows = labeled.collect()
    assert len(rows) == 4 * 5
    # every neighbor comes from the query's own Gaussian cluster
    assert all(r.label == r.q_label for r in rows)


def test_masked_ids_never_surface(spark):
    """Tombstone-read semantics: masking rows out of the graph removes
    them from adjacency AND the vector table, so stale in-list
    references to them are no graph rows and the walker drops them —
    results never contain a masked id."""
    pts = _fixture(spark)
    g = build_graph(pts, k=10, max_iterations=3, seed=42, validate=False)
    g = g.localCheckpoint(eager=True)
    masked = g.filter(F.col("id") % 5 != 0)  # mask every 5th node
    queries = pts.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    res = graph_search_topk(masked, queries, k=5, ef=32, beam=8, seed=42)
    assert res.filter(F.col("nb_id") % 5 == 0).count() == 0
    assert res.count() == 3 * 5  # still k results each
