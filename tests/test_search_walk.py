"""The partition-local search walk (nnd/search.py): one Arrow call per
graph partition must return exactly what the per-hop DataFrame loop it
replaced returned, in a number of Spark jobs that does not depend on
the hop count, split over tasks without changing a row, and bad query
vectors or an oversized partition must fail loudly.

``_reference_search`` is a copy of the deleted loop (seeding from
``_entry_points``, the per-hop ``_expand_score`` round and the
``_truncate`` pool merge), kept here as the oracle the walk is compared
with bit for bit."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_nnd_spark.nnd import search
from spark_nnd_spark.nnd.descent import build_graph
from spark_nnd_spark.nnd.search import _sim, graph_search_topk
from spark_nnd_spark.schemas import InvalidPointsError
from tests.conftest import POINT_DDL, make_clustered_points


def _entry_points(points: DataFrame, n_entry: int, seed: int) -> DataFrame:
    """The deleted stored anchor layer: the ``n_entry`` rows of each
    ``partition`` with the smallest ``xxhash64(id, seed)``, ties by id."""
    w = Window.partitionBy("partition").orderBy(
        F.xxhash64("id", F.lit(seed)), F.asc("id")
    )
    return (
        points.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_entry)
        .select("id", "features", "partition")
    )


def _rank(pool: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("id"))
    return pool.withColumn("__r", F.row_number().over(w))


def _truncate(pool: DataFrame, ef: int) -> DataFrame:
    return _rank(pool).filter(F.col("__r") <= ef).select(
        "query_id", "id", "sim", "expanded"
    )


def _reference_search(
    graph, queries, k, ef, beam, n_entry, max_iterations=20, seed=42, anchors=None
):
    """The deleted per-hop loop of ``graph_search_topk``: one shared
    pool per query, each hop an eager checkpoint over broadcast joins,
    reverse edges from the exploded adjacency."""
    points = graph.select("id", "features", "partition").localCheckpoint(eager=False)
    adj = (
        graph.filter(F.col("neighbors").isNotNull())
        .select("id", F.transform("neighbors", lambda s: s["id"]).alias("nb_ids"))
        .localCheckpoint(eager=False)
    )
    reverse = adj.select(F.col("id").alias("src"), F.explode("nb_ids").alias("id"))
    q = queries.select("query_id", F.col("q_vec").cast("array<double>").alias("q_vec"))
    if anchors is None:
        anchors = _entry_points(points, n_entry, seed)
    scored = anchors.select("id", "features", "partition").crossJoin(
        F.broadcast(q)
    ).select("query_id", "id", "partition", _sim("q_vec", "features").alias("sim"))
    wa = Window.partitionBy("query_id", "partition").orderBy(F.desc("sim"), F.asc("id"))
    pool = (
        scored.withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= n_entry)
        .select("query_id", "id", "sim", F.lit(False).alias("expanded"))
    )
    pool = _truncate(pool, ef).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        if not pool.filter(~F.col("expanded")).take(1):
            break
        f_pairs = (
            _rank(pool.filter(~F.col("expanded")))
            .filter(F.col("__r") <= beam)
            .select("query_id", "id")
        )
        fwd = adj.join(F.broadcast(f_pairs), "id").select(
            "query_id", F.explode("nb_ids").alias("id")
        )
        rev = reverse.join(F.broadcast(f_pairs), "id").select(
            "query_id", F.col("src").alias("id")
        )
        cand = (
            points.select("id", "features")
            .join(F.broadcast(fwd.unionByName(rev)), "id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id", "id", _sim("q_vec", "features").alias("sim"),
                F.lit(False).alias("expanded"),
            )
        )
        expanded = pool.join(
            F.broadcast(f_pairs.withColumn("__f", F.lit(True))),
            ["query_id", "id"], "left",
        ).select(
            "query_id", "id", "sim",
            (F.col("expanded") | F.col("__f").isNotNull()).alias("expanded"),
        )
        merged = (
            expanded.unionByName(cand)
            .repartition("query_id")
            .groupBy("query_id", "id")
            .agg(F.max("sim").alias("sim"), F.max("expanded").alias("expanded"))
        )
        pool = _truncate(merged, ef).localCheckpoint(eager=True)
    return _rank(pool).filter(F.col("__r") <= k).select(
        "query_id", F.col("id").alias("nb_id"), F.col("__r").alias("rank"), "sim"
    )


@pytest.fixture(scope="module")
def fixture(spark):
    """A one-partition graph with ``finished`` rows (null neighbor
    lists) and held-out queries."""
    rows = make_clustered_points(n_clusters=6, per_cluster=20, dim=8, finished_mod=17)
    pts = spark.createDataFrame(rows, POINT_DDL)
    g = build_graph(
        pts.filter(F.col("id") % 10 != 0), k=6, max_iterations=2, seed=42,
        validate=False,
    ).localCheckpoint(eager=True)
    q = pts.filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    ).localCheckpoint(eager=True)
    return g, q


def _bits(df):
    return sorted((r.query_id, r.rank, r.nb_id, float(r.sim).hex()) for r in df.collect())


@pytest.mark.parametrize(
    "case, kw",
    [
        ("flat", dict(k=5, ef=16, beam=4, n_entry=4, seed=7)),
        ("flat_one_hop", dict(k=5, ef=16, beam=4, n_entry=4, max_iterations=1)),
        ("entry_above_ef", dict(k=4, ef=6, beam=3, n_entry=10, seed=5)),
        ("masked", dict(k=5, ef=12, beam=3, n_entry=3, seed=11)),
        ("anchors", dict(k=5, ef=8, beam=2, n_entry=3, n_anchors=15, seed=3)),
    ],
)
def test_walk_equals_reference_loop_bit_for_bit(spark, fixture, case, kw):
    """Same (query_id, rank, nb_id, sim bits) as the deleted loop. The
    masked cases drop every 7th row, so neighbor lists hold stale ids
    that are no longer graph rows; the anchors case feeds the loop the
    stored anchor layer the walker now draws itself."""
    g, q = fixture
    if case in ("masked", "anchors"):
        g = g.filter(F.col("id") % 7 != 3)
    ref_kw = dict(kw)
    if case == "anchors":
        ref_kw["anchors"] = _entry_points(
            g.select("id", "features", "partition"), ref_kw.pop("n_anchors"), 3
        )
    assert g.filter(F.col("neighbors").isNull()).count() > 0  # finished rows
    got = _bits(graph_search_topk(g, q, **kw))
    assert got == _bits(_reference_search(g, q, **ref_kw))
    assert len(got) == kw["k"] * q.count()


def test_job_count_does_not_depend_on_hops(spark, fixture):
    g, q = fixture
    sc = spark.sparkContext
    jobs = {}
    for hops in (1, 20):
        group = f"search_walk_hops_{hops}"
        sc.setJobGroup(group, group)
        try:
            graph_search_topk(
                g, q, k=5, ef=16, beam=2, n_entry=2, max_iterations=hops
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[hops] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] == jobs[20] > 0


@pytest.mark.parametrize(
    "vecs",
    [
        [[float("nan")] + [0.0] * 7],
        [[0.0] * 4],  # 4 dims against an 8-dim graph
        [[None] + [0.0] * 7],
        [[float("inf")] + [0.0] * 7],
        [[0.0] * 8, [0.0] * 9],
    ],
    ids=["nan", "short", "null_element", "inf", "ragged"],
)
def test_bad_query_vectors_raise(spark, fixture, vecs):
    g, _ = fixture
    q = spark.createDataFrame(
        list(enumerate(vecs)), "query_id long, q_vec array<double>"
    )
    with pytest.raises(InvalidPointsError):
        graph_search_topk(g, q, k=3)


def test_query_chunks_change_no_row(spark, fixture, monkeypatch):
    """Splitting each partition's queries over several walkers (each
    with its own copy of the partition) returns the one-walker rows."""
    g, q = fixture
    one = None
    for chunks in (1, 3):
        monkeypatch.setattr(search, "_query_chunks", lambda *a, c=chunks: c)
        got = _bits(graph_search_topk(g, q, k=5, ef=16, beam=4, n_entry=4))
        assert one is None or got == one
        one = got


def test_query_chunks_use_idle_cores_while_work_outweighs_copies():
    part = lambda n, k: type("R", (), {"n": n, "k": k})  # noqa: E731
    # one partition of 20,000 rows, 4 cores, 320 hop work, K 10
    assert search._query_chunks([part(20000, 10)], 2000, 320, 4) == 4
    assert search._query_chunks([part(20000, 10)], 800, 320, 4) == 2
    assert search._query_chunks([part(20000, 10)], 32, 320, 4) == 1
    # eight partitions already fill 4 cores
    assert search._query_chunks([part(2500, 10)] * 8, 2000, 320, 4) == 1
    assert search._query_chunks([], 32, 320, 4) == 1


def test_worker_memory_bound_is_pyspark_memory_per_core():
    part = type("R", (), {"partition": 0, "n": 1000, "hi": 32, "k": 10})
    # the walker needs 8 · 1000 · (3 · 32 + 16 · 10) = 2,048,000 bytes
    search._check_worker_memory([part], {})  # Spark caps no worker
    search._check_worker_memory([part], {"spark.executor.pyspark.memory": "2m"})
    with pytest.raises(MemoryError, match="graph partition 0 holds 1000 rows"):
        search._check_worker_memory([part], {"spark.executor.pyspark.memory": "1m"})
    with pytest.raises(MemoryError):  # 8m shared by 8 cores
        search._check_worker_memory(
            [part],
            {"spark.executor.pyspark.memory": "8m", "spark.executor.cores": "8"},
        )


def test_oversized_partition_fails_before_the_walk(spark, fixture, monkeypatch):
    """The memory bound is checked while the search is planned, so an
    oversized partition raises before any walker is started."""
    g, q = fixture
    check = search._check_worker_memory
    tight = {"spark.executor.pyspark.memory": "1m", "spark.executor.cores": "64"}
    monkeypatch.setattr(search, "_check_worker_memory", lambda p, c: check(p, tight))
    with pytest.raises(MemoryError, match="graph partition 0 holds"):
        graph_search_topk(g, q, k=5)
    monkeypatch.undo()
    assert graph_search_topk(g, q, k=5).count() == 5 * q.count()


def _find(node, pred):
    """Every node of a JVM physical plan tree that ``pred`` accepts."""
    out = [node] if pred(node) else []
    kids = node.children()
    for i in range(kids.size()):
        out += _find(kids.apply(i), pred)
    return out


@pytest.mark.parametrize("seeding", ["flat", "anchors"])
def test_search_plan_is_one_cogroup_fed_by_one_partition_exchange(
    spark, fixture, seeding
):
    """One Arrow cogroup serves the whole batch: no sort-merge join or
    cartesian product anywhere, and the stored rows reach the walkers
    through exactly one shuffle, keyed by ``partition`` and query
    chunk."""
    g, q = fixture
    kw = dict(n_anchors=8, seed=3) if seeding == "anchors" else {}
    df = graph_search_topk(g, q, k=5, **kw)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    text = plan.toString()
    assert "SortMergeJoin" not in text
    assert "CartesianProduct" not in text
    cogroups = _find(plan, lambda n: "FlatMapCoGroupsInArrow" in n.nodeName())
    assert len(cogroups) == 1
    stored = cogroups[0].children().apply(0)
    shuffles = _find(stored, lambda n: n.nodeName() == "Exchange")
    assert len(shuffles) == 1
    assert "hashpartitioning(partition#" in shuffles[0].toString().split("\n")[0]
    assert ", chunk#" in shuffles[0].toString().split("\n")[0]
