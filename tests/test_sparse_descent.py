"""The sparse NN-Descent update (nnd/descent._descend_sparse and
update_graph_delta) over one checkpointed table of touched rows must
return exactly what the loop it replaced returned, row for row and
update count for update count, and each extra hop of an index extend
must cost a bounded number of Spark jobs.

``_reference_update_delta`` is a copy of the replaced loop (the
``hot``/``prev`` working-row split with its per-hop ``live_v``,
``member_ids``, ``affected`` and ``settled`` checkpoints, and the diff
joined back to ``prev`` and to the points), kept here as the oracle the
rewrite is compared with bit for bit."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_nnd_spark.nnd import descent as D
from spark_nnd_spark.nnd.descent import build_graph, update_graph_delta
from spark_nnd_spark.operators import knn_graph_index as KG
from spark_nnd_spark.schemas import normalize_points
from tests.conftest import POINT_DDL, make_clustered_points


def _reference_converged(graph, iteration, on_iteration, early_termination, k, n):
    updated = graph.agg(
        F.coalesce(
            F.sum(F.size(F.filter("neighbors", lambda n: n["is_new"]))), F.lit(0)
        ).alias("u")
    ).first()["u"]
    if on_iteration is not None:
        on_iteration(iteration, int(updated))
    return updated <= early_termination * k * n


def _reference_descend_sparse(
    active, prev, hot, k, max_iterations, early_termination, sample_rate, seed,
    threshold_n, n_blocks, on_iteration=None,
):
    """The replaced loop: ``prev`` outside ``hot``'s ids, ``hot`` inside."""
    feats_all = active.select(
        F.col("id").alias("member"),
        F.col("features").cast("array<float>").alias("member_features"),
    )
    reverse = prev.select(
        F.col("id").alias("src"), F.explode("neighbors").alias("nb")
    ).select(F.col("nb.id").alias("id"), "src")

    iterations_run = 0
    for _ in range(max_iterations):
        hot_ids_b = F.broadcast(hot.select("id"))
        hot_src_b = F.broadcast(hot.select(F.col("id").alias("src")))

        def work_rows(ids: DataFrame, hot=hot, hot_ids_b=hot_ids_b) -> DataFrame:
            ids_b = F.broadcast(ids.select(F.col(ids.columns[0]).alias("id")))
            stable = (
                prev.join(hot_ids_b, "id", "left_anti")
                .join(ids_b, "id", "left_semi")
                .select("id", D._flag_old().alias("neighbors"))
            )
            return stable.unionByName(
                hot.join(ids_b, "id", "left_semi").select("id", "neighbors")
            )

        dirty = hot.filter(F.exists("neighbors", lambda n: n["is_new"]))
        new_tgt = (
            dirty.select(F.explode("neighbors").alias("nb"))
            .filter(F.col("nb.is_new"))
            .select(F.col("nb.id").alias("v"))
        )
        live_v = (
            dirty.select(F.col("id").alias("v"))
            .unionByName(new_tgt)
            .distinct()
            .localCheckpoint(eager=True)
        )
        live_b = F.broadcast(live_v)
        fwd = (
            work_rows(live_v)
            .select(F.col("id").alias("v"), F.explode("neighbors").alias("nb"))
            .select(
                "v", F.col("nb.id").alias("member"), F.col("nb.is_new").alias("is_new")
            )
        )
        rev_stable = (
            reverse.join(F.broadcast(live_v.select(F.col("v").alias("id"))), "id", "left_semi")
            .join(hot_src_b, "src", "left_anti")
            .select(
                F.col("id").alias("v"), F.col("src").alias("member"),
                F.lit(False).alias("is_new"),
            )
        )
        rev_hot = (
            hot.select(F.col("id").alias("src"), F.explode("neighbors").alias("nb"))
            .select(
                F.col("nb.id").alias("v"), F.col("src").alias("member"),
                F.col("nb.is_new").alias("is_new"),
            )
            .join(live_b, "v", "left_semi")
        )
        rev = D._sample_reverse(
            rev_stable.unionByName(rev_hot), sample_rate, seed, iterations_run
        )
        self_m = live_v.select("v", F.col("v").alias("member"), F.lit(False).alias("is_new"))
        adj = fwd.unionByName(rev).unionByName(self_m)
        member_ids = (
            adj.select(F.col("member").alias("id")).distinct().localCheckpoint(eager=True)
        )
        kth = work_rows(member_ids).select(F.col("id").alias("member"), D._kth_sim(k))
        feats_iter = D._with_kth(
            feats_all.join(
                F.broadcast(member_ids.select(F.col("id").alias("member"))),
                "member", "left_semi",
            ),
            kth,
        )
        cands = D._local_join(adj, feats_iter, k, n_blocks).localCheckpoint(eager=True)
        affected = cands.select("id").distinct().localCheckpoint(eager=True)
        merged = D._merge(work_rows(affected), cands, k)
        settled = hot.join(F.broadcast(affected), "id", "left_anti").select(
            "id", D._flag_old().alias("neighbors")
        )
        hot = merged.unionByName(settled).localCheckpoint(eager=True)
        iterations_run += 1
        if _reference_converged(
            hot, iterations_run, on_iteration, early_termination, k, threshold_n
        ):
            break
    return hot


def _reference_update_delta(
    prev, df, k, max_iterations=3, early_termination=0.01, sample_rate=1.0,
    buckets_per_instance=4, seed=42, on_iteration=None, new_ids=None,
):
    """The replaced ``update_graph_delta``."""
    points = normalize_points(df)
    active = points.filter(~F.col("finished")).select("id", "features", "partition")
    prev_nb = prev.select("id", "neighbors")
    if new_ids is None:
        new_ids = active.select("id").join(prev_nb.select("id"), "id", "left_anti")
    n_new = new_ids.count()
    geo = D._bucket_members(active, k, buckets_per_instance, seed) if n_new else None
    if geo is None:
        return df.sparkSession.createDataFrame(
            [], f"id long, neighbors {D._OUT_NEIGHBOR.simpleString()}, partition long"
        )
    members, _, n_blocks = geo
    live_buckets = (
        members.join(F.broadcast(new_ids), "id", "left_semi").select("bucket").distinct()
    )
    members = members.join(F.broadcast(live_buckets), "bucket", "left_semi")
    init_cands = D._init_cands(members, seed, k, n_blocks)
    new_flag = F.broadcast(new_ids.withColumn("__new", F.lit(True)))
    init_cands = (
        init_cands.join(new_flag, "id", "left")
        .withColumnRenamed("__new", "__new_id")
        .join(new_flag.withColumnRenamed("id", "nb_id"), "nb_id", "left")
        .filter(F.col("__new_id").isNotNull() | F.col("__new").isNotNull())
        .select("id", "nb_id", "sim")
        .localCheckpoint(eager=True)
    )
    affected0 = init_cands.select("id").distinct()
    hot0 = D._merge(
        prev_nb.join(F.broadcast(affected0), "id", "left_semi"), init_cands, k
    ).localCheckpoint(eager=True)
    hot = _reference_descend_sparse(
        active, prev_nb, hot0, k, max_iterations, early_termination,
        sample_rate, seed, n_new, n_blocks, on_iteration,
    )
    hot_clean = hot.select("id", D._out_lists().alias("neighbors"))
    prev_touched = prev_nb.join(F.broadcast(hot.select("id")), "id", "left_semi").select(
        "id", F.col("neighbors").alias("__old")
    )
    changed = (
        hot_clean.join(prev_touched, "id", "left")
        .filter(F.col("__old").isNull() | (F.col("neighbors") != F.col("__old")))
        .select("id", "neighbors")
    ).localCheckpoint(eager=True)
    part = points.select("id", "partition").join(
        F.broadcast(changed.select("id")), "id", "left_semi"
    )
    return changed.join(F.broadcast(part), "id").select("id", "neighbors", "partition")


def _rows(df):
    return sorted(
        (r.id, tuple((n.id, float(n.similarity).hex()) for n in r.neighbors), r.partition)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def tie_fixture(spark):
    """The planted-tie points of test_graph_independent_of_blocks_and_
    partitions, over two partitions, with every 5th point held out of
    the prior graph."""
    rows = make_clustered_points(n_clusters=4, per_cluster=30, dim=8, seed=5, n_partitions=2)
    rows[7] = (rows[7][0], list(rows[6][1]), rows[7][2], rows[6][3], False)  # exact tie
    pts = spark.createDataFrame(rows, POINT_DDL).localCheckpoint(eager=True)
    prev = build_graph(pts.filter("id % 5 != 0"), k=4, max_iterations=2, seed=9)
    return pts, prev.localCheckpoint(eager=True)


@pytest.mark.parametrize("hops", [1, 2, 3])
def test_delta_equals_reference_loop_bit_for_bit(spark, tie_fixture, hops):
    """Same changed rows (sim bits included) and per-hop update counts
    as the replaced loop, at 1, 4 and 7 shuffle partitions."""
    pts, prev = tie_fixture
    kw = dict(k=4, max_iterations=hops, early_termination=0.0, seed=9)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (4, 1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got_its, want_its = [], []
            got = _rows(update_graph_delta(
                prev, pts, on_iteration=lambda i, u: got_its.append((i, u)), **kw
            ))
            want = _rows(_reference_update_delta(
                prev, pts, on_iteration=lambda i, u: want_its.append((i, u)), **kw
            ))
            assert got == want, f"rows differ at {parts} partitions"
            assert got_its == want_its, f"update counts differ at {parts} partitions"
            assert len(got) > 24 and len(got_its) == hops
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_delta_equals_reference_with_sampled_reverse_edges(spark, tie_fixture):
    pts, prev = tie_fixture
    kw = dict(k=4, max_iterations=2, early_termination=0.0, sample_rate=0.5, seed=3)
    assert _rows(update_graph_delta(prev, pts, **kw)) == _rows(
        _reference_update_delta(prev, pts, **kw)
    )


def test_delta_equals_reference_past_the_broadcast_threshold(spark, tie_fixture):
    """With autoBroadcastJoinThreshold off, the pairs, K-th similarities
    and stored lists join through exchanges, as on a large touched set,
    and the rows and update counts are still the replaced loop's."""
    pts, prev = tie_fixture
    kw = dict(k=4, max_iterations=2, early_termination=0.0, seed=9)
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got_its, want_its = [], []
        got = _rows(update_graph_delta(
            prev, pts, on_iteration=lambda i, u: got_its.append((i, u)), **kw
        ))
        want = _rows(_reference_update_delta(
            prev, pts, on_iteration=lambda i, u: want_its.append((i, u)), **kw
        ))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert got == want and got_its == want_its and len(got) > 24


def test_lone_new_point_writes_no_row(spark, tie_fixture):
    """A new point alone in its partition draws no init candidate, so the
    touched table stays empty through every hop (each checkpoint still
    reports its update count) and no row changes."""
    pts, prev = tie_fixture
    lone = spark.createDataFrame([(900, [0.0] * 8, 0, 5, False)], POINT_DDL)
    old = pts.filter("id % 5 != 0")
    its = []
    got = update_graph_delta(
        prev, old.unionByName(lone), k=4, max_iterations=2, early_termination=-1.0,
        seed=9, on_iteration=lambda i, u: its.append((i, u)),
    )
    assert got.collect() == [] and its == [(1, 0), (2, 0)]


def _index(spark, tmp_path, name):
    """A persisted index of the first 100 of 120 clustered points, built
    by NN-Descent with two update hops pinned; the other 20 are for
    extends."""
    rows = make_clustered_points(n_clusters=4, per_cluster=30, dim=8, seed=5)
    d = str(tmp_path / name)
    KG.build_knn_graph_index(
        spark.createDataFrame(rows[:100], POINT_DDL), d, k=4, max_iterations=2, seed=9
    )
    return rows, d


def _updates(spark, d):
    return sorted(
        (r.id, tuple((n.id, float(n.similarity).hex()) for n in r.neighbors),
         r.partition, r.batch)
        for r in spark.read.parquet(f"{d}/updates").collect()
    )


def test_index_extend_equals_reference_loop(spark, tmp_path, monkeypatch):
    """Through the persisted index: an extend with a delta pending, with
    tombstones, with a re-admitted id and with a live-id overlap writes
    the same update rows as the replaced loop."""
    rows, base = _index(spark, tmp_path, "base")

    def frame(rs):
        return spark.createDataFrame(rs, POINT_DDL)

    def extends(d):
        KG.extend_knn_graph_index(spark, d, frame(rows[100:106]))  # pending delta
        KG.retract_from_knn_graph_index(
            spark, d, spark.createDataFrame([(3,), (41,), (101,)], "id long")
        )
        moved = [(41, [x + 0.5 for x in rows[41][1]], *rows[41][2:])]  # re-admitted
        overlap = [(7, [x - 0.25 for x in rows[7][1]], *rows[7][2:])]  # still live
        KG.extend_knn_graph_index(spark, d, frame(rows[106:113] + moved + overlap))
        return _updates(spark, d)

    got_dir, want_dir = str(tmp_path / "got"), str(tmp_path / "want")
    shutil.copytree(base, got_dir)
    shutil.copytree(base, want_dir)
    got = extends(got_dir)
    monkeypatch.setattr(KG, "update_graph_delta", _reference_update_delta)
    want = extends(want_dir)
    assert got == want
    assert {r[3] for r in got} == {0, 1} and len(got) > 20


def _extend_jobs(spark, d, batch, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        KG.extend_knn_graph_index(spark, d, batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs one sparse hop may add to an extend. A hop takes three
# checkpoints, each one job plus its exchanges: the live groups
# (live-id and loaded-id broadcasts), the fresh members' rows
# (member-id and stored-row broadcasts) and the next touched lists (the
# local join's pair exchange and broadcast and its two block exchanges,
# the merge exchange, the K-th similarity broadcast). That is 13 jobs
# on the nndbench index; the replaced loop paid 30.
HOP_JOB_BUDGET = 15


def test_each_extend_hop_adds_a_bounded_number_of_jobs(spark, tmp_path):
    """One extend of the same batch into copies of one index pinned to
    0–3 hops (a negative δ keeps every hop running): each extra hop
    adds at most ``HOP_JOB_BUDGET`` jobs."""
    rows, base = _index(spark, tmp_path, "base")
    batch = spark.createDataFrame(rows[100:110], POINT_DDL)
    jobs = []
    for hops in range(4):
        d = str(tmp_path / f"h{hops}")
        shutil.copytree(base, d)
        shutil.rmtree(f"{d}/meta")
        spark.createDataFrame(
            [(4, hops, -1.0, 1.0, 4, 9, 256)],
            "k long, max_iterations long, early_termination double, "
            "sample_rate double, buckets_per_instance long, seed long, "
            "n_anchors long",
        ).coalesce(1).write.parquet(f"{d}/meta")
        jobs.append(_extend_jobs(spark, d, batch, f"extend_hops_{hops}"))
    steps = [b - a for a, b in zip(jobs, jobs[1:])]
    assert all(0 < s <= HOP_JOB_BUDGET for s in steps), (jobs, steps)
