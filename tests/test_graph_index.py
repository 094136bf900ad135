"""Persisted K-NN-graph index family (the 10th —
operators/knn_graph_index): build/read roundtrip, O(batch) extend
deltas with recall parity, live-id upsert, tombstone retraction,
retract-then-reingest readmission, compaction convergence, and the
ingest gate stream's replay==batch purity."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from spark_nnd_spark.operators import knn_graph_index as KG
from tests.conftest import make_clustered_points


pytestmark = pytest.mark.slow  # heavy tier: deselected from the default fast run

POINT_DDL = (
    "id long, features array<double>, label long, partition long, "
    "finished boolean"
)


def _pts(spark, seed: int = 42):
    return spark.createDataFrame(
        make_clustered_points(n_clusters=8, per_cluster=25, dim=8, seed=seed),
        POINT_DDL,
    )


def _edges(g):
    return {
        (r.id, r.nb)
        for r in g.select(
            "id",
            F.explode(F.transform("neighbors", lambda s: s["id"])).alias("nb"),
        ).collect()
    }


def test_build_read_roundtrip(spark, tmp_path):
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=10, max_iterations=4, seed=42)
    g = KG.read_graph(spark, d)
    assert g.count() == 200
    assert set(g.columns) == {
        "id", "features", "label", "partition", "finished", "neighbors",
    }
    row = g.filter(F.col("id") == 0).collect()[0]
    assert row.neighbors and len(row.neighbors) <= 10
    sims = [n.similarity for n in row.neighbors]
    assert sims == sorted(sims, reverse=True)


def test_extend_is_delta_write_with_recall_parity(spark, tmp_path):
    from tests.conftest import knn_oracle

    rows = make_clustered_points(n_clusters=8, per_cluster=25, dim=8, seed=42)
    pts = spark.createDataFrame(rows, POINT_DDL)
    base = pts.filter(F.col("id") % 2 == 0).localCheckpoint(eager=True)
    batch = pts.filter(F.col("id") % 2 == 1).localCheckpoint(eager=True)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(base, d, k=5, max_iterations=4, seed=3)
    KG.extend_knn_graph_index(spark, d, batch)

    g = KG.read_graph(spark, d)
    assert g.count() == 200
    # the write is a DELTA: appended update rows, base adjacency intact
    upd = spark.read.parquet(f"{d}/updates")
    assert 0 < upd.count() < 2 * 200  # bounded by touched rows, not graph²
    # new-node recall vs the exact numpy oracle over the FULL point set
    # (the update_graph contract, test_nnd conventions)
    oracle = knn_oracle(rows, 5)
    by_id = {
        r.id: {n.id for n in (r.neighbors or [])}
        for r in g.filter(F.col("id") % 2 == 1).collect()
    }
    hits = total = 0
    for i, got in by_id.items():
        want = {j for j, _ in oracle[i]}
        hits += len(got & want)
        total += len(want)
    assert total > 0 and hits / total >= 0.7, f"recall {hits/total:.3f}"


def test_extend_upserts_overlapping_live_id(spark, tmp_path):
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=3, seed=42)
    moved = spark.createDataFrame(
        [(0, [999.0] * 8, 7, 0, False)], POINT_DDL
    )
    KG.extend_knn_graph_index(spark, d, moved)
    g = KG.read_graph(spark, d)
    rows = g.filter(F.col("id") == 0).collect()
    assert len(rows) == 1  # single row wins, no duplicate
    assert rows[0].features == [999.0] * 8
    assert rows[0].label == 7


def test_retract_masks_rows_and_probe_results(spark, tmp_path):
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=10, max_iterations=4, seed=42)
    q = pts.filter(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    before = KG.graph_index_search(spark, d, q, k=5, ef=64, beam=16, n_entry=32)
    victim = [r.nb_id for r in before.filter(F.col("rank") == 1).collect()]
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(int(i),) for i in victim], "id long")
    )
    g = KG.read_graph(spark, d)
    assert g.filter(F.col("id").isin([int(i) for i in victim])).count() == 0
    after = KG.graph_index_search(spark, d, q, k=5, ef=64, beam=16, n_entry=32)
    assert after.filter(F.col("nb_id").isin([int(i) for i in victim])).count() == 0
    assert after.count() == 3 * 5  # still k rows per query


def test_readmission_after_retract(spark, tmp_path):
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=3, seed=42)
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(1,)], "id long")
    )
    assert KG.read_graph(spark, d).filter(F.col("id") == 1).count() == 0
    back = spark.createDataFrame([(1, [5.0] * 8, 9, 0, False)], POINT_DDL)
    KG.extend_knn_graph_index(spark, d, back)
    rows = KG.read_graph(spark, d).filter(F.col("id") == 1).collect()
    assert len(rows) == 1
    assert rows[0].features == [5.0] * 8  # only the NEW content
    assert not os.path.isdir(f"{d}/tombstones")  # log cleared


def test_compact_converges_and_prunes_lists(spark, tmp_path):
    pts = _pts(spark)
    base = pts.filter(F.col("id") < 150).localCheckpoint(eager=True)
    batch = pts.filter(F.col("id") >= 150).localCheckpoint(eager=True)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(base, d, k=5, max_iterations=3, seed=42)
    KG.extend_knn_graph_index(spark, d, batch)
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(5,), (160,)], "id long")
    )
    before = _edges(KG.read_graph(spark, d))
    KG.compact_knn_graph_index(spark, d)
    assert not os.path.isdir(f"{d}/updates")
    assert not os.path.isdir(f"{d}/tombstones")
    g = KG.read_graph(spark, d)
    # physical prune: retracted ids gone from rows AND neighbor lists
    assert g.filter(F.col("id").isin([5, 160])).count() == 0
    after = _edges(g)
    assert not any(nb in (5, 160) for _, nb in after)
    # compaction changes REPRESENTATION only: surviving edges equal the
    # pre-compact logical view minus edges INTO the retracted ids
    assert after == {e for e in before if e[1] not in (5, 160)}


def test_compact_mass_retraction_without_driver_literal(spark, tmp_path):
    """A tombstone log past the literal threshold (>4096 ids) takes the
    broadcast-join prune path: the id list never becomes a driver-side
    expression, and the compacted graph still equals the logical view
    minus edges into the retracted ids."""
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=3, seed=42)
    # 2 live victims + ~10^5 synthetic ids (absent ids mask nothing but
    # force the log over the threshold — a mass-retraction shape)
    tomb = spark.range(10_000_000, 10_100_000).select("id").unionByName(
        spark.createDataFrame([(5,), (160,)], "id long")
    )
    KG.retract_from_knn_graph_index(spark, d, tomb)
    before = _edges(KG.read_graph(spark, d))
    KG.compact_knn_graph_index(spark, d)
    assert not os.path.isdir(f"{d}/tombstones")
    g = KG.read_graph(spark, d)
    assert g.filter(F.col("id").isin([5, 160])).count() == 0
    after = _edges(g)
    assert not any(nb in (5, 160) for _, nb in after)
    assert after == {e for e in before if e[1] not in (5, 160)}
    # empty-list rows survive the explode/regroup prune as [] (not null)
    assert g.filter(F.col("neighbors").isNull() & ~F.col("finished")).count() == 0


def test_graph_gate_stream_replay_equals_batch(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from spark_nnd_spark.streaming.streams import graph_gate_stream

    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=10, max_iterations=4, seed=42)

    rng = np.random.default_rng(7)
    centers = rng.uniform(-50, 50, size=(4, 8))
    qvecs = [
        (1000 + i, [float(x) for x in centers[i % 4] + rng.normal(0, 1, 8)])
        for i in range(6)
    ]
    src = tmp_path / "queries"
    src.mkdir()
    for b in range(2):
        p = src / f"chunk{b}.parquet"
        pd.DataFrame(
            qvecs[3 * b : 3 * b + 3], columns=["vec_id", "embedding"]
        ).to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
    out = str(tmp_path / "gateout")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    graph_gate_stream(
        stream, d, out, checkpoint=str(tmp_path / "ck"),
        k=5, ef=64, beam=16, n_entry=32,
    )
    assert sorted(
        p for p in os.listdir(out) if p.startswith("graph_batch=")
    ) == ["graph_batch=0", "graph_batch=1"]
    streamed = sorted(
        (r.query_id, r.rank, r.nb_id, round(r.sim, 9))
        for r in spark.read.parquet(out).collect()
    )
    all_q = spark.createDataFrame(qvecs, "vec_id long, embedding array<double>")
    batch = sorted(
        (r.query_id, r.rank, r.nb_id, round(r.sim, 9))
        for r in KG.graph_index_search(
            spark, d, all_q, k=5, ef=64, beam=16, n_entry=32,
            query_id_col="vec_id", query_vec_col="embedding",
        ).collect()
    )
    assert streamed == batch
    assert len(streamed) == 6 * 5


def test_graph_gate_stream_admit_novel_closes_the_loop(spark, tmp_path):
    """admit_novel: batch 1's novel vectors are folded into the graph,
    so batch 2 sees them — a batch-2 duplicate of a batch-1 vector
    verdicts 'duplicate'; a far-away vector verdicts 'novel'. A full
    reprocess from a fresh checkpoint is a no-op (admission markers),
    leaving identical outputs."""
    import numpy as np
    import pandas as pd

    from spark_nnd_spark.streaming.streams import graph_gate_stream

    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=10, max_iterations=4, seed=42)

    rng = np.random.default_rng(3)
    v_new = [float(x) for x in rng.uniform(200, 250, 8)]  # far from corpus
    v_new2 = [float(x) for x in rng.uniform(-250, -200, 8)]
    batches = [
        [(1000, v_new), (1001, v_new2)],           # batch 0: both novel
        [(1002, v_new), (1003, [float(x) for x in rng.uniform(500, 550, 8)])],
    ]  # batch 1: 1002 duplicates the ADMITTED 1000; 1003 novel
    src = tmp_path / "queries"
    src.mkdir()
    for b, rows in enumerate(batches):
        p = src / f"chunk{b}.parquet"
        pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
            p, index=False
        )
        os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
    out = str(tmp_path / "gateout")

    def run(ck):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        graph_gate_stream(
            stream, d, out, checkpoint=str(tmp_path / ck),
            k=3, ef=64, beam=16, n_entry=32,
            admit_novel=True, novel_sim_tau=0.9,
        )
        return sorted(
            (r.query_id, r.verdict)
            for r in spark.read.parquet(out)
            .select("query_id", "verdict")
            .distinct()
            .collect()
        )

    first = run("ck1")
    assert first == [
        (1000, "novel"), (1001, "novel"), (1002, "duplicate"), (1003, "novel"),
    ]
    # the duplicate's nearest stored neighbor IS the admitted 1000
    top = spark.read.parquet(out).filter(
        (F.col("query_id") == 1002) & (F.col("rank") == 1)
    ).collect()[0]
    assert top.nb_id == 1000 and top.sim >= 0.9
    # novel rows were admitted into the stored graph
    g = KG.read_graph(spark, d)
    assert g.filter(F.col("id").isin([1000, 1001, 1003])).count() == 3
    assert g.filter(F.col("id") == 1002).count() == 0
    # reprocess from a fresh checkpoint: markers skip both batches,
    # outputs identical, no double admission
    assert run("ck2") == first
    assert KG.read_graph(spark, d).count() == 200 + 3


def test_double_extend_content_update_latest_wins(spark, tmp_path):
    """Updating an id that lives only in the UPDATES table (extended
    twice, never compacted): the overlap purge may empty the updates
    table mid-extend (the max(batch)=None regression), and resolution
    must serve the second version before AND after compaction."""
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=3, seed=42)
    v1 = spark.createDataFrame([(500, [1.0] * 8, 1, 0, False)], POINT_DDL)
    v2 = spark.createDataFrame([(500, [2.0] * 8, 2, 0, False)], POINT_DDL)
    KG.extend_knn_graph_index(spark, d, v1)
    KG.extend_knn_graph_index(spark, d, v2)
    rows = KG.read_graph(spark, d).filter(F.col("id") == 500).collect()
    assert len(rows) == 1 and rows[0].features == [2.0] * 8
    KG.compact_knn_graph_index(spark, d)
    rows = KG.read_graph(spark, d).filter(F.col("id") == 500).collect()
    assert len(rows) == 1 and rows[0].features == [2.0] * 8
    assert KG.read_graph(spark, d).count() == 201


def test_anchor_seeded_search_beats_flat_seeding_at_small_entry(spark, tmp_path):
    """The coarse entry layer (HNSW-upper-layer move): with n_anchors
    limited and n_entry tiny, anchor-seeded search must reach at least
    flat-seeded recall — and near-exact recall on clustered data,
    because every seed lands in the query's own region instead of a
    random component (the BENCH_GS_SWEEP entry-domination finding)."""
    from tests.conftest import knn_oracle

    rows = make_clustered_points(n_clusters=8, per_cluster=25, dim=8, seed=42)
    pts = spark.createDataFrame(rows, POINT_DDL)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(
        pts, d, k=10, max_iterations=4, seed=42, n_anchors=24
    )
    q = pts.filter(F.col("id") % 40 == 3).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    oracle = knn_oracle(rows, 6)

    def recall(df):
        hits = total = 0
        by_q = {}
        # self is its own nearest under 1/(1+L2); drop it before grading
        for r in df.collect():
            by_q.setdefault(r.query_id, set()).add(r.nb_id)
        for qid, got in by_q.items():
            got = got - {qid}
            want = {j for j, _ in oracle[qid][:5]}
            hits += len(got & want)
            total += len(want)
        return hits / total

    flat = KG.graph_index_search(spark, d, q, k=6, ef=32, beam=8, n_entry=2)
    anch = KG.graph_index_search(
        spark, d, q, k=6, ef=32, beam=8, n_entry=2, use_anchors=True
    )
    r_flat, r_anch = recall(flat), recall(anch)
    assert r_anch >= r_flat
    assert r_anch >= 0.9, f"anchor-seeded recall {r_anch:.3f}"


def test_retracted_anchor_cannot_seed_or_surface(spark, tmp_path):
    """A tombstoned node that happens to be an anchor must not appear
    in results, before or after compaction: anchors are drawn from the
    masked rows, under the same masking rules as every read."""
    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=10, max_iterations=3, seed=42, n_anchors=200)
    q = pts.filter(F.col("id") < 2).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    before = KG.graph_index_search(
        spark, d, q, k=3, ef=32, beam=8, n_entry=4, use_anchors=True
    )
    victims = [int(r.nb_id) for r in before.filter(F.col("rank") == 1).collect()]
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(i,) for i in victims], "id long")
    )
    after = KG.graph_index_search(
        spark, d, q, k=3, ef=32, beam=8, n_entry=4, use_anchors=True
    )
    assert after.filter(F.col("nb_id").isin(victims)).count() == 0
    assert after.count() == 2 * 3
    KG.compact_knn_graph_index(spark, d)
    compacted = KG.graph_index_search(
        spark, d, q, k=3, ef=32, beam=8, n_entry=4, use_anchors=True
    )
    assert compacted.filter(F.col("nb_id").isin(victims)).count() == 0
    assert compacted.count() == 2 * 3


def test_retracting_every_anchor_keeps_anchor_search_serving(spark, tmp_path):
    """Retracting all ``n_anchors`` anchors of an index leaves an
    anchor-seeded search with k live rows per query, before and after
    compaction: the next-ranked live rows become the anchors."""
    pts = spark.createDataFrame(
        make_clustered_points(n_clusters=4, per_cluster=25, dim=8, seed=42),
        POINT_DDL,
    )
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=3, seed=42, n_anchors=4)
    # the anchors: the 4 rows of smallest (xxhash64(id, seed), id)
    anchors = [
        int(r.id)
        for r in pts.orderBy(F.xxhash64("id", F.lit(42)), "id").limit(4).collect()
    ]
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(i,) for i in anchors], "id long")
    )
    q = pts.filter(F.col("id") % 10 == 1).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    for compacted in (False, True):
        if compacted:
            KG.compact_knn_graph_index(spark, d)
        got = KG.graph_index_search(
            spark, d, q, k=3, ef=32, beam=8, n_entry=4, use_anchors=True
        )
        per_query = {
            r.query_id: r["count"] for r in got.groupBy("query_id").count().collect()
        }
        assert per_query == {r.query_id: 3 for r in q.collect()}, compacted
        assert got.filter(F.col("nb_id").isin(anchors)).count() == 0


def test_anchor_search_of_an_index_without_n_anchors_raises(spark, tmp_path):
    """An index whose ``meta`` predates ``n_anchors`` cannot say which
    anchors it was persisted with: an anchor-seeded search raises, and
    a flat-seeded one still serves."""
    import shutil

    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(pts, d, k=5, max_iterations=2, seed=42)
    meta = spark.read.parquet(f"{d}/meta").drop("n_anchors").localCheckpoint()
    shutil.rmtree(f"{d}/meta")
    meta.write.parquet(f"{d}/meta")
    q = pts.filter(F.col("id") < 2).select(
        F.col("id").alias("query_id"), F.col("features").alias("q_vec")
    )
    with pytest.raises(ValueError, match="persisted without n_anchors"):
        KG.graph_index_search(spark, d, q, k=3, use_anchors=True)
    assert KG.graph_index_search(spark, d, q, k=3).count() == 2 * 3


def test_index_stores_only_points_adjacency_and_meta(spark, tmp_path):
    """After persist → extend → retract → compact the index directory
    holds its two data tables and ``meta`` alone."""
    rows = make_clustered_points(n_clusters=4, per_cluster=25, dim=8, seed=42)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(
        spark.createDataFrame(rows[:90], POINT_DDL), d, k=5, max_iterations=2,
        seed=42,
    )
    KG.extend_knn_graph_index(spark, d, spark.createDataFrame(rows[90:], POINT_DDL))
    KG.retract_from_knn_graph_index(
        spark, d, spark.createDataFrame([(3,), (95,)], "id long")
    )
    KG.compact_knn_graph_index(spark, d)
    assert sorted(os.listdir(d)) == ["adjacency", "meta", "points"]


def test_graph_gate_stream_anchor_seeded_equals_batch(spark, tmp_path):
    """The gate's use_anchors pass-through: anchor-seeded gating equals
    the anchor-seeded batch search row-for-row (the replay==batch
    contract at the small n_entry the coarse layer exists for)."""
    import numpy as np
    import pandas as pd

    from spark_nnd_spark.streaming.streams import graph_gate_stream

    pts = _pts(spark)
    d = str(tmp_path / "g")
    KG.build_knn_graph_index(
        pts, d, k=10, max_iterations=3, seed=42, n_anchors=200
    )

    rng = np.random.default_rng(11)
    centers = rng.uniform(-50, 50, size=(4, 8))
    qvecs = [
        (2000 + i, [float(x) for x in centers[i % 4] + rng.normal(0, 1, 8)])
        for i in range(4)
    ]
    src = tmp_path / "aq"
    src.mkdir()
    for b in range(2):
        p = src / f"chunk{b}.parquet"
        pd.DataFrame(
            qvecs[2 * b : 2 * b + 2], columns=["vec_id", "embedding"]
        ).to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))
    out = str(tmp_path / "agateout")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    graph_gate_stream(
        stream, d, out, checkpoint=str(tmp_path / "ack"),
        k=3, ef=32, beam=8, n_entry=4, use_anchors=True,
    )
    streamed = sorted(
        (r.query_id, r.rank, r.nb_id, round(r.sim, 9))
        for r in spark.read.parquet(out).collect()
    )
    all_q = spark.createDataFrame(qvecs, "vec_id long, embedding array<double>")
    batch = sorted(
        (r.query_id, r.rank, r.nb_id, round(r.sim, 9))
        for r in KG.graph_index_search(
            spark, d, all_q, k=3, ef=32, beam=8, n_entry=4,
            query_id_col="vec_id", query_vec_col="embedding",
            use_anchors=True,
        ).collect()
    )
    assert streamed == batch
    assert len(streamed) == 4 * 3
