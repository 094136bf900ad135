"""The block-form NN-Descent kernels (nnd/descent.py): one Arrow call per
block of groups must give exactly what one call per group gave, and bad
vectors must fail loudly.

The numpy tests compare the block kernels with per-group references
copied from the one-call-per-group pandas kernels they replaced; the
Spark tests check that the built and updated graphs do not depend on how
many blocks or shuffle partitions the work is cut into."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from spark_nnd_spark.nnd import descent as D
from spark_nnd_spark.schemas import InvalidPointsError
from tests.conftest import POINT_DDL, make_clustered_points

K = 3


def _reference_local_join(members, is_new, feats, kth, k):
    """One group A(v), as the former per-group ``_local_join_kernel``
    scored it (its body, with numpy arrays in place of a pandas frame)."""
    cap = 2 * k
    ids = np.asarray(members, np.int64)
    isnew = np.asarray(is_new, bool)
    uniq, first_idx, inv = np.unique(ids, return_index=True, return_inverse=True)
    m = len(uniq)
    if m < 2:
        return []
    new_u = np.zeros(m, dtype=bool)
    np.logical_or.at(new_u, inv, isnew)
    if not new_u.any():
        return []
    feats = np.stack(feats).astype(np.float64)[first_idx]
    thr = np.asarray(kth, np.float64)[first_idx]
    new_idx = np.flatnonzero(new_u)
    n_new = len(new_idx)
    a = feats[new_idx]
    d2 = (
        (a * a).sum(axis=1)[:, None]
        + (feats * feats).sum(axis=1)[None, :]
        - 2.0 * (a @ feats.T)
    )
    np.maximum(d2, 0.0, out=d2)
    sims = 1.0 / (1.0 + np.sqrt(d2))
    sims[np.arange(n_new), new_idx] = -np.inf
    out = []
    kk = min(cap, m - 1)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    rsims = np.take_along_axis(sims, order, axis=1)
    rmask = np.isfinite(rsims) & (rsims >= thr[new_idx][:, None])
    rows = np.broadcast_to(np.arange(n_new)[:, None], rmask.shape)[rmask]
    out += zip(uniq[new_idx[rows]], uniq[order[rmask]], rsims[rmask])
    old_idx = np.flatnonzero(~new_u)
    if len(old_idx):
        csims = sims[:, old_idx]
        order2 = np.argsort(-csims, axis=0, kind="stable")[: min(cap, n_new), :]
        cs = np.take_along_axis(csims, order2, axis=0)
        cmask = np.isfinite(cs) & (cs >= thr[old_idx][None, :])
        cols = np.broadcast_to(np.arange(len(old_idx))[None, :], cmask.shape)[cmask]
        out += zip(uniq[old_idx[cols]], uniq[new_idx[order2[cmask]]], cs[cmask])
    return out


def _reference_init(bucket, ids, feats, seed, k):
    """One bucket, as the former per-bucket ``_init_kernel`` drew it."""
    m = len(ids)
    if m < 2:
        return []
    ids = np.asarray(ids, np.int64)
    feats = np.stack(feats).astype(np.float64)
    rng = np.random.default_rng([seed & 0x7FFFFFFF, bucket & 0x7FFFFFFFFFFF])
    draws = rng.integers(0, m, size=(m, k))
    src = np.repeat(np.arange(m), k)
    dst = draws.ravel()
    mask = src != dst
    src, dst = src[mask], dst[mask]
    diff = feats[src] - feats[dst]
    sims = 1.0 / (1.0 + np.sqrt((diff * diff).sum(axis=1)))
    return list(zip(ids[src], ids[dst], sims))


def _rows(tbl: pa.Table):
    d = tbl.to_pydict()
    return sorted(zip(d["id"], d["nb_id"], d["sim"]))


def _vectors(rng, n, dim=6):
    return [rng.normal(size=dim).astype(np.float32) for _ in range(n)]


def test_block_local_join_equals_per_group_reference():
    rng = np.random.default_rng(7)
    vec = dict(enumerate(_vectors(rng, 40), start=100))
    vec[131] = vec[130].copy()  # exact similarity ties
    vec[132] = vec[130].copy()
    kth = {i: float(rng.uniform(0.05, 0.4)) for i in vec}
    kth[101] = kth[102] = float("-inf")
    kth[130] = kth[131] = kth[132] = float("-inf")
    groups = {
        # duplicate members (forward ∪ reverse ∪ self), mixed flags
        100: [(100, False), (101, True), (102, False), (101, False), (103, True),
              (102, True), (104, False), (105, False), (106, False)],
        # all old: nothing to score
        110: [(110, False), (111, False), (112, False)],
        # single member
        120: [(120, True)],
        # exact ties, -inf thresholds, more members than the 2K cap
        130: [(130, False), (131, True), (132, False)]
        + [(j, j % 3 == 0) for j in range(133, 140)],
        # one new member among old ones: column side only
        101: [(101, False), (107, True), (108, False), (109, False), (100, False)],
    }
    want, rows = [], []
    for v, members in groups.items():
        ids = [m for m, _ in members]
        flags = [f for _, f in members]
        want += _reference_local_join(ids, flags, [vec[i] for i in ids], [kth[i] for i in ids], K)
        rows += [(v, m, f) for m, f in members]
    order = rng.permutation(len(rows))  # arrival order must not matter
    rows_tbl = pa.table({
        "v": pa.array([rows[i][0] for i in order], pa.int64()),
        "member": pa.array([rows[i][1] for i in order], pa.int64()),
        "is_new": pa.array([rows[i][2] for i in order], pa.bool_()),
    })
    used = sorted({m for _, m, _ in rows}) + [999]  # 999: in no group
    vec[999] = np.zeros(6, np.float32)
    kth[999] = 0.0
    feats_tbl = pa.table({
        "member": pa.array(used[::-1], pa.int64()),
        "member_features": pa.array([vec[i].tolist() for i in used[::-1]], pa.list_(pa.float32())),
        "kth_sim": pa.array([kth[i] for i in used[::-1]], pa.float64()),
    })
    got = _rows(D._local_join_block(K)(rows_tbl, feats_tbl))
    assert got == sorted(want)  # bit-identical similarities
    assert len(got) > 20


def test_block_local_join_drops_members_without_vectors():
    rng = np.random.default_rng(3)
    vec = _vectors(rng, 4)
    rows_tbl = pa.table({
        "v": pa.array([0, 0, 0, 0], pa.int64()),
        "member": pa.array([0, 1, 2, 77], pa.int64()),
        "is_new": pa.array([False, True, False, True], pa.bool_()),
    })
    feats_tbl = pa.table({
        "member": pa.array([0, 1, 2], pa.int64()),
        "member_features": pa.array([v.tolist() for v in vec[:3]], pa.list_(pa.float32())),
        "kth_sim": pa.array([float("-inf")] * 3, pa.float64()),
    })
    got = _rows(D._local_join_block(K)(rows_tbl, feats_tbl))
    want = _reference_local_join([0, 1, 2], [False, True, False], vec[:3], [float("-inf")] * 3, K)
    assert got == sorted(want) and all(77 not in r[:2] for r in got)


def test_block_init_equals_per_bucket_reference():
    rng = np.random.default_rng(11)
    buckets = rng.integers(1, 6, size=60)
    buckets[0] = 9  # a single-member bucket
    ids = np.arange(1000, 1060)
    vec = _vectors(rng, 60)
    want = []
    for b in np.unique(buckets):
        at = np.flatnonzero(buckets == b)  # arrival order within the bucket
        want += _reference_init(int(b), ids[at], [vec[i] for i in at], 42, K)
    tbl = pa.table({
        "bucket": pa.array(buckets, pa.int64()),
        "id": pa.array(ids, pa.int64()),
        "features": pa.array([v.tolist() for v in vec], pa.list_(pa.float32())),
    })
    assert _rows(D._init_kernel(42, K)(tbl)) == sorted(want)


@pytest.mark.parametrize(
    "lists",
    [
        [[1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0, 5.0]],  # 8 values: reshapes to (2, 4)
        [[1.0, 2.0], None],
    ],
)
def test_ragged_or_null_vectors_raise(lists):
    with pytest.raises(InvalidPointsError):
        D._float_matrix(pa.chunked_array([pa.array(lists, pa.list_(pa.float32()))]))


def test_murmur3_matches_spark_hash_and_blocks_spread(spark):
    from pyspark.sql import functions as F

    vals = [0, 1, 2, 3, 41, -1, -7, 2**31, 2**40 + 5, -(2**62), 2**63 - 1]
    got = spark.createDataFrame([(v,) for v in vals], "x long").select(
        "x", F.hash("x").alias("h")
    ).collect()
    assert {r.x: r.h for r in got} == {v: D._murmur3_long(v) for v in vals}
    # every block lands on its own partition while blocks <= partitions
    for n in (1, 2, 4, 7):
        labels = spark.range(200).select(
            D._block_of("id", n, n).alias("b")
        ).distinct().collect()
        parts = sorted(D._murmur3_long(r.b) % n for r in labels)
        assert parts == list(range(n))


def _lists(df):
    return {r.id: [(n.id, n.similarity) for n in r.neighbors] for r in df.collect()}


def test_graph_independent_of_blocks_and_partitions(spark, monkeypatch):
    """build_graph and update_graph return bit-identical lists (and
    per-iteration update counts) at 1, 4 and 7 shuffle partitions and
    when a tiny per-block cap makes one block per group; update_graph's
    lists are prev with update_graph_delta's rows applied."""
    from spark_nnd_spark.nnd.descent import build_graph, update_graph, update_graph_delta

    rows = make_clustered_points(n_clusters=4, per_cluster=30, dim=8, seed=5, n_partitions=2)
    rows[7] = (rows[7][0], list(rows[6][1]), rows[7][2], rows[6][3], False)  # exact tie
    pts = spark.createDataFrame(rows, POINT_DDL).localCheckpoint(eager=True)
    prev = build_graph(pts.filter("id % 5 != 0"), k=4, max_iterations=2, seed=9)
    prev = prev.localCheckpoint(eager=True)

    def run():
        its, its2 = [], []
        g = build_graph(pts, k=4, max_iterations=1, seed=9, on_iteration=lambda i, u: its.append(u))
        up = update_graph(prev, pts, k=4, max_iterations=1, seed=9,
                          on_iteration=lambda i, u: its2.append(u))
        return its, _lists(g), its2, _lists(up)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in (4, 1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            results[parts] = run()
        monkeypatch.setattr(D, "_BLOCK_BYTES", 1)
        results["tiny"] = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    ref = results[4]
    assert ref[0] and ref[2] and len(ref[1]) == 120
    for key, res in results.items():
        assert res == ref, f"differs at {key}"
    # update_graph is prev with update_graph_delta's changed rows applied
    delta = update_graph_delta(prev, pts, k=4, max_iterations=1, seed=9)
    applied = {r.id: [] for r in pts.select("id").collect()}
    applied.update(_lists(prev))
    applied.update(_lists(delta))
    assert applied == ref[3]


def test_extend_rejects_non_finite_vectors(spark, tmp_path):
    import os

    from spark_nnd_spark.operators import index_lifecycle as IL
    from spark_nnd_spark.operators import knn_graph_index as KG

    rows = make_clustered_points(n_clusters=4, per_cluster=15, dim=8, seed=2)
    d = str(tmp_path / "g")
    # a corpus holding an all-NaN point is rejected before anything is written
    nan_row = (rows[0][0], [float("nan")] * 8, *rows[0][2:])
    with pytest.raises(InvalidPointsError, match="NaN, infinite or null"):
        KG.build_knn_graph_index(
            spark.createDataFrame([nan_row, *rows[1:]], POINT_DDL), d, k=4,
            max_iterations=1, seed=1,
        )
    assert not os.path.exists(d)
    KG.build_knn_graph_index(
        spark.createDataFrame(rows, POINT_DDL), d, k=4, max_iterations=1, seed=1
    )
    for bad, msg in (
        ([float("nan")] * 8, "NaN, infinite or null"),
        ([1.0] * 7 + [float("inf")], "NaN, infinite or null"),
        # finite, but 4-dim against the index's 8-dim points
        ([1.0] * 4, "one length"),
    ):
        batch = spark.createDataFrame([(500, bad, 0, 0, False)], POINT_DDL)
        with pytest.raises(InvalidPointsError, match=msg):
            KG.extend_knn_graph_index(spark, d, batch)
    assert spark.read.parquet(f"{d}/points").count() == 60
    assert not IL.exists(spark, f"{d}/updates")
