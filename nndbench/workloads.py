"""The benchmark's workloads. Each drives the program through its public
API only and checks every output against the numpy oracle.

A workload has a ``setup`` (untimed for the operation metrics, reported
as ``setup_s``) and a ``round`` made of whole operations; a run repeats
rounds until its measuring time is used up, at least once. Every
operation is one public call and counts once in ``attempted``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle

K = 10
NND_PARAMS = dict(
    k=K, max_iterations=5, early_termination=0.01, sample_rate=1.0,
    buckets_per_instance=4,
)
SETTLE_S = 2.0


def _write_points(path: str, ids: np.ndarray, X: np.ndarray) -> None:
    pq.write_table(
        pa.table({
            "id": pa.array(ids, pa.int64()),
            "features": pa.array(list(X), pa.list_(pa.float64())),
        }),
        path,
    )


def _frame(spark, ids, X, id_col="id", vec_col="features"):
    return spark.createDataFrame(
        pd.DataFrame({id_col: np.asarray(ids, np.int64), vec_col: list(np.asarray(X))}),
        f"{id_col} long, {vec_col} array<double>",
    )


def call(ctx, name: str, fn, *args):
    """Run one public call as an attempted operation inside a span. An
    exception counts the operation as failed and returns None."""
    ctx.ledger.attempted += 1
    with ctx.tracer.span(name) as sp:
        try:
            result = fn(*args)
        except Exception as exc:  # noqa: BLE001 - a failed operation is a result
            ctx.ledger.failed += 1
            ctx.log(f"{name} failed: {type(exc).__name__}: {exc}")
            result = None
    ctx.log(f"{name}: {sp.wall:.2f} s wall, {sp.cpu:.1f} CPU-s, {sp.steal:.1f} s stolen")
    return sp, result


def settle(ctx, seconds: float = SETTLE_S) -> None:
    """End a warm-up: collect the JVM's heap and let the JIT compiler
    threads drain the methods the warm-up queued, so the timed calls do
    not start at a point that depends on how far they got."""
    ctx.spark.sparkContext._jvm.java.lang.System.gc()  # noqa: SLF001
    time.sleep(seconds)


class NndBuild784:
    """A full ``build_graph`` of ``points_emnist_like`` at N=2,000, dim
    784, with the reference's README parameters. A one-iteration warm-up
    build of 64 points runs in set-up: it compiles the same plans and
    starts the Python workers, so the timed build does not pay the
    session's first-use costs; ``settle`` then ends the warm-up. On a 4-vCPU host a cold 2,000-point build
    ran ~10 s longer than a warm one; this warm-up takes ~14 s where a
    256-point, 5-iteration one took ~21 s."""

    name = "nnd_build_784"
    N = 2000
    WARMUP_N = 64

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from spark_nnd_spark import build_graph

        ctx = self.ctx
        self.build_graph = build_graph
        self.ids, self.X = inputs.emnist_like(ctx.seed, self.N)
        w_ids, w_X = inputs.emnist_like(ctx.seed, self.WARMUP_N, stream="warmup")
        main_path = os.path.join(ctx.out, "build.parquet")
        warm_path = os.path.join(ctx.out, "warmup.parquet")
        _write_points(main_path, self.ids, self.X)
        _write_points(warm_path, w_ids, w_X)
        self.points = ctx.spark.read.parquet(main_path)
        truth_ids, _ = oracle.exact_knn(self.X, self.X, self.ids, K, q_ids=self.ids)
        self.truth = {int(i): t for i, t in zip(self.ids, truth_ids)}
        self.vectors = {int(i): x for i, x in zip(self.ids, self.X)}
        with ctx.tracer.span("session.warmup"):
            self.build_graph(
                ctx.spark.read.parquet(warm_path), seed=ctx.seed,
                **{**NND_PARAMS, "max_iterations": 1},
            ).collect()
            settle(ctx)

    def round(self, r: int) -> dict:
        ctx = self.ctx

        def build():
            return self.build_graph(
                self.points, seed=ctx.seed + r,
                on_iteration=lambda _i, n_updated: ctx.tracer.mark(n_updated),
                **NND_PARAMS,
            ).collect()

        shuffle0 = ctx.shuffle_written()
        sp, rows = call(ctx, "nnd.descent.build", build)
        shuffle = ctx.shuffle_written() - shuffle0
        out = {"round_s": sp.wall, "write_s": sp.wall, "write_cpu_s": sp.cpu,
               "write_shuffle_mb": shuffle / 1e6}
        if rows is None:
            return out
        lists = {
            int(row["id"]): [(int(n["id"]), float(n["similarity"])) for n in row["neighbors"]]
            for row in rows
            if row["neighbors"] is not None
        }
        ctx.ledger.check("build", oracle.check_lists(
            lists, self.ids, self.vectors, self.vectors, K,
            self_edges_forbidden=True, full_length=False,
        ))
        if len(rows) != self.N:
            ctx.ledger.check("build", [f"{len(rows)} rows returned, want {self.N}"])
        out["recall"] = oracle.recall(
            {i: [n for n, _ in nb] for i, nb in lists.items()}, self.truth
        )
        return out


class IndexIngestServe32:
    """A persisted K-NN-graph index of 2,000 clustered 32-dim vectors whose
    graph is numpy-exact, so no NN-Descent runs in set-up. One round is
    the ingest-then-serve sequence: extend by 32 new points; search 32
    queries (``use_anchors=True``), 16 near the points just ingested and
    16 near stored ones, while the extend's delta is still pending;
    retract 8 ids (4 just ingested, and the 4 stored points next round's
    first stored queries are drawn from); compact.

    The index pins ``UPDATE_ITERATIONS`` NN-Descent iterations for its
    extends (the reference's 5 for the build): an extend's cost is per
    Spark job, and each iteration adds jobs, so two make a warm extend
    ~12 s instead of ~16 s while recall@10 stays at 0.98-1.0, and leave
    room in a run for the warm-up. Set-up ends with a warm-up round on
    round 0's batch, the round's calls but the search: the first extend of
    a session ran 1.5-2x the wall and 2-3x the CPU of the next ones (JIT
    and query-code compilation), so the timed extend, retract and compact
    are warm. The timed search is the session's first, ~1.3x a warm one;
    warming it too cost 7-10 s a run, and so did a separate search of the
    compacted index after each round, which the 22-run check has no room
    for; that search reads a subset of what the pending-delta one reads."""

    name = "index_ingest_serve_32"
    N = 2000
    BATCH = 32
    FRESH_QUERIES = 16
    STORED_QUERIES = 16
    RETRACT_STORED = 4
    RETRACT_NEW = 4
    UPDATE_ITERATIONS = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        from spark_nnd_spark.operators import knn_graph_index as KG

        ctx = self.ctx
        self.KG = KG
        self.corpus = inputs.ClusteredCorpus(ctx.seed, self.N)
        ids, X = self.corpus.ids, self.corpus.X
        nb_ids, nb_sims = oracle.exact_knn(X, X, ids, K, q_ids=ids)
        graph_path = os.path.join(ctx.out, "graph.parquet")
        nb_type = pa.list_(pa.struct([("id", pa.int64()), ("similarity", pa.float64())]))
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "features": pa.array(list(X), pa.list_(pa.float64())),
                "label": pa.array([None] * len(ids), pa.int64()),
                "partition": pa.array(np.zeros(len(ids), np.int64)),
                "finished": pa.array(np.zeros(len(ids), bool)),
                "neighbors": pa.array(
                    [
                        [{"id": int(a), "similarity": float(b)} for a, b in zip(ri, rs)]
                        for ri, rs in zip(nb_ids, nb_sims)
                    ],
                    nb_type,
                ),
            }),
            graph_path,
        )
        self.path = os.path.join(ctx.out, "index")
        self.live = {int(i): x for i, x in zip(ids, X)}
        self.retracted: set[int] = set()
        with ctx.tracer.span("operators.knn_graph_index.persist"):
            KG.persist_graph_index(
                ctx.spark.read.parquet(graph_path), self.path, seed=ctx.seed,
                **{**NND_PARAMS, "max_iterations": self.UPDATE_ITERATIONS},
            )
        with ctx.tracer.span("session.warmup"):
            self._round(0, search=False)
            settle(ctx)

    def _search(self, name: str, qv: np.ndarray):
        ctx = self.ctx
        q = _frame(ctx.spark, np.arange(len(qv)), qv, "query_id", "q_vec")

        def search():
            return self.KG.graph_index_search(
                ctx.spark, self.path, q, k=K, use_anchors=True, seed=ctx.seed,
            ).collect()

        sp, rows = call(ctx, name, search)
        if rows is None:
            return sp, None
        lists, errors = oracle.search_lists(rows)
        qvec = {i: v for i, v in enumerate(qv)}
        errors += oracle.check_lists(
            lists, range(len(qv)), qvec, self.live, K,
            self_edges_forbidden=False, full_length=True,
            forbidden_ids=self.retracted,
        )
        ctx.ledger.check(name, errors)
        live_ids = np.fromiter(self.live, np.int64)
        live_X = np.stack([self.live[int(i)] for i in live_ids])
        truth, _ = oracle.exact_knn(qv, live_X, live_ids, K)
        returned = {qid: [n for n, _ in nb] for qid, nb in lists.items()}
        return sp, (returned, {i: t for i, t in enumerate(truth)})

    def round(self, r: int) -> dict:
        # round 0's batch went into the warm-up
        return self._round(r + 1)

    def _stored_queries(self, r: int):
        """Round ``r``'s queries near stored points, and the ids of the
        points they are drawn from."""
        corpus = self.corpus
        qv, src = corpus.queries_near(f"stored{r}", corpus.X, self.STORED_QUERIES)
        return qv, corpus.ids[src]

    def _round(self, r: int, search: bool = True) -> dict:
        ctx, KG = self.ctx, self.KG
        new_ids, new_X = self.corpus.batch(r, self.BATCH)
        new_df = _frame(ctx.spark, new_ids, new_X)

        shuffle0 = ctx.shuffle_written()
        extend, _ = call(ctx, "operators.knn_graph_index.extend",
                         KG.extend_knn_graph_index, ctx.spark, self.path, new_df)
        shuffle = ctx.shuffle_written() - shuffle0
        self.live.update((int(i), x) for i, x in zip(new_ids, new_X))

        probe, res = None, None
        if search:
            fresh_q, _ = self.corpus.queries_near(f"fresh{r}", new_X, self.FRESH_QUERIES)
            stored_q, _ = self._stored_queries(r)
            probe, res = self._search(
                "operators.knn_graph_index.probe", np.vstack([fresh_q, stored_q])
            )

        # the stored points the next round's first stored queries sit
        # next to, so that round shows whether a retracted id surfaces
        _, next_src = self._stored_queries(r + 1)
        stored = [int(i) for i in dict.fromkeys(next_src) if int(i) in self.live]
        gone = stored[: self.RETRACT_STORED] + [int(i) for i in new_ids[: self.RETRACT_NEW]]
        gone_df = ctx.spark.createDataFrame(
            pd.DataFrame({"id": np.array(gone, np.int64)}), "id long"
        )
        retract, _ = call(ctx, "operators.index_lifecycle.retract",
                          KG.retract_from_knn_graph_index, ctx.spark, self.path, gone_df)
        for i in gone:
            self.live.pop(i, None)
        self.retracted.update(gone)

        compact, _ = call(ctx, "operators.knn_graph_index.compact",
                          KG.compact_knn_graph_index, ctx.spark, self.path)

        out = {
            "round_s": sum(sp.wall for sp in (extend, probe, retract, compact) if sp),
            "write_s": extend.wall,
            "write_cpu_s": extend.cpu,
            "write_shuffle_mb": shuffle / 1e6,
        }
        if res:
            out["recall"] = oracle.recall(*res)
        return out


WORKLOADS = {w.name: w for w in (NndBuild784, IndexIngestServe32)}

