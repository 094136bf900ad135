#!/usr/bin/env python
"""Extend cost with pending deltas: Spark jobs, wall and shuffle of one
32-point ``extend_knn_graph_index`` when 0, 1, 2, 4 and 8 earlier
extends' deltas are still pending (not compacted).

nndbench compacts every round, so its timed extend never resolves a
pending delta (``_latest_updates``) or scans ``updates/`` for the next
batch number. This record measures that path on nndbench's
``index_ingest_serve_32`` index: 2,000 clustered 32-dim points, a
numpy-exact K=10 graph, 2 update hops pinned, a warm-up extend, retract
and compact, then nine extends in a row without compaction.

Usage, from the root of the checkout to measure:

    python scripts/bench_extend_pending.py --side change [--seeds 7 11]

It writes (or updates) that side's entry of ``BENCH_EXTEND_PENDING.json``
in the current directory; run it once from each checkout to compare
two versions of the program (copy the script into the other checkout
first).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "nndbench")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import oracle  # noqa: E402

K = 10
N = 2000
BATCH = 32
EXTENDS = 9  # pending deltas before each: 0..8
REPORT = (0, 1, 2, 4, 8)
OUT = "BENCH_EXTEND_PENDING.json"


def _index(spark, KG, seed: int, work: str):
    corpus = inputs.ClusteredCorpus(seed, N)
    ids, X = corpus.ids, corpus.X
    nb_ids, nb_sims = oracle.exact_knn(X, X, ids, K, q_ids=ids)
    nb_type = pa.list_(pa.struct([("id", pa.int64()), ("similarity", pa.float64())]))
    graph = os.path.join(work, "graph.parquet")
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "features": pa.array(list(X), pa.list_(pa.float64())),
        "label": pa.array([None] * N, pa.int64()),
        "partition": pa.array(np.zeros(N, np.int64)),
        "finished": pa.array(np.zeros(N, bool)),
        "neighbors": pa.array(
            [[{"id": int(a), "similarity": float(b)} for a, b in zip(r, s)]
             for r, s in zip(nb_ids, nb_sims)],
            nb_type,
        ),
    }), graph)
    path = os.path.join(work, "index")
    KG.persist_graph_index(
        spark.read.parquet(graph), path, k=K, max_iterations=2,
        early_termination=0.01, sample_rate=1.0, buckets_per_instance=4, seed=seed,
    )
    return corpus, path


def _batch(spark, corpus, r: int):
    i, x = corpus.batch(r, BATCH)
    return spark.createDataFrame(
        pd.DataFrame({"id": i, "features": list(x)}), "id long, features array<double>"
    )


def measure(spark, seed: int, work: str) -> list[dict]:
    from spark_nnd_spark.operators import knn_graph_index as KG

    sc = spark.sparkContext
    status = sc._jsc.sc()  # noqa: SLF001

    def shuffle_written() -> int:
        status.listenerBus().waitUntilEmpty()
        return int(status.statusStore().executorSummary("driver").totalShuffleWrite())

    corpus, path = _index(spark, KG, seed, work)
    # warm-up round as nndbench's: extend, retract, compact
    KG.extend_knn_graph_index(spark, path, _batch(spark, corpus, 0))
    KG.retract_from_knn_graph_index(
        spark, path, spark.createDataFrame([(int(corpus.ids[0]),)], "id long")
    )
    KG.compact_knn_graph_index(spark, path)
    rows = []
    for pending in range(EXTENDS):
        batch = _batch(spark, corpus, pending + 1)
        group = f"extend_pending_{seed}_{pending}"
        sc.setJobGroup(group, group)
        shuffle0 = shuffle_written()
        t0 = time.perf_counter()
        try:
            KG.extend_knn_graph_index(spark, path, batch)
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        if pending in REPORT:
            rows.append({
                "seed": seed,
                "pending_deltas": pending,
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                "wall_s": round(wall, 3),
                "shuffle_mb": round((shuffle_written() - shuffle0) / 1e6, 3),
            })
    return rows


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--side", required=True, help="label of the checkout measured")
    p.add_argument("--seeds", type=int, nargs="+", default=[7, 11])
    args = p.parse_args()
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        q for q in (os.getcwd(), os.environ.get("PYTHONPATH")) if q
    )
    from spark_nnd_spark import get_spark

    work = os.path.abspath(os.path.join(".bench_out", "extend_pending"))
    spark = get_spark(
        app_name="bench_extend_pending",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    rows = []
    try:
        for seed in args.seeds:
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            rows += measure(spark, seed, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    record = json.load(open(OUT)) if os.path.exists(OUT) else {}
    record.setdefault("sides", {})[args.side] = rows
    record["setup"] = (
        f"nndbench index_ingest_serve_32 index (N={N}, dim 32, K={K}, 2 update "
        f"hops), {BATCH}-point extends after a warm-up round, no compaction "
        f"between them; local[{cpus}] on {platform.machine()}, one run per seed"
    )
    with open(OUT, "w") as f:
        json.dump(record, f, indent=2)
        f.write("\n")
    for r in rows:
        print(args.side, r)


if __name__ == "__main__":
    main()
