#!/usr/bin/env python
"""Persisted K-NN-graph family scale benchmark: build + fixed-batch
extend + graph-served probe at doubling corpus sizes.

Claims under test (the 10th family's twin of bench_token_stats.py):
- PROBE runs a fixed number of Spark jobs whatever the hop count, but
  its shuffle is CORPUS-bounded: every stored row (vector and
  adjacency) crosses one exchange into its partition's walker per
  batch (nnd/search.graph_search_topk), so probe shuffle grows with N,
  while the walk itself scores O(Q·P·iters·beam·K) candidates on a
  graph of P partitions;
- EXTEND of a fixed-size batch is O(min(corpus, batch·draws·bucket·K̄))
  in shuffle (update_graph_delta): every exchange is bounded by the
  TOUCHED set — the batch's bucket cohorts plus, per descent hop, the
  candidate-receiving rows' neighbor groups, so the corpus-
  independent bound is batch·draws·bucket_size·K̄ members and the
  curve only flattens once corpus >> that bound (r15 per-stage
  diagnosis). BATCH=2000 bounds at ~1.6M and SMALL_BATCH=250 at
  ~200k — both corpus-saturated at every size here, so those curves
  track corpus; TINY_BATCH=16 (bound ~13k << 80k) is the flat-regime
  measurement;
- BUILD pays the NND O(ρKN) shuffle law already measured in
  BENCH_NND_SCALE.json (re-reported here per size for context).

Usage: python scripts/bench_graph_index.py [N ...] (default 20000
40000 80000). Writes BENCH_GRAPH_INDEX_OUT if set (default
BENCH_GRAPH_INDEX.json).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from spark_nnd_spark import get_spark  # noqa: E402
from spark_nnd_spark.operators import knn_graph_index as KG  # noqa: E402
from spark_nnd_spark.session import session_scratch_dir  # noqa: E402

SEED = 42
DIM = 16
N_CLUSTERS = 64
BATCH = 2_000  # fixed-size extend batch at every corpus size
SMALL_BATCH = 250  # bound ~200k members: corpus-saturated at these sizes
TINY_BATCH = 16  # bound ~13k members << 80k: the flat-regime sweep
N_QUERIES = 16


def points(spark, n: int, id_base: int = 0):
    """Deterministic clustered vectors (per-row seeded RNG so any id
    range regenerates identically)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64) + id_base
            feats = []
            for i in ids:
                rng = np.random.default_rng([SEED, int(i)])
                c = np.random.default_rng(
                    [SEED, int(i) % N_CLUSTERS]
                ).uniform(-50, 50, DIM)
                feats.append((c + rng.normal(0, 1.0, DIM)).tolist())
            yield pd.DataFrame({"id": ids, "features": feats})

    return spark.range(n).repartition(32).mapInPandas(
        gen, "id long, features array<double>"
    )


def stage_writes(spark) -> dict[int, int]:
    try:
        base = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages"
            )
        )
        return {s["stageId"]: s.get("shuffleWriteBytes", 0) for s in stages}
    except Exception:
        return {}


def _delta(before: dict, after: dict) -> float:
    return round(
        sum(w for sid, w in after.items() if sid not in before) / 1e6, 2
    )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 40_000, 80_000]
    spark = get_spark(
        app_name="graph_index_scale_bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
        },
    )
    queries = (
        points(spark, N_QUERIES, id_base=50_000_000)
        .select(F.col("id").alias("query_id"), F.col("features").alias("q_vec"))
        .localCheckpoint(eager=True)
    )
    queries.count()
    results = []
    for n in sizes:
        pts = points(spark, n).localCheckpoint(eager=True)
        pts.count()
        batch = points(spark, BATCH, id_base=10_000_000 + n).localCheckpoint(
            eager=True
        )
        batch.count()
        path = session_scratch_dir(f"graph_idx_scale_{n}_")

        b0 = stage_writes(spark)
        t0 = time.perf_counter()
        KG.build_knn_graph_index(pts, path, k=10, max_iterations=4, seed=SEED)
        build_sec = round(time.perf_counter() - t0, 2)
        b1 = stage_writes(spark)

        t0 = time.perf_counter()
        res = KG.graph_index_search(
            spark, path, queries, k=5, ef=64, beam=16, n_entry=64
        )
        n_res = res.count()
        probe_sec = round(time.perf_counter() - t0, 2)
        b2probe = stage_writes(spark)

        # tiny-batch extend FIRST, on the pristine index: a prior batch's
        # pending update delta inflates every later extend's read-side
        # resolution (the latest-per-id window scans O(prior deltas)),
        # which polluted the flat-regime measurement when tiny ran last
        tiny = points(spark, TINY_BATCH, id_base=30_000_000 + n)
        tiny = tiny.localCheckpoint(eager=True)
        tiny.count()
        b2t = stage_writes(spark)
        t0 = time.perf_counter()
        KG.extend_knn_graph_index(spark, path, tiny)
        extend_tiny_sec = round(time.perf_counter() - t0, 2)
        b2 = stage_writes(spark)

        t0 = time.perf_counter()
        KG.extend_knn_graph_index(spark, path, batch)
        extend_sec = round(time.perf_counter() - t0, 2)
        b3 = stage_writes(spark)

        # probe again THROUGH the pending update deltas: the read-tax
        # path (the resolved adjacency)
        t0 = time.perf_counter()
        n_res2 = KG.graph_index_search(
            spark, path, queries, k=5, ef=64, beam=16, n_entry=64
        ).count()
        probe_upd_sec = round(time.perf_counter() - t0, 2)
        b4 = stage_writes(spark)

        # small-batch extend on the same index. NOTE the honest bound
        # (r15 per-stage diagnosis): extend shuffle is
        # O(min(corpus, batch·draws·bucket·K̄)) — the batch's cohort
        # members receive candidates and their NEIGHBORS' groups go
        # live on the next hop, so the touched set saturates the
        # corpus until N >> batch·draws·bucket·K̄. For SMALL_BATCH=250
        # that bound is ~200k members — above every corpus size here,
        # so this curve still tracks corpus. The TINY_BATCH=16 sweep
        # below (bound ~13k << 80k) is the flat-regime measurement.
        small = points(spark, SMALL_BATCH, id_base=20_000_000 + n)
        small = small.localCheckpoint(eager=True)
        small.count()
        b4 = stage_writes(spark)
        t0 = time.perf_counter()
        KG.extend_knn_graph_index(spark, path, small)
        extend_small_sec = round(time.perf_counter() - t0, 2)
        b5 = stage_writes(spark)

        rec = {
            "n": n,
            "build_sec": build_sec,
            "build_shuffle_mb": _delta(b0, b1),
            "probe_sec": probe_sec,
            "probe_rows": n_res,
            "probe_shuffle_mb": _delta(b1, b2probe),
            "extend_sec": extend_sec,
            "extend_batch": BATCH,
            "extend_shuffle_mb": _delta(b2, b3),
            "probe_after_extend_sec": probe_upd_sec,
            "probe_after_extend_rows": n_res2,
            "probe_after_extend_shuffle_mb": _delta(b3, b4),
            "extend_small_batch": SMALL_BATCH,
            "extend_small_sec": extend_small_sec,
            "extend_small_shuffle_mb": _delta(b4, b5),
            "extend_tiny_batch": TINY_BATCH,
            "extend_tiny_sec": extend_tiny_sec,
            "extend_tiny_shuffle_mb": _delta(b2t, b2),
        }
        results.append(rec)
        print(json.dumps(rec))
    out = os.environ.get("BENCH_GRAPH_INDEX_OUT", "BENCH_GRAPH_INDEX.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
