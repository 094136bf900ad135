#!/usr/bin/env python
"""Graph-search serving-knob sweep: recall vs cost over an
(ef, beam, n_entry) grid against one fixed stored graph — the
measured tradeoff record for the q199/q201 serving tier (the
BENCH_NND_RHO convention applied to the search side).

Claims under test (the two knob axes have DIFFERENT jobs — the
nnd/search.py docstring's seeding law, measured):
- the bench corpus is 64 well-separated clusters, i.e. the K-NN graph
  is ~64 disconnected components a greedy walk can never cross:
  recall is gated by n_entry (seed coverage of the query's component,
  ~1-((C-1)/C)^n_entry) and ef/beam cannot buy it back;
- once seeds cover the components, ef/beam finish the job WITHIN the
  component — recall saturates at small ef/beam, and the walk scores
  O(iterations x beam x K) candidates per query and partition (each
  batch still ships the stored rows to the walkers once).

Usage: python scripts/bench_gs_sweep.py [N] (default 20000). Writes
$GS_SWEEP_OUT (default BENCH_GS_SWEEP.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "scripts")

from bench_graph_index import N_QUERIES, points  # noqa: E402

from spark_nnd_spark import get_spark  # noqa: E402
from spark_nnd_spark.nnd.search import brute_topk_l2  # noqa: E402
from spark_nnd_spark.operators import knn_graph_index as KG  # noqa: E402
from spark_nnd_spark.session import session_scratch_dir  # noqa: E402

K = 5
GRID = [
    # (ef, beam, n_entry) — axis 1: n_entry sweep at fixed ef/beam
    # (component coverage: expect ~1-(63/64)^n_entry against the
    # 64-cluster corpus), axis 2: ef/beam sweep at saturating n_entry
    # (in-component refinement: expect early saturation, flat wall)
    (64, 16, 16),
    (64, 16, 64),
    (64, 16, 128),
    (64, 16, 256),
    (64, 16, 512),
    (16, 4, 256),
    (32, 8, 256),
    (128, 32, 256),
]

# axis 3: the coarse ENTRY LAYER (use_anchors) — nearest-anchor
# seeding at tiny n_entry; expect the recall curve to shift LEFT at
# equal-or-lower search cost (the r14 stretch #8 ask): recall ~1.0 at
# n_entry where random seeding sits at its component-coverage floor
ANCHOR_GRID = [
    (64, 16, 4),
    (64, 16, 8),
    (64, 16, 16),
    (64, 16, 32),
]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = get_spark(app_name="gs_sweep", extra_conf={
        "spark.ui.showConsoleProgress": "false",
    })
    from pyspark.sql import functions as F  # noqa: PLC0415

    pts = points(spark, n).localCheckpoint(eager=True)
    pts.count()
    queries = (
        points(spark, N_QUERIES, id_base=50_000_000)
        .select(F.col("id").alias("query_id"), F.col("features").alias("q_vec"))
        .localCheckpoint(eager=True)
    )
    queries.count()
    path = session_scratch_dir("gs_sweep_idx_")
    KG.build_knn_graph_index(pts, path, k=10, max_iterations=4, seed=42)

    truth = {
        (r.query_id, r.nb_id)
        for r in brute_topk_l2(pts, queries, k=K).collect()
    }
    # untimed warm search so the first grid row is steady-state
    KG.graph_index_search(
        spark, path, queries, k=K, ef=16, beam=4, n_entry=8
    ).count()

    rows = []
    for ef, beam, n_entry in GRID:
        t0 = time.perf_counter()
        got = {
            (r.query_id, r.nb_id)
            for r in KG.graph_index_search(
                spark, path, queries, k=K, ef=ef, beam=beam, n_entry=n_entry
            ).collect()
        }
        wall = round(time.perf_counter() - t0, 2)
        rec = {
            "n": n,
            "ef": ef,
            "beam": beam,
            "n_entry": n_entry,
            "recall": round(len(got & truth) / len(truth), 4),
            "search_sec": wall,
        }
        rows.append(rec)
        print(f"# {json.dumps(rec)}", file=sys.stderr)

    for ef, beam, n_entry in ANCHOR_GRID:
        t0 = time.perf_counter()
        got = {
            (r.query_id, r.nb_id)
            for r in KG.graph_index_search(
                spark, path, queries, k=K, ef=ef, beam=beam,
                n_entry=n_entry, use_anchors=True,
            ).collect()
        }
        wall = round(time.perf_counter() - t0, 2)
        rec = {
            "n": n,
            "ef": ef,
            "beam": beam,
            "n_entry": n_entry,
            "anchors": True,
            "recall": round(len(got & truth) / len(truth), 4),
            "search_sec": wall,
        }
        rows.append(rec)
        print(f"# {json.dumps(rec)}", file=sys.stderr)

    dest = os.environ.get("GS_SWEEP_OUT", "BENCH_GS_SWEEP.json")
    with open(dest, "w") as f:
        json.dump(rows, f, indent=1)
        f.write("\n")
    print(json.dumps({"metric": "gs_sweep", "n": n, "out": dest}))


if __name__ == "__main__":
    main()
