#!/usr/bin/env python
"""K-NN-graph ingest-gate scale benchmark: the streaming face of the
10th family (streaming/streams.graph_gate_stream) driven per
micro-batch against doubling corpus sizes — the r14 VERDICT's last
unmeasured stream.

Claims under test:
- the PER-BATCH probe ships every stored row through one exchange
  into its partition's walker (graph_index_search: one Arrow cogroup,
  a job count that does not depend on the hop count), so gate probe
  scan and shuffle grow with N, while the walk itself scores
  O(Q·P·iters·beam·K) candidates on a graph of P partitions;
- ADMISSION (admit_novel=True → extend_knn_graph_index) scales with
  the batch's novel rows' bucket-cohort neighborhood, not the corpus
  (the update_graph_delta contract measured in BENCH_GRAPH_INDEX);
- replay safety costs nothing extra per batch (exclude_ids masking +
  one marker write).

Each micro-batch carries NOVEL_PER + DUP_PER vectors: far-uniform
novels (admitted into the graph, so batch i+1 probes a grown graph)
and near-cluster duplicates (gated out). Verdict counts are asserted,
so the measurement can't silently probe nothing.

Usage: python scripts/bench_graph_gate.py [N ...] (default 20000
40000 80000). Writes $BENCH_GRAPH_GATE_OUT (default
BENCH_GRAPH_GATE.json).
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
sys.path.insert(0, "scripts")

from bench_graph_index import SEED, points, stage_writes  # noqa: E402

from spark_nnd_spark import get_spark  # noqa: E402
from spark_nnd_spark.operators import knn_graph_index as KG  # noqa: E402
from spark_nnd_spark.session import session_scratch_dir  # noqa: E402
from spark_nnd_spark.streaming.streams import graph_gate_stream  # noqa: E402

DIM = 16
N_BATCHES = 2
NOVEL_PER = 100
DUP_PER = 100
TAU = 0.05  # in-cluster nearest ~0.15 sim; far-uniform ~0.001


def _delta(before: dict, after: dict) -> float:
    return round(
        sum(w for sid, w in after.items() if sid not in before) / 1e6, 2
    )


def _write_batches(spark, src: str, n: int) -> None:
    rng = np.random.default_rng([SEED, 9999])
    os.makedirs(src, exist_ok=True)
    for b in range(N_BATCHES):
        novel = rng.uniform(200 + 100 * b, 250 + 100 * b, (NOVEL_PER, DIM))
        # duplicates: regenerate corpus-like vectors (same cluster
        # centers the index was built from)
        dup_rows = []
        for i in range(DUP_PER):
            c = np.random.default_rng(
                [SEED, int(i) % 64]
            ).uniform(-50, 50, DIM)
            dup_rows.append(c + rng.normal(0, 1.0, DIM))
        vecs = np.vstack([novel, np.array(dup_rows)])
        ids = 70_000_000 + b * (NOVEL_PER + DUP_PER) + np.arange(len(vecs))
        p = os.path.join(src, f"chunk{b}.parquet")
        pd.DataFrame(
            {"vec_id": ids, "embedding": [v.tolist() for v in vecs]}
        ).to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 40_000, 80_000]
    spark = get_spark(
        app_name="graph_gate_scale_bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    results = []
    for n in sizes:
        pts = points(spark, n).localCheckpoint(eager=True)
        pts.count()
        path = session_scratch_dir(f"graph_gate_{n}_")
        t0 = time.perf_counter()
        # n_anchors=1024: the duplicate-detection assertion needs every
        # one of the 64 clusters anchor-covered (miss prob per cluster
        # (63/64)^1024 ~ 1e-7); random-entry seeding would need
        # n_entry ≈ cluster count instead (the BENCH_GS_SWEEP finding)
        KG.build_knn_graph_index(
            pts, path, k=10, max_iterations=4, seed=SEED, n_anchors=1024
        )
        build_sec = round(time.perf_counter() - t0, 2)

        src = session_scratch_dir(f"graph_gate_q_{n}_")
        _write_batches(spark, src, n)
        out = session_scratch_dir(f"graph_gate_out_{n}_")
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        b0 = stage_writes(spark)
        t0 = time.perf_counter()
        graph_gate_stream(
            stream, path, out, checkpoint=session_scratch_dir(f"gate_ck_{n}_"),
            k=5, ef=64, beam=16, n_entry=16, use_anchors=True,
            admit_novel=True, novel_sim_tau=TAU, timeout_sec=600,
        )
        gate_sec = round(time.perf_counter() - t0, 2)
        b1 = stage_writes(spark)

        from pyspark.sql import functions as F  # noqa: PLC0415

        verdicts = {
            r["verdict"]: r["c"]
            for r in spark.read.parquet(out)
            .select("query_id", "verdict")
            .distinct()
            .groupBy("verdict")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        expect_novel = N_BATCHES * NOVEL_PER
        expect_dup = N_BATCHES * DUP_PER
        ok = (
            verdicts.get("novel", 0) == expect_novel
            and verdicts.get("duplicate", 0) == expect_dup
        )
        rec = {
            "n": n,
            "build_sec": build_sec,
            "batches": N_BATCHES,
            "rows_per_batch": NOVEL_PER + DUP_PER,
            "novel_admitted": verdicts.get("novel", 0),
            "duplicates_gated": verdicts.get("duplicate", 0),
            "verdicts_ok": ok,
            "gate_sec": gate_sec,
            "gate_sec_per_batch": round(gate_sec / N_BATCHES, 2),
            "gate_shuffle_mb": _delta(b0, b1),
            "gate_shuffle_mb_per_batch": round(
                _delta(b0, b1) / N_BATCHES, 2
            ),
        }
        results.append(rec)
        print(f"# {json.dumps(rec)}", file=sys.stderr)

    dest = os.environ.get("BENCH_GRAPH_GATE_OUT", "BENCH_GRAPH_GATE.json")
    with open(dest, "w") as f:
        json.dump(results, f, indent=1)
        f.write("\n")
    print(json.dumps({"metric": "graph_gate_scale", "sizes": sizes, "out": dest}))


if __name__ == "__main__":
    main()
