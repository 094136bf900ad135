"""Structured Streaming surface over the events table.

Extension layer: the reference has no streaming (SURVEY.md §2.3 —
"Streaming: none"), but a training-data pipeline ingests event streams
continuously, so the engine exposes the batch event operators' streaming
twins. Design follows the Spark streaming model end-to-end:

- sources are ``readStream`` (file source here; swap for Kafka in prod —
  the transformations are source-agnostic);
- event-time semantics with watermarks bound state: late rows beyond the
  watermark are dropped, which is what makes 100 TB/day ingestion hold
  state O(open windows), not O(stream);
- windowed aggregation uses native ``window()`` / ``session_window()``
  (JVM-side incremental state store, no Python in the hot path);
- the one genuinely custom stateful operator (running per-user totals
  with explicit state) uses ``applyInPandasWithState`` — the pattern for
  operators the built-in window model can't express.

Each streaming op is semantically aligned with a batch twin in
operators/events.py / queries/pipeline.py and tested by running the
stream with ``trigger(availableNow=True)`` into a memory sink and
comparing against the batch result (tests/test_streaming.py) — the
replay-equals-batch property that makes a Lambda-free architecture
trustworthy.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_nnd_spark.operators.index_lifecycle import exists


def _await_or_raise(q: Any, timeout_sec: int) -> Any:
    """Await a streaming query's availableNow drain; on timeout STOP the
    query and raise instead of returning a handle whose output directory
    is only partially written (a silent-partial leakage-gate verdict is
    worse than a loud failure). ``awaitTermination(timeout)`` returns
    False on timeout — every drain helper in this module must check it."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{timeout_sec}s; stopped — output directory is incomplete"
        )
    return q


def _stream_dir(sf_dir: str, table: str = "events") -> str:
    """Directory holding a symlink to the table's parquet (file streams
    read directories; a real deployment points at the landing dir)."""
    import hashlib  # noqa: PLC0415
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"spark_nnd_{table}_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), link)
    return d


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (schema pinned from the
    raw physical read; file streams require an explicit schema)."""
    from spark_nnd_spark.sources.tables import _normalize_events_ts  # noqa: PLC0415

    # Pin the stream schema to whatever the parquet physically stores
    # (nanos-as-long bigint, timestamp_ntz, or timestamp — it has drifted
    # between rounds), then reuse the batch loader's normalization so the
    # stream always emits TimestampType ts, same as load_table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source requires a directory; the corpus ships one
    # parquet file per table, so stage a symlink dir (per sf_dir, cached)
    stream_dir = _stream_dir(sf_dir)
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stream_dir)
    return _normalize_events_ts(df)


def windowed_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Streaming twin of q21 tumbling counts (and, with ``slide`` set,
    of q119 hopping counts): per (event-time window, event_type) count
    + exact DECIMAL value sum, late data bounded by the watermark.
    A slide < window makes the windows overlap; the native window()
    state store tracks window/slide open windows per key, still
    evicted past the watermark."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        .select(
            F.col("w.start").cast("long").alias("w_start_epoch"),
            "event_type",
            "c",
            F.col("v").cast("string").alias("v"),
        )
    )


def ohlc_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of q207 OHLC bars: per (event-time window, user)
    open/high/low/close through exact integer cents, open/close picked
    by event_id (ingest order — unique, so the pick is exact), late
    data bounded by the watermark. min_by/max_by are declarative
    aggregates with partial merge, so the state per open window is one
    (value, key) pair per extreme — the same O(users·open windows)
    bound as the counting twin, never a row buffer."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        events.withColumn("c", cents)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            (F.min_by("c", "event_id") / 100.0).alias("open"),
            (F.max("c") / 100.0).alias("high"),
            (F.min("c") / 100.0).alias("low"),
            (F.max_by("c", "event_id") / 100.0).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").cast("long").alias("slot_epoch"),
            "user_id",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via native ``session_window`` (gap-merged
    event-time sessions, state evicted past the watermark) — the
    streaming twin of operators/events.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").cast("long").alias("t_start_epoch"),
            F.max("ts").cast("long").alias("t_end_epoch"),
        )
        .select("user_id", "n_events", "t_start_epoch", "t_end_epoch")
    )


_TOTALS_SCHEMA = "user_id long, n_events long, total string"
_STATE_SCHEMA = "n long, total double"


def _totals_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Explicit-state kernel: fold each micro-batch's rows for this user
    into (count, sum) state and emit the updated running totals."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total": [f"{total:.2f}"]}
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count and value total, updated every micro-batch.
    The pattern for stateful logic beyond window/session aggregations
    (e.g. incremental dedup registries, quota trackers)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory_sink(
    stream: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> Any:
    """Drain a (finite) stream with availableNow into a memory sink and
    return the query; test/debug harness, not a production sink."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def run_to_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> Any:
    """Production file sink: parquet append with a checkpointLocation.

    The checkpoint's offset WAL plus the file-sink output manifest make
    batch replays idempotent — a query restarted from the same
    checkpoint resumes at the first unprocessed input file and never
    re-emits rows it already committed, i.e. exactly-once file output
    across restarts (asserted in tests/test_streaming.py). This is the
    landing-zone pattern for a continuously-ingesting 100 TB corpus:
    the downstream batch layer reads the sink directory through the
    manifest and sees only committed files.

    Drains all available input (``availableNow``) and returns the
    query handle."""
    q = (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key within the
    watermark horizon (``dropDuplicatesWithinWatermark``), the streaming
    twin of the batch digest dedup (operators/dedup.exact_dedup).

    State is bounded: the store holds one entry per key seen within the
    watermark window and evicts beyond it — the property that lets a
    100 TB/day ingest dedup run forever. Exactly-once dedup across ALL
    time would need unbounded state; a pipeline does that in the batch
    layer (q12) over the landed data instead.
    """
    keys = keys or ["user_id", "event_type"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def indexed_dedup_stream(
    batch_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    timeout_sec: int = 180,
    admit_novel: bool = False,
) -> Any:
    """Streaming ingest dedup against a PERSISTED near-dup index
    (operators/dedup.build_neardup_index): each micro-batch of incoming
    documents is probed through ``neardup_query_index`` inside
    ``foreachBatch`` and its (doc_id, verdict) rows land in a
    batchId-keyed parquet directory — the streaming face of the q103
    ingest path, and the shape a 100 TB/day crawl dedup actually runs
    (index built by the batch layer, probed continuously at ingest).

    ``foreachBatch`` rather than a stream-static join chain: the probe
    is a multi-join DAG with batch-only constructs (localCheckpoint
    reuse barriers, distinct over candidates) that Structured
    Streaming's incremental planner cannot host, and the micro-batch
    IS the "incremental batch" the index API was designed around.
    Idempotence: outputs are written ``overwrite`` into a directory
    keyed by batchId, so a replayed batch (checkpoint restart) rewrites
    the same directory instead of duplicating rows.

    The probe runs WITHOUT the hot-bucket cap: with a cap, a doc's
    verdict depends on which other docs share its micro-batch (the
    census counts live batch members), which would make replay
    batching-dependent. Uncapped, every verdict is a pure function of
    (doc, index), so the union of per-batch verdicts equals one batch
    probe of the whole stream — asserted replay-equals-batch in
    tests/test_streaming.py.

    ``admit_novel=True`` closes the steady-state ingest loop: after
    writing verdicts, each micro-batch's NOVEL docs are admitted into
    the index (operators/dedup.extend_neardup_index), so batch N+1's
    probe sees batch N's documents — without it the index only ever
    knows the base corpus and every re-crawled novel doc stays
    "novel" forever. Replay safety has two layers:

    - **Verdict purity**: the probe passes the micro-batch's own ids
      as ``exclude_ids``, so a crashed batch that PARTIALLY admitted
      itself before the retry re-probes still sees the exact
      pre-batch index state — retried verdicts equal the originals
      (a doc can otherwise match its own half-admitted digest and
      flip novel→exact on replay).
    - **At-most-once-observed admission**: a batchId-keyed marker
      under ``<index>/admitted`` is written AFTER the extension; a
      replayed batch whose marker exists skips entirely. A crash
      between extension and marker re-extends on retry — duplicate
      index rows, which every probe consumer tolerates (digest
      matching is semi-join, candidates are distinct'd), so verdicts
      are stable under any crash point.

    Batches are sequential (Structured Streaming replays a failed
    micro-batch before starting the next), so "index minus this
    batch's ids" is exactly "index as of the original attempt".
    """
    from spark_nnd_spark.operators.dedup import (  # noqa: PLC0415
        extend_neardup_index,
        neardup_query_index,
    )

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{index_path}/admitted/ingest_batch={batch_id}"
        # _SUCCESS, not the bare directory: a crashed marker write can
        # leave a partial dir, which must NOT read as "processed"
        if admit_novel and exists(spark, f"{marker}/_SUCCESS"):
            # fully processed on a previous attempt (verdicts written,
            # batch admitted) — replay is a no-op
            return
        # foreachBatch re-plans the batch DataFrame per action; pin it
        # once so the verdict write, the novel cut, and the admission
        # all read the same rows
        batch_df = batch_df.localCheckpoint(eager=True)
        verdicts = neardup_query_index(
            spark,
            index_path,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            max_band_freq=None,
            exclude_ids=batch_df.select(id_col) if admit_novel else None,
        ).localCheckpoint(eager=True)
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/ingest_batch={batch_id}"
        )
        if admit_novel:
            novel = batch_df.join(
                verdicts.filter(F.col("verdict") == "novel").select(id_col),
                id_col,
                "left_semi",
            )
            extend_neardup_index(
                spark, index_path, novel, text_col=text_col, id_col=id_col
            )
            spark.createDataFrame(
                [(batch_id,)], "ingest_batch long"
            ).coalesce(1).write.mode("overwrite").parquet(marker)

    q = (
        batch_stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def retraction_stream(
    id_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    timeout_sec: int = 180,
    retract_fn: Any = None,
) -> Any:
    """Streaming retraction against a persisted index: each micro-batch
    of ids (right-to-be-forgotten requests, bad-batch rollbacks) is
    appended to the index's tombstone log inside ``foreachBatch`` — the
    retract half of the steady-state ingest loop beside
    ``indexed_dedup_stream(admit_novel=True)``. A doc admitted by the
    ingest stream in batch N and retracted here in batch N+1 stops
    matching from batch N+2 on (the tombstone anti-join reaches every
    read path, including the streaming probe).

    Replay idempotence needs NO batchId marker here, unlike admission:
    the tombstone log is a set under distinct + anti-join semantics
    (operators/index_lifecycle.read_tombstones distincts, every
    consumer anti-joins), so a replayed batch appends duplicate ids
    that are semantic no-ops — append-only + idempotent-by-
    construction is strictly more crash-safe than a marker, which
    would reintroduce a crash window between effect and marker.
    ``compact_*`` folds the log (duplicates and all) into the physical
    tables whenever the operator chooses.

    Scale (100 TB): each micro-batch writes O(batch) tombstone rows —
    no index I/O at all; the deferred cost lives in compaction, which
    the batch layer schedules off the ingest path. ``retract_fn``
    selects the index family (defaults to the near-dup index; any of
    the five ``retract_from_*_index`` functions fits the contract).
    """
    if retract_fn is None:
        from spark_nnd_spark.operators.dedup import (  # noqa: PLC0415
            retract_from_neardup_index,
        )

        retract_fn = retract_from_neardup_index

    def _retract(batch_df: DataFrame, batch_id: int) -> None:  # noqa: ARG001
        ids = batch_df.select(id_col).distinct()
        if ids.isEmpty():
            return
        retract_fn(batch_df.sparkSession, index_path, ids)

    q = (
        id_stream.writeStream.foreachBatch(_retract)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def indexed_ann_stream(
    query_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 180,
) -> Any:
    """Streaming vector search: each micro-batch of query embeddings is
    probed against a PERSISTED IVF index (operators/similarity.
    build_ivf_index) inside ``foreachBatch`` and its per-query top-k
    rows land in a batchId-keyed parquet directory — the steady-state
    "embed → retrieve" ingest shape (RAG indexing-time joins, online
    near-neighbor audits) beside ``indexed_dedup_stream``'s text path.

    ``foreachBatch`` for the same reason as the dedup stream: the probe
    is a multi-join DAG (centroid pruning, cell-partitioned scan,
    rerank windows) the incremental planner cannot host, and a
    micro-batch IS the incremental batch the index API serves.
    Idempotence: outputs are written ``overwrite`` into a directory
    keyed by batchId, so a replayed batch rewrites its own directory.
    The probe never mutates the index, so verdicts are a pure function
    of (query, index) and the union of per-batch results equals one
    batch probe of the whole stream — asserted replay==batch in tests.

    Scale (100 TB corpus, unbounded query stream): per batch the probe
    reads O(probed cells) index partitions (dynamic pruning) and
    shuffles O(queries·k) rows; index growth happens on the admit
    path, not here.
    """
    from spark_nnd_spark.operators.similarity import (  # noqa: PLC0415
        ann_ivf_query_index,
    )

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        ann_ivf_query_index(
            spark,
            index_path,
            batch_df,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
        ).write.mode("overwrite").parquet(f"{out_path}/ann_batch={batch_id}")

    q = (
        query_stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def graph_gate_stream(
    query_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    ef: int = 64,
    beam: int = 16,
    n_entry: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 180,
    admit_novel: bool = False,
    novel_sim_tau: float = 0.5,
    use_anchors: bool = False,
) -> Any:
    """Ingest gate over the PERSISTED K-NN-graph index
    (operators/knn_graph_index, the 10th family): each micro-batch of
    embeddings is answered with its nearest STORED neighbors by greedy
    graph search inside ``foreachBatch``, landing batchId-keyed —
    the flagship artifact's streaming face (the nearest-stored-neighbor
    verdict a continuous ingest pipeline gates on before admitting a
    vector as novel).

    Same conventions as ``indexed_ann_stream``: foreachBatch because
    the search is a stateful Arrow walk the incremental planner cannot
    host; overwrite into ``graph_batch={id}`` so replays rewrite
    their own directory; a probe-only gate never mutates the index, so
    verdicts are a pure function of (query, index) and replay == batch.

    ``admit_novel=True`` closes the steady-state loop (the
    indexed_dedup_stream twin): each row whose nearest stored neighbor
    scores below ``novel_sim_tau`` is folded into the graph
    (extend_knn_graph_index), so batch N+1's probe sees batch N's
    vectors. Replay safety is the dedup stream's two-layer scheme:
    verdict PURITY via ``exclude_ids`` (a retried batch that partially
    admitted itself still probes the exact pre-batch graph), and
    at-most-once-OBSERVED admission via a batchId marker written after
    the extension (a crash between extension and marker re-extends on
    retry — the extend upsert purges the overlap first, so the retry
    converges to the same stored state).

    Scale: per batch the search ships every stored row through one
    exchange into its partition's walker, in a job count independent
    of the hop count, so probe shuffle grows with the stored corpus;
    per-query walk cost is O(P·iters·beam·K) on a graph of P
    partitions (nnd/search.py). Admission work scales with the novel
    rows (update_graph's incremental contract).

    ``use_anchors=True`` seeds each probe from its NEAREST anchors (the
    coarse entry layer: the ``n_anchors`` pinned at persist, drawn by
    the walker from the live rows, so an admitted vector can become
    one) instead of shared random entries — on clustered corpora
    random seeding needs n_entry ≈ the cluster count for full duplicate
    detection (BENCH_GS_SWEEP: recall is entry-dominated), while anchor
    seeding reaches it at small n_entry."""
    from spark_nnd_spark.operators.knn_graph_index import (  # noqa: PLC0415
        extend_knn_graph_index,
        graph_index_search,
    )

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = f"{index_path}/admitted/graph_batch={batch_id}"
        if admit_novel and exists(spark, f"{marker}/_SUCCESS"):
            return  # fully processed on a previous attempt
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint(eager=True)
        topk = graph_index_search(
            spark,
            index_path,
            batch_df,
            k=k,
            ef=ef,
            beam=beam,
            n_entry=n_entry,
            query_id_col=id_col,
            query_vec_col=vec_col,
            exclude_ids=batch_df.select(id_col) if admit_novel else None,
            use_anchors=use_anchors,
        )
        best = topk.filter(F.col("rank") == 1).select(
            "query_id",
            (F.col("sim") >= F.lit(novel_sim_tau)).alias("__dup"),
        )
        verdicts = (
            batch_df.select(F.col(id_col).alias("query_id"))
            .join(best, "query_id", "left")
            .select(
                "query_id",
                F.when(F.coalesce("__dup", F.lit(False)), "duplicate")
                .otherwise("novel")
                .alias("verdict"),
            )
            .localCheckpoint(eager=True)
        )
        # left join from verdicts: a query with NO reachable stored
        # neighbor still lands its 'novel' verdict row (null top-k)
        verdicts.join(topk, "query_id", "left").write.mode(
            "overwrite"
        ).parquet(f"{out_path}/graph_batch={batch_id}")
        if admit_novel:
            novel = batch_df.join(
                verdicts.filter(F.col("verdict") == "novel").select(
                    F.col("query_id").alias(id_col)
                ),
                id_col,
                "left_semi",
            ).select(
                F.col(id_col).alias("id"), F.col(vec_col).alias("features")
            )
            if novel.take(1):
                extend_knn_graph_index(spark, index_path, novel)
            spark.createDataFrame(
                [(batch_id,)], "graph_batch long"
            ).coalesce(1).write.mode("overwrite").parquet(marker)

    q = (
        query_stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def decontam_gate_stream(
    candidate_stream: DataFrame,
    eval_index_path: str,
    out_path: str,
    checkpoint: str,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timeout_sec: int = 180,
) -> Any:
    """Streaming ingest-time leakage guard — the ingest twin of q148's
    batch decontamination: each micro-batch of candidate training
    embeddings is probed against a PERSISTED IVF index of the EVAL set
    (operators/similarity.decontaminate_query_index) and every
    candidate gets an admit/reject verdict (contaminated = a same-cell
    eval neighbor at cosine >= tau). Verdicts land in a batchId-keyed
    parquet directory.

    ``foreachBatch`` for the same reason as the ANN stream: the probe
    is a multi-join DAG (centroid assignment, cell-pruned index scan,
    per-candidate aggregate) the incremental planner cannot host.
    Idempotence: the probe never mutates the index, so verdicts are a
    pure function of (batch, index); outputs overwrite their own
    batchId directory, so a replayed batch rewrites identical rows —
    a planted near-dup of an eval doc is rejected in EVERY replay
    (asserted in tests).

    Scale (100 TB candidate stream): per batch the candidate set
    broadcasts and the eval ``assignments`` scan reads only the
    batch's cells (partition pruning); nothing corpus-sized ever
    shuffles on the gate path."""
    from spark_nnd_spark.operators.similarity import (  # noqa: PLC0415
        decontaminate_query_index,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        decontaminate_query_index(
            spark,
            eval_index_path,
            batch_df,
            tau=tau,
            id_col=id_col,
            vec_col=vec_col,
        ).write.mode("overwrite").parquet(f"{out_path}/gate_batch={batch_id}")

    q = (
        candidate_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def curation_gate_stream(
    candidate_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    max_band_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 180,
    model_w: dict | None = None,
) -> Any:
    """Streaming ingest-time curation gate — the q155/q159 scoreboard
    composed as a stateless per-batch verdict: every candidate doc gets
    the full keep/drop board (quality margin, repetition, entropy, and
    a near-dup gate probed against the PERSISTED near-dup index) with
    deterministic reason strings, written to a batchId-keyed parquet
    directory. The ingest twin of the batch board: the text gates are
    the exact shared expressions (queries/pipeline.board_gates /
    board_compose), and the dedup gate drops a candidate that is an
    'exact' or Jaccard-verified 'near' duplicate of an INDEXED doc at
    >= ``threshold`` (ingest semantics — batch-internal pairs are the
    batch layer's job, the q83/q103 split).

    Idempotence: the probe never mutates the index, so the board is a
    pure function of (batch, index); a replayed batch overwrites its
    own batchId directory with identical rows (replay==batch asserted
    in tests). Pass ``model_w`` (a q169-trained weight dict) to add
    the learned-classifier gate — the board inherits model_score /
    model_keep and the 'model' reason through the shared
    board_gates/board_compose helpers (q170's serving shape at
    ingest time).

    Scale (100 TB/day ingest): text gates are codegen expressions over
    O(batch) rows; the index probe shuffles O(batch + candidates)
    (BENCH_DEDUP_SCALE's measured contract); nothing corpus-sized
    moves on the gate path."""
    from spark_nnd_spark.operators.dedup import (  # noqa: PLC0415
        neardup_query_index,
    )
    from spark_nnd_spark.queries.pipeline import (  # noqa: PLC0415
        board_compose,
        board_gates,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        docs = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        drops = (
            neardup_query_index(
                spark,
                index_path,
                docs,
                threshold=threshold,
                max_band_freq=max_band_freq,
            )
            .filter(F.col("verdict") != "novel")
            .select("doc_id")
        )
        board_compose(board_gates(docs, model_w=model_w), drops).write.mode(
            "overwrite"
        ).parquet(f"{out_path}/board_batch={batch_id}")

    q = (
        candidate_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def span_gate_stream(
    candidate_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    min_span_tokens: int = 12,
    max_gram_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 180,
) -> Any:
    """Streaming verbatim-span leakage guard — the ingest twin of q162
    (and the span-level sibling of decontam_gate_stream's embedding
    gate): each micro-batch of candidate docs is probed against the
    PERSISTED span index (operators/dedup.span_query_index) and every
    candidate that shares a maximal verbatim run of >=
    ``min_span_tokens`` tokens with an indexed doc is reported with
    the matching doc and span stats; clean candidates emit a verdict
    row with -1 sentinels (never NULL — the driver-compare / sort
    discipline). Verdicts land in a batchId-keyed parquet directory.

    Idempotence: the probe never mutates the index — verdicts are a
    pure function of (batch, index); a replayed batch overwrites its
    own batchId directory with identical rows (replay==batch asserted
    in tests). Retracting an indexed doc stops it causing rejections
    immediately (tombstones reach the probe).

    Scale: per batch, O(batch grams + matching corpus grams) shuffle —
    matching volume tracks how much of the batch is repeated indexed
    content; the index is never re-tokenized."""
    from spark_nnd_spark.operators.dedup import span_query_index  # noqa: PLC0415

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        hits = span_query_index(
            spark,
            index_path,
            batch_df,
            min_span_tokens=min_span_tokens,
            max_gram_freq=max_gram_freq,
            id_col=id_col,
            text_col=text_col,
        )
        agg = hits.groupBy("batch_id").agg(
            F.min("index_id").alias("first_index_id"),
            F.sum("n_spans").alias("n_spans"),
            F.max("max_span_tokens").alias("max_span_tokens"),
        )
        # Derive `contaminated` from the un-aliased join column BEFORE
        # the coalescing select: computing it in the same select that
        # re-aliases a coalesced `first_index_id` works only because
        # expressions in one select resolve against the INPUT plan —
        # fragile under refactor (splitting/reordering the select would
        # silently flip it to always-true).
        verdicts = (
            batch_df.select(F.col(id_col).alias("batch_id"))
            .join(agg, "batch_id", "left")
            .withColumn(
                "contaminated", F.col("first_index_id").isNotNull()
            )
            .select(
                "batch_id",
                F.coalesce("first_index_id", F.lit(-1)).cast("long").alias(
                    "first_index_id"
                ),
                F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
                F.coalesce("max_span_tokens", F.lit(0)).cast("long").alias(
                    "max_span_tokens"
                ),
                "contaminated",
            )
        )
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/span_batch={batch_id}"
        )

    q = (
        candidate_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source for the events stream — the production swap-in for
    the file source (every transformation downstream is source-
    agnostic). Values are JSON event records parsed against the events
    schema; the watermark column is the event-time ``ts`` field from
    the payload, NOT Kafka's ingest timestamp (late data must be late
    by event time).

    The container this engine is built in has no Kafka broker or
    spark-sql-kafka package, so construction fails with a clear error
    until the package is on the classpath (add
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``);
    the parse/watermark logic is the part the engine owns and it is
    identical to the file-source path.
    """
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),  # epoch nanos, as in parquet
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as exc:  # pragma: no cover - needs kafka package
        raise RuntimeError(
            "Kafka source requires the spark-sql-kafka package on the "
            "Spark classpath (not present in this environment)"
        ) from exc
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("e")
    ).select("e.*")
    return parsed.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (ingest-side view
    of the corpus; schema pinned from a batch read)."""
    from spark_nnd_spark.sources import load_table  # noqa: PLC0415

    schema = load_table(spark, sf_dir, "documents").schema
    stream_dir = _stream_dir(sf_dir, table="documents")
    return spark.readStream.schema(schema).parquet(stream_dir)


_SAMPLE_OUT_SCHEMA = "grp string, doc_id long, skey string, n_seen long"
_SAMPLE_STATE_SCHEMA = "ids array<long>, keys array<string>, n_seen long"


def _exact_sample_fn(k: int):
    """Per-group streaming top-k-by-key fold: merge each micro-batch's
    (doc_id, skey) rows into the carried k-smallest set and emit the
    group's CURRENT sample. Associative by construction — the top-k of
    a union is the top-k of merged top-ks — which is exactly the batch
    operator's window semantics, so the final emission equals the
    batch sample over everything drained (tested)."""

    def fn(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, keys, n_seen = state.get
            ids, keys = list(ids), list(keys)
        else:
            ids, keys, n_seen = [], [], 0
        for pdf in batches:
            n_seen += len(pdf)
            ids.extend(int(x) for x in pdf["doc_id"])
            keys.extend(str(x) for x in pdf["skey"])
        order = sorted(range(len(ids)), key=lambda i: (keys[i], ids[i]))[:k]
        ids = [ids[i] for i in order]
        keys = [keys[i] for i in order]
        state.update((ids, keys, n_seen))
        yield pd.DataFrame(
            {
                "grp": [key[0]] * len(ids),
                "doc_id": ids,
                "skey": keys,
                "n_seen": [n_seen] * len(ids),
            }
        )

    return fn


def exact_sample_stream(
    docs: DataFrame,
    k: int = 5,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of the deterministic exactly-k per-group sample
    (operators/sampling.per_group_exact_sample, q94): maintain each
    group's k rows with the smallest md5 draws as explicit
    applyInPandasWithState state — the balanced-eval-slice maintainer
    a continuous ingest runs ("exactly k docs per source, always"),
    with state bounded at O(groups·k) (id, key) pairs FOREVER,
    independent of stream length. The md5 keys are computed JVM-side
    before the stateful fold (identical expression to the batch
    operator), and top-k-by-key is associative, so the final emission
    per group equals the batch sample over the full drained input —
    replay == batch by construction, not by luck (tested). Emits the
    group's current sample each batch with an n_seen cursor (update
    mode); consumers read the max-n_seen emission per group."""
    from spark_nnd_spark.operators.sampling import sample_key_expr  # noqa: PLC0415

    return (
        docs.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(id_col).alias("doc_id"),
            sample_key_expr(id_col).alias("skey"),
        )
        .groupBy("grp")
        .applyInPandasWithState(
            _exact_sample_fn(k),
            outputStructType=_SAMPLE_OUT_SCHEMA,
            stateStructType=_SAMPLE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def token_histogram_stream(
    docs: DataFrame,
    lo: float = 0.0,
    width: float = 8.0,
    n_bins: int = 64,
) -> DataFrame:
    """Streaming twin of the fixed-boundary histogram quantile sketch
    (operators/sketches.fixed_histogram, q126): per-(source, bin)
    token-count cells maintained as a plain streaming aggregate. This
    is the quality monitor a continuous ingest actually runs — "has
    src7's length distribution drifted this hour?" — and the reason
    the sketch exists: state is O(sources·n_bins) integer cells (the
    bins ARE the groupBy key; no watermark, no custom state store,
    bounded forever), where a streaming exact percentile would need
    every value retained. Cells merge across micro-batches by
    addition — exactly the batch sketch's mergeability — so the
    drained stream equals the batch histogram cell-for-cell (tested);
    quantile finishing (histogram_quantiles' interpolation) reads the
    tiny cell table on the consumer side."""
    from spark_nnd_spark.functions import text as TX  # noqa: PLC0415
    from spark_nnd_spark.operators.sketches import hist_bin_expr  # noqa: PLC0415

    return (
        docs.select(
            F.col("source"),
            hist_bin_expr(TX.token_count_expr("text"), lo, width, n_bins).alias(
                "bin"
            ),
        )
        .groupBy("source", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def quality_filter_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the q37 quality gate: per-document keep/drop
    decision at ingest time. Entirely stateless (narrow JVM expressions,
    no watermark, no state store) — the shape that lets a 100 TB/day
    filter run with zero memory pressure; identical expressions to the
    batch query, so replay == batch by construction (tested)."""
    from spark_nnd_spark.functions import text as TX  # noqa: PLC0415

    n_tok = TX.token_count_expr("text")
    stop = TX.stopword_ratio_expr("text")
    ttr = TX.type_token_ratio_expr("text")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        ((n_tok >= 5) & (stop <= 0.6) & (ttr >= 0.3)).alias("keep"),
    )


def chunk_stream(docs: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Streaming twin of the q186 chunk export: documents arriving on
    a stream fan out into their overlapping token-window chunks at
    ingest — how a live RAG index stays current without batch
    re-chunking. Entirely stateless (one generator + narrow slices per
    micro-batch, no watermark, no state store); the operator IS the
    batch operator (operators/sampling.chunk_tokens), so replay ==
    batch by construction (tested)."""
    from spark_nnd_spark.operators.sampling import chunk_tokens  # noqa: PLC0415

    return chunk_tokens(docs, size=size, stride=stride)


def attribution_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    click(s) by the same user within ``horizon`` before it — the
    real-time version of the batch range/as-of attribution
    (operators/events.range_join / asof_join).

    Both sides carry watermarks and the join condition bounds
    click_ts to [purchase_ts − horizon, purchase_ts], so Spark can
    evict join state past the watermark: state stays O(events inside
    the horizon), the property that lets the join run indefinitely.
    Inner join ⇒ append output mode (results emit once both
    watermarks pass the match window).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"c_user_id = user_id"
            f" AND click_ts <= purchase_ts"
            f" AND click_ts >= purchase_ts - INTERVAL {horizon}"
        ),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts", "value")


def anomaly_stream(
    events: DataFrame, stats: DataFrame, z_threshold: float = 3.0
) -> DataFrame:
    """Stream-static join: flag per-type z-score outliers at ingest
    time against a batch-computed stats snapshot (event_type, mu,
    sigma) — the model-vs-snapshot scoring shape (anomaly gates,
    quality thresholds learned offline, applied online). The static
    side is O(types) and broadcast into every micro-batch, so the
    stream stays fully stateless: no watermark, no state store, zero
    memory growth at 100 TB/day. Same expressions as
    operators/events.value_zscores; with the snapshot computed from
    the replayed corpus the stream reproduces the batch query
    (tested)."""
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        events.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > F.lit(z_threshold))
    )


_TRANS_SCHEMA = "user_id long, prev_type string, next_type string, delta long"
_TRANS_STATE_SCHEMA = "last_type string, last_ts long, last_event_id long"


def _transitions_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Explicit-state kernel: carry the user's last (type, ts, event_id)
    across micro-batches and emit per-batch transition-count deltas.

    The whole micro-batch group is materialized and sorted ONCE by
    (ts, event_id) — ``applyInPandasWithState`` may deliver one group's
    rows as several Arrow chunks (``maxRecordsPerBatch``) in arbitrary
    order, so sorting each chunk independently would miscount
    transitions that cross a chunk boundary. Groups are per-user
    micro-batch slices, so the concat is micro-batch-bounded, not
    stream-bounded.

    The carried event is merged into the sorted sequence at its true
    event-time position using the stored (last_ts, last_event_id):
    rows arriving in a later micro-batch with a smaller (ts, event_id)
    than the carried event are ordered BEFORE it, so every pair emitted
    this batch respects global event-time order. Remaining limit
    (documented, inherent to O(1)-per-user state): if rows precede the
    carried event, the transition already emitted INTO the carried
    event in an earlier batch is not retracted, and the earliest new
    row's own predecessor is unknown (uncounted). Under event-time-
    ordered micro-batch arrival — the normal watermarked-ingest case —
    neither case triggers and delta sums over any batch prefix
    reproduce the batch operator's counts exactly."""
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True).sort_values(
        ["ts", "event_id"], ignore_index=True
    )
    # ts arrives as datetime64 (TimestampType input) or raw int64
    # (nanos-as-long parquet) — state stores the int either way
    ts_int = pdf["ts"].to_numpy().astype("int64")
    eid = pdf["event_id"].to_numpy().astype("int64")
    types = pdf["event_type"]

    prev = types.shift(1)
    extra_pair: tuple[str, str] | None = None
    carried_is_last = False
    if state.exists:
        last_type, last_ts, last_eid = state.get
        # rows strictly before the carried event in (ts, event_id) order
        pos = int(
            ((ts_int < last_ts) | ((ts_int == last_ts) & (eid < last_eid))).sum()
        )
        if pos == 0:
            prev.iloc[0] = last_type  # carried → first row (in-order case)
        else:
            extra_pair = (types.iloc[pos - 1], last_type)  # row[pos-1] → carried
            if pos < len(pdf):
                prev.iloc[pos] = last_type  # carried → row[pos]
            else:
                carried_is_last = True  # every new row precedes the carried event
            # prev.iloc[0] stays NaN: row[0]'s true predecessor is the
            # pre-carried history, which O(1) state cannot reconstruct

    mask = prev.notna()
    pairs = pd.DataFrame(
        {"prev_type": prev[mask], "next_type": types[mask], "delta": 1}
    )
    if extra_pair is not None:
        pairs = pd.concat(
            [
                pairs,
                pd.DataFrame(
                    {
                        "prev_type": [extra_pair[0]],
                        "next_type": [extra_pair[1]],
                        "delta": [1],
                    }
                ),
            ],
            ignore_index=True,
        )

    if not carried_is_last:
        state.update((types.iloc[-1], int(ts_int[-1]), int(eid[-1])))

    if len(pairs):
        counts = (
            pairs.groupby(["prev_type", "next_type"], sort=False)["delta"]
            .sum()
            .reset_index()
        )
        counts.insert(0, "user_id", key[0])
        yield counts


def transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/events.type_transitions: per-user
    Markov transition-count DELTAS via ``applyInPandasWithState`` (state
    = the user's last event across micro-batches, so a transition that
    straddles a batch boundary is still counted exactly once). Summing
    the emitted deltas per (prev_type, next_type) over any prefix of
    batches reproduces the batch operator's counts over the same events
    (asserted replay-equals-batch in tests/test_streaming.py), provided
    micro-batch arrival respects event-time order at batch granularity
    — no event arrives in a later batch with a smaller (ts, event_id)
    than the user's carried last event. Out-of-order stragglers are
    still ordered correctly against rows in their own batch via the
    stored (last_ts, last_event_id); see ``_transitions_fn`` for the
    exact residual approximation.

    Emitting deltas instead of running totals keeps the output a pure
    append of increments, so the downstream aggregate can live in the
    batch layer (or a second job) — Structured Streaming allows only
    one stateful operator per query, the same layering a 100 TB/day
    ingest would use anyway (per-user state here, global rollup there).
    State is O(users), independent of stream length."""
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _transitions_fn,
            outputStructType=_TRANS_SCHEMA,
            stateStructType=_TRANS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SCD2_SCHEMA = (
    "user_id long, version long, status string, valid_from long,"
    " valid_to long, n_events long"
)
_SCD2_STATE_SCHEMA = (
    "status string, valid_from long, n_events long, version long,"
    " last_ts long, last_event_id long"
)


def _scd2_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Explicit-state kernel behind ``scd2_stream``: carry the user's
    OPEN status interval (status, valid_from, n_events, version) across
    micro-batches and emit intervals the moment they CLOSE (a row with
    a different status arrives). The open interval never emits — SCD2
    close events are append-only facts, so no retraction is needed.

    The whole micro-batch group is concat'd and sorted once by
    (ts, event_id) — the same Arrow-chunk discipline as
    ``_transitions_fn``. Precondition (documented on the wrapper):
    micro-batch arrival respects event-time order at batch granularity;
    an interval, once closed, cannot be reopened by a straggler.
    Run detection is vectorized (shift + cumsum), no per-row loop.
    """
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True).sort_values(
        ["ts", "event_id"], ignore_index=True
    )
    ts_ns = pdf["ts"].to_numpy().astype("int64")
    ts_s = ts_ns // 1_000_000_000
    eid = pdf["event_id"].to_numpy().astype("int64")
    types = pdf["event_type"].reset_index(drop=True)

    # run ids within this batch (0-based; run 0 may merge into the carry)
    new_run = (types != types.shift(1)).to_numpy()
    new_run[0] = True
    run_id = new_run.cumsum() - 1

    runs = (
        pd.DataFrame({"run": run_id, "status": types, "from_s": ts_s, "n": 1})
        .groupby("run", sort=True)
        .agg(status=("status", "first"), from_s=("from_s", "min"), n=("n", "sum"))
    )
    statuses = runs["status"].to_numpy(dtype=object)
    froms = runs["from_s"].to_numpy().astype("int64")
    ns = runs["n"].to_numpy().astype("int64")

    # splice the carried open interval in front; merge run 0 into it
    # when the status continues across the batch boundary. Within the
    # batch consecutive runs already differ by construction, so after
    # the splice EVERY adjacent pair differs — pure array arithmetic
    # from here (no per-run Python loop).
    if state.exists:
        cur_status, cur_from, cur_n, cur_version, _lts, _leid = state.get
        if statuses[0] == cur_status:
            ns[0] += cur_n
            froms[0] = cur_from
        else:
            statuses = np.concatenate(([cur_status], statuses))
            froms = np.concatenate(([cur_from], froms))
            ns = np.concatenate(([cur_n], ns))
        base_version = cur_version  # first spliced interval keeps its version
    else:
        base_version = 1

    k = len(statuses)
    versions = base_version + np.arange(k, dtype="int64")
    state.update(
        (
            str(statuses[-1]),
            int(froms[-1]),
            int(ns[-1]),
            int(versions[-1]),
            int(ts_ns[-1]),
            int(eid[-1]),
        )
    )
    if k > 1:  # all but the last (still-open) interval close this batch
        yield pd.DataFrame(
            {
                "user_id": np.full(k - 1, key[0], dtype="int64"),
                "version": versions[:-1],
                "status": statuses[:-1],
                "valid_from": froms[:-1],
                "valid_to": froms[1:],
                "n_events": ns[:-1],
            }
        )


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/events.scd2_intervals: per-user SCD2
    interval-CLOSE events via ``applyInPandasWithState``. Each emitted
    row is a finished (user_id, version, status, valid_from, valid_to,
    n_events) interval — epoch-second bounds — appearing exactly once,
    in the micro-batch whose first differing-status row closed it; the
    user's open interval lives only in state (O(users), independent of
    stream length).

    Replay property (tested): over any time-ordered micro-batch split,
    the emitted rows equal the batch operator's CLOSED intervals
    (valid_to IS NOT NULL) over the same prefix of events, and state
    holds exactly the batch operator's open interval. Precondition, as
    for ``transitions_stream``: no event arrives in a later micro-batch
    with a smaller (ts, event_id) than the user's carried last event —
    closed history is append-only, so a straggler cannot reopen it."""
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2_fn,
            outputStructType=_SCD2_SCHEMA,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def cms_sketch_stream(docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch over the document token stream — the
    bounded-state trending-counts primitive. The batch operator
    (operators/sketches.cms_sketch) composes directly onto the stream:
    tokens explode to their DEPTH (row, col) cells map-side and the
    running aggregate holds exactly the O(DEPTH·WIDTH) cell table as
    state — a global heavy-hitter tracker whose memory never grows with
    the stream, no watermark needed. Complete-mode output IS the
    sketch; point estimates/top-k read it downstream exactly as in
    batch (replay-equals-batch tested)."""
    from spark_nnd_spark.functions.text import token_hash_lambda, tokens_expr
    from spark_nnd_spark.operators.sketches import cms_sketch

    hashed = docs.select(F.explode(tokens_expr("text")).alias("token")).select(
        token_hash_lambda(F.col("token")).alias("h")
    )
    return cms_sketch(hashed, "h")


_SEEN_SCHEMA = "user_id long, last_seen long, n_events long, active boolean"
_SEEN_STATE_SCHEMA = "last_ts_ms long, n_events long"


def _last_seen_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Kernel behind ``user_last_seen_stream``: refresh the user's
    (last event time, count) on data; on event-time TIMEOUT — no event
    within ``idle`` of the watermark — emit one tombstone
    (active=false) and REMOVE the state. The removal is the point:
    state stays O(currently-active users), not O(users ever seen)."""
    if state.hasTimedOut:
        last_ms, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_seen": [last_ms // 1000],
                "n_events": [n],
                "active": [False],
            }
        )
        return
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    ts_ms = (pdf["ts"].to_numpy().astype("int64") // 1_000_000).max()
    n_prev = 0
    if state.exists:
        last_prev, n_prev = state.get
        ts_ms = max(ts_ms, last_prev)
    n = n_prev + len(pdf)
    state.update((int(ts_ms), int(n)))
    state.setTimeoutTimestamp(int(ts_ms) + _IDLE_MS)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_seen": [int(ts_ms) // 1000],
            "n_events": [int(n)],
            "active": [True],
        }
    )


_IDLE_MS = 30 * 60 * 1000  # 30 minutes


def user_last_seen_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Presence tracker with EVENT-TIME STATE EVICTION: per user, emit
    the running (last_seen, n_events) on every micro-batch that touches
    them, and a single ``active=false`` tombstone once the watermark
    passes ``last_seen + 30 min`` — at which point the user's state is
    REMOVED. The other stateful twins keep O(users) state forever
    (NoTimeout); this is the lifecycle pattern a 100 TB/day stream
    needs for unbounded key spaces (session registries, device
    presence, fraud velocity windows): ``setTimeoutTimestamp`` +
    ``state.remove`` bound memory by the ACTIVE key set, with the
    watermark — not wall clock — driving eviction, so replays evict
    identically (tombstones asserted in tests/test_streaming.py)."""
    return (
        # NTZ parquet sources cast to TIMESTAMP (session tz is pinned
        # UTC) — watermarks accept only the tz-aware type
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _last_seen_fn,
            outputStructType=_SEEN_SCHEMA,
            stateStructType=_SEEN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def image_gate_stream(
    candidate_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    max_hamming: int = 3,
    max_band_freq: int | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    timeout_sec: int = 180,
) -> Any:
    """Streaming perceptual image-dedup gate — the ingest twin of q168
    (and the image-modality sibling of span_gate_stream /
    decontam_gate_stream): each micro-batch of candidate images is
    probed against the PERSISTED image-hash index
    (operators/multimodal.image_query_index) and every candidate
    within ``max_hamming`` of a stored image is reported with the
    nearest stored id and distance; clean candidates emit a verdict
    row with -1 sentinels (never NULL — the driver-compare / sort
    discipline). Verdicts land in a batchId-keyed parquet directory.

    Idempotence: the probe never mutates the index — verdicts are a
    pure function of (batch, index); a replayed batch overwrites its
    own batchId directory with identical rows (replay==batch asserted
    in tests). Retracting an indexed image stops it causing rejections
    immediately (tombstones reach the probe).

    Scale: per batch, the batch side broadcasts and the stored bands
    stream — O(batch + matches) shuffle per micro-batch; payload bytes
    never leave the hash kernel."""
    from spark_nnd_spark.operators.multimodal import (  # noqa: PLC0415
        image_query_index,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        hits = image_query_index(
            spark,
            index_path,
            batch_df,
            max_hamming=max_hamming,
            max_band_freq=max_band_freq,
            id_col=id_col,
            payload_col=payload_col,
        )
        # nearest stored image per candidate: (min hamming, min id) —
        # deterministic, and min_by breaks hamming ties by index_id
        # because the struct compares lexicographically
        agg = hits.groupBy("batch_id").agg(
            F.min(F.struct("hamming", "index_id")).alias("best"),
            F.count("*").alias("n_matches"),
        )
        # `is_dup` from the un-aliased join column BEFORE the
        # coalescing select (the span_gate_stream refactor-safety
        # pattern).
        verdicts = (
            batch_df.select(F.col(id_col).alias("batch_id"))
            .join(agg, "batch_id", "left")
            .withColumn("is_dup", F.col("best").isNotNull())
            .select(
                "batch_id",
                F.coalesce(F.col("best.index_id"), F.lit(-1))
                .cast("long")
                .alias("nearest_index_id"),
                F.coalesce(F.col("best.hamming"), F.lit(-1))
                .cast("int")
                .alias("min_hamming"),
                F.coalesce("n_matches", F.lit(0)).cast("long").alias(
                    "n_matches"
                ),
                "is_dup",
            )
        )
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/image_batch={batch_id}"
        )

    q = (
        candidate_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def span_scrub_stream(
    candidate_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    min_span_tokens: int = 12,
    max_gram_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 180,
) -> Any:
    """Streaming span-decontamination REWRITE — the ingest twin of
    q172 (and the rewrite sibling of span_gate_stream's flag-only
    verdicts): each micro-batch is scrubbed against the PERSISTED span
    index (operators/dedup.span_scrub_index), emitting the batch with
    every verbatim run of >= ``min_span_tokens`` indexed tokens CUT —
    (doc_id, cleaned_text, n_spans_cut, tokens_cut) per candidate,
    written to a batchId-keyed parquet directory. The pipeline that
    ADMITS leaky docs minus the leak, instead of rejecting them whole.

    Idempotence: the scrub never mutates the index — output is a pure
    function of (batch, index); a replayed batch overwrites its own
    batchId directory with identical rows (replay==batch asserted in
    tests). Retracting an indexed doc stops its spans being cut
    immediately (tombstones reach the probe).

    Scale: span_query_index's per-batch contract (batch broadcasts,
    stored postings never shuffle) + O(cut intervals) rewrite work."""
    from spark_nnd_spark.operators.dedup import span_scrub_index  # noqa: PLC0415

    def scrub(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        span_scrub_index(
            spark,
            index_path,
            batch_df,
            min_span_tokens=min_span_tokens,
            max_gram_freq=max_gram_freq,
            id_col=id_col,
            text_col=text_col,
        ).write.mode("overwrite").parquet(f"{out_path}/scrub_batch={batch_id}")

    q = (
        candidate_stream.writeStream.foreachBatch(scrub)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)


# ------------------------------- streaming whole-doc pack manifest

_PACK_SCHEMA = (
    "source string, block long, bin long, doc_id long, n_tokens long,"
    " fill_after long, oversize int"
)
_PACK_STATE_SCHEMA = "rn long, bin long, fill long"


def _pack_fn(context_len: int, block_docs: int):
    """Stateful next-fit packing kernel: carry (doc counter, open bin,
    fill) per source across micro-batches; a new ``block_docs`` block
    resets the packing state, which is exactly what makes the stream
    reproduce the batch manifest (q173 packs each block independently,
    so a block boundary is a full state reset the stream can replay).
    Docs are sorted by id within the micro-batch group (Arrow chunks
    arrive unordered — the _transitions_fn discipline); ordered ingest
    at batch granularity is assumed, as for every stateful twin."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(
            "doc_id", ignore_index=True
        )
        if state.exists:
            rn, bn, fill = state.get
        else:
            rn, bn, fill = 0, -1, context_len + 1
        out = []
        for doc_id, n in zip(
            pdf["doc_id"].to_numpy(np.int64), pdf["n_tokens"].to_numpy(np.int64)
        ):
            rn += 1
            if (rn - 1) % block_docs == 0:  # block boundary: state reset
                bn, fill = -1, context_len + 1
            if fill + n <= context_len:
                fill += int(n)
            else:
                bn += 1
                fill = int(n)
            out.append(
                (
                    key[0],
                    (rn - 1) // block_docs,
                    bn,
                    int(doc_id),
                    int(n),
                    fill,
                    int(n > context_len),
                )
            )
        state.update((rn, bn, fill))
        yield pd.DataFrame(
            out,
            columns=[
                "source", "block", "bin", "doc_id", "n_tokens",
                "fill_after", "oversize",
            ],
        )

    return fn


def pack_stream(
    docs: DataFrame, context_len: int = 256, block_docs: int = 32
) -> DataFrame:
    """Streaming twin of the q173 whole-document packing manifest:
    assign every arriving document its (block, bin) pack coordinates
    at ingest via ``applyInPandasWithState`` (state = the source's doc
    counter + open pack, O(sources) total). Because the batch operator
    packs fixed-size id-blocks independently, the stream's per-block
    state reset makes its output EQUAL the batch manifest over any
    id-ordered prefix (asserted in tests), so shards can be packed as
    they land instead of in a corpus-wide export pass."""
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return toks.groupBy("source").applyInPandasWithState(
        _pack_fn(context_len, block_docs),
        outputStructType=_PACK_SCHEMA,
        stateStructType=_PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def token_stats_stream(
    docs: DataFrame,
    stats_path: str,
    text_col: str = "text",
    source_col: str = "source",
    timeout_sec: int = 120,
):
    """Streaming COUNT MAINTENANCE for the mergeable token-stats
    family (operators/text_stats): every micro-batch of documents adds
    its exact integer counts to the sidecar, so the source-divergence
    dashboard (q188/q194) is always current without a corpus pass.
    Algebraic family, so maintained stats equal a fresh build over
    everything ingested EXACTLY; replayed batches are no-ops via the
    batchId-keyed applied markers published in the same atomic commit
    as the counts (the cov_stats_stream contract). The query itself is
    stateless; state lives in the O(sources · vocab) sidecar."""
    from spark_nnd_spark.operators.text_stats import extend_token_stats  # noqa: PLC0415

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        extend_token_stats(
            batch_df.sparkSession,
            stats_path,
            batch_df.localCheckpoint(eager=True),
            text_col=text_col,
            source_col=source_col,
            batch_id=batch_id,
        )

    q = (
        docs.writeStream.foreachBatch(feed)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            f"{stats_path}/_stream_checkpoint",
        )
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def cov_stats_stream(
    embeddings: DataFrame,
    stats_path: str,
    vec_col: str = "embedding",
    timeout_sec: int = 120,
):
    """Streaming MOMENT MAINTENANCE for the mergeable covariance
    family: every micro-batch of embeddings extends the persisted
    integer moment sums (operators/clustering.extend_cov_stats), so
    the anisotropy dashboard (q179/q180) is always current without a
    corpus pass. Because the family is algebraic, the maintained stats
    equal a fresh build over everything ingested EXACTLY (integer sums
    are associative); replayed batches are no-ops via the
    batchId-keyed applied markers (the indexed_dedup_stream admission
    convention — tested replay == batch in tests). State lives in the
    sidecar (O(d²)), not the stream: the query itself is stateless.
    """
    from spark_nnd_spark.operators.clustering import extend_cov_stats  # noqa: PLC0415

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        extend_cov_stats(
            batch_df.sparkSession,
            stats_path,
            batch_df.localCheckpoint(eager=True),
            vec_col=vec_col,
            batch_id=batch_id,
        )

    q = (
        embeddings.writeStream.foreachBatch(feed)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            f"{stats_path}/_stream_checkpoint",
        )
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def event_rollup_stream(
    events: DataFrame,
    rollup_path: str,
    timeout_sec: int = 120,
):
    """Streaming CONTINUOUS-AGGREGATE maintenance for the event-rollup
    family (operators/event_rollup, the 12th family): every
    micro-batch of events merges its mergeable partials into the
    stored rollup, so the hypertable dashboards (q212 OHLC bars, q213
    daily re-buckets) are always current without an events-table
    pass — TimescaleDB's continuous-aggregate refresh as a
    foreachBatch twin. The family is mergeable-exact, so maintained
    state equals a fresh build over everything ingested EXACTLY;
    replayed batches are no-ops via the batchId applied markers
    published in the same atomic commit as the rollup (the
    token/cov-stats contract). The query itself is stateless; state
    lives in the O(users·buckets) sidecar."""
    from spark_nnd_spark.operators.event_rollup import extend_event_rollup  # noqa: PLC0415

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        extend_event_rollup(
            batch_df.sparkSession,
            rollup_path,
            batch_df.localCheckpoint(eager=True),
            batch_id=batch_id,
        )

    q = (
        events.writeStream.foreachBatch(feed)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            f"{rollup_path}/_stream_checkpoint",
        )
        .start()
    )
    return _await_or_raise(q, timeout_sec)


def winnow_gate_stream(
    candidate_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    min_shared: int = 2,
    max_fp_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 180,
    admit_novel: bool = False,
) -> Any:
    """Streaming copied-passage guard — the ingest twin of q205 (and
    the fingerprint-level sibling of span_gate_stream's verbatim gate):
    each micro-batch of candidate docs is probed against the PERSISTED
    winnow index (operators/dedup.winnow_query_index) and every
    candidate sharing >= ``min_shared`` selected fingerprints with an
    indexed doc is reported with its best-matching doc (max shared
    count, ties to the smallest id) and total matched-pair count;
    clean candidates emit a verdict row with -1/0 sentinels (never
    NULL — the driver-compare / sort discipline). Verdicts land in a
    batchId-keyed parquet directory.

    Idempotence: the probe never mutates the index — verdicts are a
    pure function of (batch, index); a replayed batch overwrites its
    own batchId directory with identical rows (replay==batch asserted
    in tests). Retracting an indexed doc stops it causing rejections
    immediately (tombstones reach the probe).

    ``admit_novel=True`` closes the steady-state ingest loop (the
    indexed_dedup_stream discipline): after writing verdicts, each
    micro-batch's CLEAN docs are admitted into the winnow index
    (extend_winnow_index), so batch N+1's probe sees batch N. Replay
    safety is the same two layers — verdict purity (the probe masks
    the batch's own ids via ``exclude_ids``, so a crashed
    partially-admitted batch re-probes the exact pre-batch index) and
    at-most-once-observed admission (a batchId-keyed ``_SUCCESS``
    marker under ``<index>/admitted`` written AFTER the extension;
    a replayed fully-processed batch is a no-op, and a crash between
    extension and marker re-extends as an UPSERT — extend_winnow_index
    purges the batch's first-attempt rows before re-appending, so no
    duplicate postings survive). With ``max_fp_freq`` set, the
    replayed probe's boilerplate cut is computed from the masked
    postings themselves (winnow_query_index's ``exclude_ids`` path),
    not the stored fp_stats a partial admission may have refreshed —
    replay == batch holds exactly even across a mid-extension crash.

    Scale: per batch, the candidate fingerprint set (~2/(w+1) of its
    shingles) broadcasts into the fp-sorted postings scan — O(matching
    postings) shuffle, the index never re-shingled."""
    from spark_nnd_spark.operators.dedup import (  # noqa: PLC0415
        extend_winnow_index,
        winnow_query_index,
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        marker = f"{index_path}/admitted/winnow_batch={batch_id}"
        if admit_novel and exists(spark, f"{marker}/_SUCCESS"):
            return  # fully processed on a previous attempt
        batch_df = batch_df.localCheckpoint(eager=True)
        hits = winnow_query_index(
            spark,
            index_path,
            batch_df,
            min_shared=min_shared,
            max_fp_freq=max_fp_freq,
            id_col=id_col,
            text_col=text_col,
            exclude_ids=batch_df.select(id_col) if admit_novel else None,
        )
        best = (
            hits.groupBy("batch_id")
            .agg(
                F.max_by(
                    "index_id", F.struct(F.col("n_shared"), -F.col("index_id"))
                ).alias("best_index_id"),
                F.max("n_shared").alias("max_shared"),
                F.count("*").alias("n_matches"),
            )
        )
        verdicts = (
            batch_df.select(F.col(id_col).alias("batch_id"))
            .join(best, "batch_id", "left")
            .withColumn("copied", F.col("best_index_id").isNotNull())
            .select(
                "batch_id",
                F.coalesce("best_index_id", F.lit(-1)).cast("long").alias(
                    "best_index_id"
                ),
                F.coalesce("max_shared", F.lit(0)).cast("long").alias(
                    "max_shared"
                ),
                F.coalesce("n_matches", F.lit(0)).cast("long").alias(
                    "n_matches"
                ),
                "copied",
            )
        )
        verdicts = verdicts.localCheckpoint(eager=True)
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/winnow_batch={batch_id}"
        )
        if admit_novel:
            clean = batch_df.join(
                verdicts.filter(~F.col("copied")).select(
                    F.col("batch_id").alias(id_col)
                ),
                id_col,
                "left_semi",
            )
            extend_winnow_index(
                spark, index_path, clean, text_col=text_col, id_col=id_col
            )
            spark.createDataFrame(
                [(batch_id,)], "winnow_batch long"
            ).coalesce(1).write.mode("overwrite").parquet(marker)

    q = (
        candidate_stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_or_raise(q, timeout_sec)
