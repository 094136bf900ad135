"""Focused tests for the round-16 optimization changes: the adaptive
census prefilter (results identical whichever branch the gate takes),
the dim-gated power loop (driver == distributed numbers), the islands
parameter guard, and the bench consumer-release analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_nnd_spark.operators import clustering as CL
from spark_nnd_spark.operators import dedup as DD


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def mixed_docs(spark):
    """Half near-duplicate pairs (repeated shingles), half unique docs
    (singleton shingles) — both gate branches produce work."""
    texts = []
    for i in range(30):
        base = " ".join(f"u{i}w{j}" for j in range(40))
        texts.append(base)
        if i % 3 == 0:
            texts.append(base + " tail")
    return _docs(spark, texts)


def _collect_pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_prefilter_gate_branches_identical_jaccard(spark, mixed_docs):
    old = DD.PREFILTER_MAX_KEEP_FRAC
    try:
        DD.PREFILTER_MAX_KEEP_FRAC = 2.0  # always engage
        on = _collect_pairs(DD.jaccard_pairs(mixed_docs, max_shingle_freq=None))
        DD.PREFILTER_MAX_KEEP_FRAC = -1.0  # never engage
        off = _collect_pairs(DD.jaccard_pairs(mixed_docs, max_shingle_freq=None))
    finally:
        DD.PREFILTER_MAX_KEEP_FRAC = old
    assert on == off
    assert on  # the fixture must actually produce pairs


def test_prefilter_gate_branches_identical_winnow(spark, mixed_docs):
    old = DD.PREFILTER_MAX_KEEP_FRAC
    try:
        DD.PREFILTER_MAX_KEEP_FRAC = 2.0
        on = _collect_pairs(DD.winnow_pairs(mixed_docs, max_fp_freq=50))
        DD.PREFILTER_MAX_KEEP_FRAC = -1.0
        off = _collect_pairs(DD.winnow_pairs(mixed_docs, max_fp_freq=50))
    finally:
        DD.PREFILTER_MAX_KEEP_FRAC = old
    assert on == off
    assert on


def test_prefilter_hot_cut_still_applies_when_gate_skips(spark):
    """With the singleton prune skipped (every shingle repeated), a
    df-cap must still drop hot keys — the r14 anti-join semantics."""
    texts = ["hot common words here repeated often"] * 8
    d = _docs(spark, texts)
    # cap 4 < df 8: with per-doc-distinct shingles each shingle has
    # df=8, all get cut, so no pairs survive
    out = DD.jaccard_pairs(d, max_shingle_freq=4)
    assert out.count() == 0
    # without the cap the 8 identical docs all pair
    assert DD.jaccard_pairs(d, max_shingle_freq=None).count() == 28


def test_power_loop_driver_equals_distributed(spark):
    rows = [(i, j, (i * 7 + j * 3) % 11 - 5) for i in range(1, 9) for j in range(1, 9)]
    cov = spark.createDataFrame(rows, "i long, j long, c long")
    a, ma = CL._power_loop_driver(cov, 8, 3, CL.EIG_VSCALE)  # noqa: SLF001
    b, mb = CL._power_loop_distributed(cov, 8, 3, CL.EIG_VSCALE)  # noqa: SLF001
    ra = [tuple(r) for df in a for r in df.collect()]
    rb = [tuple(r) for df in b for r in df.collect()]
    assert ra == rb
    assert ma == mb


def test_islands_param_guard(spark):
    d = _docs(spark, ["a b c d e f g h i j k l m n o p"])
    isl = DD._span_islands(d, "text", "doc_id", 6, None)  # noqa: SLF001
    with pytest.raises(ValueError, match="islands"):
        DD.exact_span_pairs(d, islands=isl, gram_len=7)
    with pytest.raises(ValueError, match="islands"):
        DD.span_remove_rewrite(d, islands=isl, max_gram_freq=3)
    # defaults compose fine
    DD.exact_span_pairs(d, islands=isl).count()


def test_bench_release_analysis_covers_known_consumers():
    """The static consumer analysis must keep every artifact alive
    through its KNOWN last consumer (spot-checked against the query
    sources); a miss would make the bench rebuild mid-run."""
    import bench

    last = bench.artifact_last_consumers()
    order = {n: i for i, n in enumerate(bench.HEADLINE)}

    def at_or_after(attr, qname):
        assert attr in last, f"{attr} not reached by any headline query"
        assert order[last[attr]] >= order[qname], (
            f"{attr} released after {last[attr]}, before consumer {qname}"
        )

    at_or_after("_EXACT_CACHE", "q33_ann_recall")
    at_or_after("_NND_CACHE", "q33_ann_recall")
    at_or_after("_ANN_TIER_CACHE", "q129_binary_topk")
    at_or_after("_GS_BRUTE_CACHE", "q211_extended_graph_recall")
    at_or_after("_GS_CACHE", "q200_graph_search_recall")
    at_or_after("_IGS_CACHE", "q202_indexed_graph_recall")
    at_or_after("_LSH_PAIRS_CACHE", "q174_dedup_weights")
    at_or_after("_BOARD_CACHE", "q190_corpus_export")
    at_or_after("_SPAN_ISLANDS_CACHE", "q190_corpus_export")
    at_or_after("_LR_MODEL_CACHE", "q192_model_calibration")
    at_or_after("_COMPONENTS_CACHE", "q174_dedup_weights")
    at_or_after("_BM25_SCORED_CACHE", "q158_retrieval_eval")


def _pq_expression_codes(df, cb):
    """PQ codes from the zip_with/aggregate expression form: a
    sequential float64 fold per distance, first-minimum tie-break."""
    from spark_nnd_spark.operators import similarity as SIM

    m, n_codes, sub = cb.shape
    v = SIM._as_double("embedding")  # noqa: SLF001
    code_cols = []
    for j in range(m):
        dists = SIM._pq_dists_expr(  # noqa: SLF001
            v, j, sub, SIM._pq_space_lit(cb[j])  # noqa: SLF001
        )
        pairs = F.transform(
            dists, lambda d, i: F.struct(d.alias("d"), i.alias("c"))
        )
        code_cols.append(F.array_min(pairs)["c"])
    return {
        r["id"]: list(r["codes"])
        for r in df.select(
            F.col("vec_id").alias("id"), F.array(*code_cols).alias("codes")
        ).collect()
    }


def test_pq_encode_udf_equals_expression_form(spark):
    """The Arrow-batched PQ encode must reproduce the old zip_with/
    aggregate expression form bit-for-bit: same sequential float64
    sum order, same first-minimum (smaller-code) tie-break."""
    import numpy as np

    from spark_nnd_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    rows = [(int(i), rng.uniform(-1, 1, 32).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = SIM.pq_codebooks(32, 4, 8, 42)
    new = {
        r["id"]: list(r["codes"]) for r in SIM.pq_encode(df, cb).collect()
    }
    assert _pq_expression_codes(df, cb) == new


def test_pq_encode_sums_left_to_right_on_a_near_tie(spark):
    """A near-tie that only the summation order decides. Code 0's eight
    squared differences are 1, 2^-52 and zeros: 1 + 2^-52 in any order.
    Code 1's are 1 and seven 2^-54: a left-to-right fold drops each
    2^-54 (below half an ulp of 1) and gives 1.0, so code 1 wins; numpy's
    pairwise ``sum`` adds the small terms together first, reaches
    1 + 2^-52, ties, and picks code 0."""
    import numpy as np

    from spark_nnd_spark.operators import similarity as SIM

    e = 2.0 ** -27
    x = [1.0] + [e] * 7
    cb = np.zeros((1, 2, 8))
    cb[0, 0, 1] = -e
    cb[0, 0, 2:] = x[2:]
    df = spark.createDataFrame([(0, x)], "vec_id long, embedding array<double>")
    assert _pq_expression_codes(df, cb) == {0: [1]}
    assert [list(r["codes"]) for r in SIM.pq_encode(df, cb).collect()] == [[1]]
