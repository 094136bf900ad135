"""Each check of the benchmark fed a planted fault, to show that it fires.

    python3 -m pytest -q nndbench/test_checks.py

Needs numpy and pytest only; no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402

K = 3


@pytest.fixture()
def space():
    rng = np.random.default_rng(0)
    ids = np.arange(20, dtype=np.int64) + 100
    X = rng.normal(size=(20, 4))
    vectors = {int(i): x for i, x in zip(ids, X)}
    nb, sims = oracle.exact_knn(X, X, ids, K, q_ids=ids)
    lists = {
        int(i): [(int(a), float(b)) for a, b in zip(nb[r], sims[r])]
        for r, i in enumerate(ids)
    }
    return ids, X, vectors, lists


def _check(lists, ids, vectors, **kw):
    args = dict(self_edges_forbidden=True, full_length=True)
    args.update(kw)
    return oracle.check_lists(lists, ids, vectors, vectors, K, **args)


def test_exact_knn_matches_a_plain_loop(space):
    ids, X, vectors, lists = space
    for r, i in enumerate(ids):
        pairs = sorted(
            ((-oracle.similarity(X[r], X[c]), int(j)) for c, j in enumerate(ids) if j != i)
        )[:K]
        assert [j for _, j in pairs] == [n for n, _ in lists[int(i)]]


def test_exact_knn_breaks_ties_by_ascending_id():
    X = np.array([[0.0], [1.0], [-1.0], [2.0]])
    ids = np.array([7, 5, 3, 1], np.int64)
    nb, sims = oracle.exact_knn(np.array([[0.0]]), X, ids, 3)
    assert nb[0].tolist() == [7, 3, 5]
    assert sims[0][1] == sims[0][2]


def test_clean_lists_pass(space):
    ids, _, vectors, lists = space
    assert _check(lists, ids, vectors) == []


@pytest.mark.parametrize(
    "plant, message",
    [
        (lambda L, k: L[k].append((k + 1 if k + 1 in L else k - 1, 0.0)), "neighbors, want"),
        (lambda L, k: L[k].pop(), "neighbors, want"),
        (lambda L, k: L[k].__setitem__(0, (k, 1.0)), "self-edge"),
        (lambda L, k: L[k].reverse(), "not sorted"),
        (lambda L, k: L[k].__setitem__(1, L[k][0]), "duplicate neighbor"),
        (lambda L, k: L[k].__setitem__(0, (L[k][0][0], L[k][0][1] * (1 + 1e-3))), "similarity to"),
        (lambda L, k: L[k].__setitem__(0, (999, L[k][0][1])), "not a live stored id"),
        (lambda L, k: L.pop(k), "missing list"),
        (lambda L, k: L.__setitem__(12345, []), "unexpected list"),
    ],
)
def test_planted_fault_fires(space, plant, message):
    ids, _, vectors, lists = space
    key = int(ids[5])
    plant(lists, key)
    errors = _check(lists, ids, vectors)
    assert any(message in e for e in errors), errors


def test_tie_order_fault_fires(space):
    ids, _, vectors, lists = space
    key = int(ids[0])
    (a, _), (b, _) = lists[key][:2]
    # equal similarities must come in ascending id order
    lists[key][0], lists[key][1] = (max(a, b), 0.5), (min(a, b), 0.5)
    errors = _check(lists, ids, vectors)
    assert any("not sorted" in e for e in errors), errors


def test_retracted_id_surfacing_fires(space):
    ids, _, vectors, lists = space
    key = int(ids[2])
    errors = _check(lists, ids, vectors, forbidden_ids=[lists[key][0][0]])
    assert any("retracted id" in e for e in errors), errors


def test_short_lists_allowed_without_full_length(space):
    ids, _, vectors, lists = space
    lists[int(ids[3])].pop()
    assert _check(lists, ids, vectors, full_length=False) == []


def test_search_rank_gap_fires():
    rows = [
        {"query_id": 0, "nb_id": 5, "rank": 1, "sim": 0.5},
        {"query_id": 0, "nb_id": 6, "rank": 3, "sim": 0.4},
    ]
    lists, errors = oracle.search_lists(rows)
    assert lists == {0: [(5, 0.5), (6, 0.4)]}
    assert any("ranks" in e for e in errors)


def test_recall_counts_planted_misses():
    truth = {0: np.array([1, 2, 3]), 1: np.array([4, 5, 6])}
    assert oracle.recall({0: [1, 2, 3], 1: [4, 5, 6]}, truth) == 1.0
    assert oracle.recall({0: [1, 2, 9], 1: [4, 5, 6]}, truth) == pytest.approx(5 / 6)
    assert oracle.recall({0: [1, 2, 3]}, truth) == 0.5


def test_ledger_is_incorrect_after_a_violation():
    ledger = oracle.Ledger()
    ledger.attempted += 1
    assert ledger.correct
    ledger.check("build", ["id 1: self-edge"])
    assert not ledger.correct and ledger.attempted == 1 and ledger.failed == 0


def test_inputs_repeat_per_seed_and_differ_across_seeds():
    a = inputs.emnist_like(3, 50)[1]
    assert np.array_equal(a, inputs.emnist_like(3, 50)[1])
    assert not np.array_equal(a, inputs.emnist_like(4, 50)[1])
    c = inputs.ClusteredCorpus(3, 40)
    assert np.array_equal(c.batch(1, 8)[1], inputs.ClusteredCorpus(3, 40).batch(1, 8)[1])
    assert c.batch(1, 8)[0][0] == 48


def test_process_sample_reads_own_process():
    s = procstat.Sample(os.getpid())
    assert s.driver > 0 and s.rss > 0 and s.steal >= 0


def test_process_split_skips_the_jvms_unexeced_clone():
    # pid: (comm, ppid, own cpu, reaped cpu, rss, kernel flags)
    forked = procstat._FORKNOEXEC
    stats = {
        1: ("python3", 0, 1.0, 0.0, 100, 0),
        2: ("bash", 1, 0.0, 0.0, 1, 0),
        3: ("java", 2, 10.0, 0.5, 1000, 0),
        4: ("java", 3, 0.0, 0.0, 1000, forked),  # cloned for a shell-out, not yet exec'd
        5: ("python3", 3, 2.0, 3.0, 50, 0),  # worker daemon
        6: ("python3", 5, 4.0, 0.0, 60, forked),  # worker, forked by the daemon
        7: ("Executor task l", 3, 0.0, 0.0, 1000, forked),  # a clone named after its thread
    }
    out = procstat.split(stats, 1)
    assert out["rss"] == 100 + 1 + 1000 + 50 + 60
    assert (out["driver"], out["jvm"], out["pyworker"]) == (1.0, 10.0, 0.5 + 2.0 + 3.0 + 4.0)
    assert out["pyworkers"] == 2


def _event_log(path):
    def job(jid, group, site, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": 1000 * jid,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group, "callSite.short": site}}

    def task(sid, shuffle, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "JVM GC Time": 5, "Executor CPU Time": 10**9},
                "Task Info": {"Accumulables": [{"Name": spans.PY_RUN, "Update": py_ms}]}}

    events = [
        job(0, "a#0", None, [0]), task(0, 100, 7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        job(1, "a#0", "first at /x/schemas.py:9", [1, 2]), task(1, 50, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        job(2, "b#1", None, [3]), task(3, 1, 0),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))


def test_event_log_attributes_by_group_and_site(tmp_path):
    _event_log(tmp_path / "log")
    log = spans.EventLog(str(tmp_path / "log"))
    a = log.stats(["a#0"])
    assert (a.jobs, a.stages, a.shuffle_write, a.max_stage_shuffle, a.py_run_ms) == (2, 2, 150, 100, 7)
    assert log.stats(["a#0"], "schemas.py").shuffle_write == 50
    assert log.stats(["a#0"], before_first_site=True).jobs == 1
    assert log.stats(["b#1"]).shuffle_write == 1
    assert log.stats(["c#2"]).jobs == 0


def test_benchmark_json_names_what_the_run_prints():
    import layers
    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
