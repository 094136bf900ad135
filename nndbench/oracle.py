"""Checks made apart from the program: a numpy brute-force K-NN and the
method's invariants on every returned neighbor list.

Similarity is the program's metric ``1 / (1 + ||x - y||_2)``; ties are
broken by ascending id, as the program documents.
"""

from __future__ import annotations

import numpy as np

# The build ships features as float32 (nnd/descent.py), so its
# similarities may differ from float64 recomputation in the 7th digit.
SIM_RTOL = 1e-5
SIM_ATOL = 1e-9
_BLOCK = 256


def similarity(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise ``1 / (1 + ||a - b||)`` in float64."""
    d = np.asarray(a, np.float64) - np.asarray(b, np.float64)
    return 1.0 / (1.0 + np.sqrt((d * d).sum(axis=-1)))


def exact_knn(
    Q: np.ndarray,
    X: np.ndarray,
    ids: np.ndarray,
    k: int,
    q_ids: np.ndarray | None = None,
):
    """Top-``k`` rows of ``X`` for every row of ``Q`` by similarity desc,
    id asc. When ``q_ids`` is given, a query never matches the stored
    row with its own id (the graph has no self-edges).

    Candidates come from a matmul distance; the kept lists are then
    rescored exactly row by row, so ranking and similarities do not
    depend on the matmul's rounding. Returns (nb_ids int64[q, k],
    sims float64[q, k])."""
    Q = np.asarray(Q, np.float64)
    X = np.asarray(X, np.float64)
    ids = np.asarray(ids, np.int64)
    k = min(k, len(X) - (1 if q_ids is not None else 0))
    wide = min(len(X), k + 8)
    xx = (X * X).sum(axis=1)
    id_pos = {int(i): p for p, i in enumerate(ids)}
    out_ids = np.empty((len(Q), k), np.int64)
    out_sims = np.empty((len(Q), k))
    for lo in range(0, len(Q), _BLOCK):
        qb = Q[lo : lo + _BLOCK]
        d2 = (qb * qb).sum(axis=1)[:, None] + xx[None, :] - 2.0 * qb @ X.T
        if q_ids is not None:
            for r, qi in enumerate(q_ids[lo : lo + _BLOCK]):
                p = id_pos.get(int(qi))
                if p is not None:
                    d2[r, p] = np.inf
        cand = np.argpartition(d2, wide - 1, axis=1)[:, :wide]
        for r in range(len(qb)):
            c = cand[r]
            if q_ids is not None:
                c = c[ids[c] != q_ids[lo + r]]
            s = similarity(qb[r][None, :], X[c])
            order = np.lexsort((ids[c], -s))[:k]
            out_ids[lo + r] = ids[c][order]
            out_sims[lo + r] = s[order]
    return out_ids, out_sims


def recall(returned: dict[int, list[int]], truth: dict[int, np.ndarray]) -> float:
    """Mean over keys of |returned ∩ truth| / |truth|."""
    hits = total = 0
    for key, true_ids in truth.items():
        got = set(returned.get(key, ()))
        hits += len(got.intersection(int(t) for t in true_ids))
        total += len(true_ids)
    return hits / total if total else 1.0


def check_lists(
    lists: dict[int, list[tuple[int, float]]],
    expected_keys,
    key_vectors: dict[int, np.ndarray],
    stored_vectors: dict[int, np.ndarray],
    k: int,
    self_edges_forbidden: bool,
    full_length: bool,
    forbidden_ids=(),
) -> list[str]:
    """Every invariant of a returned set of neighbor lists, keyed by the
    node (graph) or query id they belong to. Returns one message per
    violation, empty when all hold:

    - every expected key has a list, and no other key does;
    - each list has at most ``k`` entries (exactly ``k`` when
      ``full_length``, i.e. the live corpus holds more than ``k``);
    - no self-edge when ``self_edges_forbidden``;
    - sorted by similarity desc, then id asc on equal similarity;
    - no duplicate neighbor ids;
    - every neighbor is a live stored id, never one of ``forbidden_ids``;
    - each similarity equals ``1/(1+L2)`` recomputed from the vectors.
    """
    errors: list[str] = []
    expected = {int(x) for x in expected_keys}
    got = set(lists)
    for key in sorted(expected - got)[:5]:
        errors.append(f"missing list for id {key}")
    for key in sorted(got - expected)[:5]:
        errors.append(f"unexpected list for id {key}")
    forbidden = {int(x) for x in forbidden_ids}
    for key in sorted(got & expected):
        nbs = lists[key]
        if len(nbs) > k or (full_length and len(nbs) != k):
            errors.append(f"id {key}: {len(nbs)} neighbors, want {k}")
        nb_ids = [int(n) for n, _ in nbs]
        sims = np.array([s for _, s in nbs], np.float64)
        if len(set(nb_ids)) != len(nb_ids):
            errors.append(f"id {key}: duplicate neighbor ids")
        if self_edges_forbidden and key in nb_ids:
            errors.append(f"id {key}: self-edge")
        for a in range(len(nbs) - 1):
            if sims[a] < sims[a + 1] or (
                sims[a] == sims[a + 1] and nb_ids[a] > nb_ids[a + 1]
            ):
                errors.append(f"id {key}: not sorted at position {a}")
                break
        bad = [n for n in nb_ids if n in forbidden]
        if bad:
            errors.append(f"id {key}: retracted id {bad[0]} surfaced")
        missing = [n for n in nb_ids if n not in stored_vectors]
        if missing:
            errors.append(f"id {key}: neighbor {missing[0]} is not a live stored id")
            continue
        if nb_ids:
            want = similarity(
                key_vectors[key][None, :],
                np.stack([stored_vectors[n] for n in nb_ids]),
            )
            if not np.allclose(sims, want, rtol=SIM_RTOL, atol=SIM_ATOL):
                worst = int(np.argmax(np.abs(sims - want)))
                errors.append(
                    f"id {key}: similarity to {nb_ids[worst]} is "
                    f"{sims[worst]!r}, recomputed {want[worst]!r}"
                )
    return errors


def search_lists(rows) -> tuple[dict[int, list[tuple[int, float]]], list[str]]:
    """Group search rows (query_id, nb_id, rank, sim) into per-query
    lists in rank order; ranks must run 1, 2, ... without gaps."""
    by_q: dict[int, list] = {}
    for row in sorted(rows, key=lambda x: (x["query_id"], x["rank"])):
        by_q.setdefault(int(row["query_id"]), []).append(row)
    lists, errors = {}, []
    for qid, rs in by_q.items():
        ranks = [int(x["rank"]) for x in rs]
        if ranks != list(range(1, len(rs) + 1)):
            errors.append(f"query {qid}: ranks {ranks}")
        lists[qid] = [(int(x["nb_id"]), float(x["sim"])) for x in rs]
    return lists, errors


class Ledger:
    """Counts the operations a run attempted, the ones that raised, and
    the check violations of the ones that completed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.violations: list[str] = []

    def check(self, op: str, errors: list[str]) -> None:
        self.violations.extend(f"{op}: {e}" for e in errors)

    @property
    def correct(self) -> bool:
        return not self.violations
