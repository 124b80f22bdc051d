"""The numpy search kernels every ANN format shares, tested on local
arrays without Spark: the exact per-segment top-k and the coarse cut with
exact rerank, both against numpy brute force, and the kNN join's per-list
bundle top-k and per-query ranking against Python sorts."""

import numpy as np
import pytest

from cuvs_lucene_spark.operators.ann import (
    _accept_mask,
    _bundle_topk,
    _exact_topk,
    _rank_joined,
    _rerank_topk,
    _scores,
)


def _brute(x, ids, q, metric, k, keep=None):
    """Reference: score everything, keep the accepted, sort by (-score,
    ext_id) with Python's sort."""
    s = _scores(x, q, metric)
    order = sorted(
        (i for i in range(ids.size) if keep is None or keep[i]),
        key=lambda i: (-s[i], ids[i]),
    )[:k]
    return ids[order], s[order]


def _segment(seed, n=200, dim=8):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    q = rng.normal(size=dim).astype(np.float32)
    return x, ids, q


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_exact_topk_vs_brute_force_with_filter_and_tombstones(metric):
    x, ids, q = _segment(1)
    allowed = np.sort(ids[::2])
    tomb = np.sort(ids[::6])  # a third of the allowed ids are deleted
    accept = _accept_mask(ids, allowed, tomb)
    got_ids, got_s = _exact_topk(x, ids, q, metric, 10, accept)
    want_ids, want_s = _brute(x, ids, q, metric, 10, accept)
    assert got_ids.tolist() == want_ids.tolist()
    assert np.array_equal(got_s, want_s)
    assert not set(got_ids) & set(tomb) and set(got_ids) <= set(allowed)
    # no mask and k beyond the segment size: every vector, best first
    got_ids, _ = _exact_topk(x, ids, q, metric, 500)
    assert got_ids.tolist() == _brute(x, ids, q, metric, 500)[0].tolist()


def test_equal_scores_keep_the_lower_ext_id():
    x, ids, q = _segment(2, n=50)
    x[10:20] = x[5]  # 11 identical vectors straddle the k = 4 cut
    got_ids, got_s = _exact_topk(x, ids, x[5], "l2", 4)
    assert got_ids.tolist() == [ids[5]] + ids[10:13].tolist()
    assert np.all(got_s == 1.0)
    # the coarse cut breaks its ties the same way: with equal coarse
    # distances the candidates are the lowest ext_ids
    got_ids, _ = _rerank_topk(x, ids, x[5], "l2", 3, np.zeros(ids.size), 3)
    assert sorted(got_ids.tolist()) == ids[:3].tolist()


@pytest.mark.parametrize("metric", ["l2", "cosine"])
def test_rerank_topk_vs_brute_force(metric):
    x, ids, q = _segment(3)
    rng = np.random.default_rng(4)
    approx = -_scores(x, q, metric) + rng.normal(scale=0.05, size=ids.size)
    allowed = np.sort(ids[1::2])
    tomb = np.sort(ids[1::10])
    accept = _accept_mask(ids, allowed, tomb)
    got_ids, got_s = _rerank_topk(x, ids, q, metric, 5, approx, 15, accept)
    # reference: the 15 coarse-best accepted (ties by ext_id), reranked
    ok = np.flatnonzero(accept)
    cand = ok[sorted(range(ok.size), key=lambda i: (approx[ok[i]], ids[ok[i]]))[:15]]
    want_ids, want_s = _brute(x[cand], ids[cand], q, metric, 5)
    assert got_ids.tolist() == want_ids.tolist()
    assert np.array_equal(got_s, want_s)
    # rerank_factor covering everything reduces to the exact top-k
    full_ids, _ = _rerank_topk(x, ids, q, metric, 5, approx, ids.size, accept)
    assert full_ids.tolist() == _brute(x, ids, q, metric, 5, accept)[0].tolist()


def test_visited_limit_scores_only_the_first_accepted_vectors():
    x, ids, q = _segment(5)
    approx = -_scores(x, q, "l2")
    accept = _accept_mask(ids, None, np.sort(ids[:7]))  # first 7 deleted
    got_ids, _ = _rerank_topk(x, ids, q, "l2", 3, approx, 6, accept, budget=20)
    visited = ids[7:27]  # the budget counts accepted vectors in ext_id order
    assert set(got_ids) <= set(visited)
    assert got_ids.tolist() == _brute(x[7:27], visited, q, "l2", 3)[0].tolist()
    # a budget of one still answers (degrades recall, never errors)
    one, _ = _rerank_topk(x, ids, q, "l2", 3, approx, 6, accept, budget=1)
    assert one.tolist() == [ids[7]]


def test_all_rejected_segment_yields_no_rows():
    x, ids, q = _segment(6)
    none = _accept_mask(ids, np.array([], np.int64), None)
    for top, s in (
        _exact_topk(x, ids, q, "l2", 10, none),
        _rerank_topk(x, ids, q, "cosine", 10, np.zeros(ids.size), 30, none, 5),
        _exact_topk(x, ids, q, "l2", 10, _accept_mask(ids, None, ids)),
    ):
        assert top.size == 0 and s.size == 0


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_bundle_topk_vs_per_query_sort(metric):
    """Each query of a bundle keeps its k best of the accepted list rows,
    ties to the lower ext_id: the cut a full sort per query gives."""
    rng = np.random.default_rng(3)
    x = np.round(rng.normal(size=(60, 4)), 0).astype(np.float32)  # many equal scores
    ids = np.sort(rng.choice(1000, size=60, replace=False)).astype(np.int64)
    qs = np.round(rng.normal(size=(5, 4)), 0)
    qids = np.array([7, 3, 7, 9, 1], np.int64)
    accept = _accept_mask(ids, None, np.sort(ids[::4]))
    got_q, got_v, got_s = (a.reshape(5, 6) for a in _bundle_topk(x, ids, qids, qs, metric, 6, accept))
    keep = np.flatnonzero(accept)
    # every accepted row's score, from a cut that keeps them all
    _, all_v, all_s = (a.reshape(5, -1) for a in _bundle_topk(
        x[keep], ids[keep], qids, qs, metric, keep.size))
    for i, q in enumerate(qids):
        want = sorted(zip(all_v[i].tolist(), all_s[i].tolist()), key=lambda r: (-r[1], r[0]))[:6]
        assert list(zip(got_v[i].tolist(), got_s[i].tolist())) == want
        assert (got_q[i] == q).all()


def test_rank_joined_is_row_number_per_q_id():
    """Ranks as ``row_number()`` over q_id ordered by score desc, vec_id
    asc; duplicate q_ids merge their candidates; ``k`` cuts each q_id."""
    rng = np.random.default_rng(4)
    qids = rng.integers(0, 4, size=80).astype(np.int64)
    vids = rng.integers(0, 30, size=80).astype(np.int64)
    scores = np.round(rng.random(80), 1)
    got = list(zip(*(a.tolist() for a in _rank_joined(qids, vids, scores, 5))))
    want = []
    for q in sorted(set(qids.tolist())):
        rows = sorted((-s, v) for qq, v, s in zip(qids, vids, scores) if qq == q)[:5]
        want += [(q, v, -ns, r) for r, (ns, v) in enumerate(rows, 1)]
    assert got == [(q, v, float(s), r) for q, v, s, r in want]
    assert all(len(a) == 0 for a in _rank_joined(*(np.empty(0),) * 3, 5))
