"""The BM25 segment kernel, tested on local arrays without Spark: every
spec kind (sum, and, boolean, dismax, synonym, boosts) against a
plain-Python brute force, with tombstone / allowed / visit-limit masks,
the (score desc, ext_id asc) tie-break, and the spec compiler's checks."""

import math

import numpy as np
import pytest

from cuvs_lucene_spark.functions.varint import varint_encode
from cuvs_lucene_spark.operators.bm25 import (
    _alive_mask,
    _compile,
    _decode_term,
    _disjoint,
    _score_batch_queries,
    _weigh,
    idf,
)

K1, B = 1.2, 0.75
VOCAB = ["a", "b", "c", "d", "e"]


def _segment(seed, n=300):
    """Random segment: term → {doc: tf} (each term in ~30% of docs),
    doc lengths, distinct ext_ids in shuffled order."""
    rng = np.random.default_rng(seed)
    tf = {
        t: {int(d): int(rng.integers(1, 5)) for d in np.flatnonzero(rng.random(n) < 0.3)}
        for t in VOCAB
    }
    dls = rng.integers(5, 60, size=n).astype(np.float64)
    ext_ids = rng.permutation(10 * n)[:n].astype(np.int64)
    return tf, dls, ext_ids


def _post(tf):
    return {
        t: (np.array(sorted(m), np.int64), np.array([m[d] for d in sorted(m)], np.float64))
        for t, m in tf.items() if m
    }


def _specs(raw, tf, n):
    df = {t: len(tf.get(t, {})) for s in raw.values()
          for t in (*s.get("terms", ()), *s.get("must", ()), *s.get("should", ()),
                    *s.get("exclude", ()))}
    idf_of = {t: idf(n, d) for t, d in df.items() if d}
    out = {}
    for qid, s in raw.items():
        c = _compile(s, qid)
        w = c and _weigh(c, idf_of, n, df)
        if w is not None:
            out[qid] = w
    return out


def _brute(q, tf, dls, ext_ids, alive):
    """Reference scorer: one doc at a time, Python floats."""
    avgdl = dls.mean()
    rows = []
    for d in range(dls.size):
        if not alive[d]:
            continue
        has = {t for t in (*q["terms"], *q["must"], *q["should"], *q["exclude"])
               if d in tf.get(t, {})}
        if (not has & set(q["terms"]) or not set(q["must"]) <= has
                or len(has & set(q["should"])) < q["msm"] or has & set(q["exclude"])):
            continue
        denom = K1 * (1.0 - B + B * dls[d] / avgdl)
        parts = [(t, tf[t][d]) for t in q["terms"] if t in has]
        if q["comb"] == "synonym":
            f = float(sum(x for _, x in parts))
            s = q["w"][parts[0][0]] * (K1 + 1.0) * f / (f + denom)
        else:
            cs = [q["w"][t] * x * (K1 + 1.0) / (x + denom) for t, x in parts]
            s = sum(cs)
            if q["comb"] == "dismax":
                s = max(cs) + q["tie"] * (s - max(cs))
        rows.append((float(ext_ids[d]), s))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[: q["k"]]


def _run(specs, tf, dls, ext_ids, alive):
    denom = K1 * (1.0 - B + B * dls / dls.mean())
    q, e, s = _score_batch_queries(specs, _post(tf), alive, ext_ids, denom, K1)
    got = {}
    for qa, ea, sa in zip(q, e, s):
        got[qa[0]] = [(float(x), float(y)) for x, y in zip(ea, sa)]
    return got


RAW = {
    "or": {"terms": ["a", "b", "c"], "k": 10},
    "or_dup_miss": {"terms": ["b", "b", "zz"], "k": 7},
    "and": {"terms": ["a", "b"], "mode": "and", "k": 10},
    "and_miss": {"terms": ["a", "zz"], "mode": "and", "k": 10},
    "must_should": {"must": ["a"], "should": ["b", "c"], "k": 10},
    "msm2": {"should": ["a", "b", "c", "d"], "min_should_match": 2, "k": 12},
    "full_bool": {"must": ["c"], "should": ["a", "b", "d"], "exclude": ["e"],
                  "min_should_match": 1, "k": 10},
    "dismax0": {"terms": ["a", "b", "c"], "comb": "dismax", "tie": 0.0, "k": 10},
    "dismax03": {"terms": ["a", "b", "c"], "comb": "dismax", "tie": 0.3, "k": 10},
    "dismax1": {"terms": ["a", "b", "c"], "comb": "dismax", "tie": 1.0, "k": 10},
    "synonym": {"terms": ["a", "d"], "comb": "synonym", "k": 10},
    "boosts": {"terms": ["a", "b"], "boosts": {"b": 2.5}, "k": 10},
    "all": {"terms": VOCAB, "k": 1 << 40},
}


@pytest.mark.parametrize("seed", [1, 2])
def test_kernel_matches_brute_force_every_spec_kind(seed):
    tf, dls, ext_ids = _segment(seed)
    specs = _specs(RAW, tf, dls.size)
    assert set(specs) == set(RAW) - {"and_miss"}  # a df-0 required term matches nothing
    rng = np.random.default_rng(seed + 100)
    masks = {
        "none": np.ones(dls.size, bool),
        "tomb_allowed": _alive_mask(
            dls.size, np.sort(rng.choice(dls.size, 40, replace=False)).astype(np.int32),
            np.sort(rng.choice(dls.size, 200, replace=False)).astype(np.int32),
        ),
        "visited_limit": _alive_mask(dls.size, None, None, limit=97),
    }
    for name, alive in masks.items():
        got = _run(specs, tf, dls, ext_ids, alive)
        for qid, q in specs.items():
            want = _brute(q, tf, dls, ext_ids, alive)
            g = got.get(qid, [])
            assert [e for e, _ in g] == [e for e, _ in want], (name, qid)
            assert all(math.isclose(x, y, rel_tol=1e-12) for (_, x), (_, y) in zip(g, want))
    # the visit limit leaves no doc at or past it
    assert max(ext_ids.tolist().index(e) for e, _ in got["all"]) < 97


def test_dismax_tie1_is_the_sum_and_synonym_single_term_is_the_term():
    tf, dls, ext_ids = _segment(3)
    specs = _specs({
        "sum": {"terms": ["a", "b"], "k": 20},
        "dm1": {"terms": ["a", "b"], "comb": "dismax", "tie": 1.0, "k": 20},
        "t": {"terms": ["c"], "k": 20},
        "syn": {"terms": ["c"], "comb": "synonym", "k": 20},
    }, tf, dls.size)
    got = _run(specs, tf, dls, ext_ids, np.ones(dls.size, bool))
    for a, b in (("sum", "dm1"), ("t", "syn")):
        assert [e for e, _ in got[a]] == [e for e, _ in got[b]]
        assert np.allclose([s for _, s in got[a]], [s for _, s in got[b]], rtol=1e-12)


def test_equal_scores_break_ties_by_lower_ext_id():
    # four identical docs (same tf, same length) → equal scores
    tf = {"a": {0: 2, 1: 2, 2: 2, 3: 2}}
    dls = np.full(4, 10.0)
    ext_ids = np.array([40, 7, 19, 3], np.int64)
    specs = _specs({"q": {"terms": ["a"], "k": 3}}, tf, 8)
    got = _run(specs, tf, dls, ext_ids, np.ones(4, bool))
    assert [e for e, _ in got["q"]] == [3.0, 7.0, 19.0]


def test_all_rejected_segment_emits_no_rows():
    tf, dls, ext_ids = _segment(4)
    specs = _specs(RAW, tf, dls.size)
    assert _run(specs, tf, dls, ext_ids, np.zeros(dls.size, bool)) == {}
    veto = _specs({"q": {"must": ["a"], "exclude": ["b"], "k": 5}}, tf, dls.size)
    only_ab = {"a": tf["a"], "b": dict(tf["a"])}  # every "a" doc also holds "b"
    assert _run(veto, only_ab, dls, ext_ids, np.ones(dls.size, bool)) == {}


def test_match_only_specs_may_overlap():
    """A match-only ``BooleanQuery`` (``boolean_query``) may name a term in
    two clause lists: the kernel matches as Lucene's clause rules say."""
    tf, dls, ext_ids = _segment(5)
    raw = {
        "must_should": {"must": ["a"], "should": ["a", "b"], "min_should_match": 2},
        "should_exclude": {"should": ["a", "b"], "exclude": ["b"]},
        "must_exclude": {"must": ["a"], "exclude": ["a"]},
    }
    specs = _specs({q: {**s, "k": 1 << 40} for q, s in raw.items()}, tf, dls.size)
    got = _run(specs, tf, dls, ext_ids, np.ones(dls.size, bool))

    def docs(rule):
        return sorted(float(ext_ids[d]) for d in range(dls.size)
                      if rule({t for t in VOCAB if d in tf[t]}))

    assert sorted(e for e, _ in got["must_should"]) == docs(lambda h: {"a", "b"} <= h)
    assert sorted(e for e, _ in got["should_exclude"]) == docs(lambda h: "a" in h and "b" not in h)
    assert "must_exclude" not in got


def test_decode_skips_blocks_past_the_visit_limit():
    docs = np.arange(0, 200, 3, dtype=np.int64)
    tfs = (docs % 4 + 1).astype(np.int64)
    blocks = [slice(i, i + 16) for i in range(0, docs.size, 16)]
    p = {
        "first_doc": np.array([docs[s][0] for s in blocks]),
        "doc_deltas": np.array(
            [varint_encode(np.diff(docs[s], prepend=0)) for s in blocks], dtype=object
        ),
        "tfs": np.array([varint_encode(tfs[s]) for s in blocks], dtype=object),
    }
    d, t = _decode_term(p)
    assert d.tolist() == docs.tolist() and t.tolist() == tfs.tolist()
    d, t = _decode_term(p, limit=50)  # blocks starting at 0 and 48 only
    assert d.tolist() == docs[:32].tolist() and t.tolist() == tfs[:32].tolist()
    assert _decode_term(p, limit=0)[0].size == 0


def test_compile_checks_modes_and_clauses_once():
    with pytest.raises(ValueError, match="unknown mode 'AND'"):
        _compile({"terms": ["a"], "mode": "AND"})
    with pytest.raises(ValueError, match="q7: unknown mode 'xor'"):
        _compile({"terms": ["a"], "mode": "xor"}, "q7")
    # a scored spec's clause lists are checked apart; a match-only one may overlap
    with pytest.raises(ValueError, match="q2: terms appear in more than one clause"):
        _disjoint({"must": ["a"], "exclude": ["a"]}, "q2")
    with pytest.raises(ValueError, match="more than one clause"):
        _disjoint({"must": ["a"], "should": ["a", "b"]})
    c = _compile({"must": ["a"], "should": ["a", "b"], "exclude": ["b"]})
    assert (c["terms"], c["should"], c["exclude"]) == (["a", "b"], ["a", "b"], ["b"])
    with pytest.raises(ValueError, match="positive clause"):
        _compile({"exclude": ["a"]})
    with pytest.raises(ValueError, match="terms/mode"):
        _compile({"must": ["a"], "terms": ["b"]})
    assert _compile({"should": ["a"], "min_should_match": 2}) is None  # matches nothing
    c = _compile({"should": ["a", "b"]})
    assert (c["must"], c["msm"]) == ([], 1)  # pure SHOULD needs one match
    c = _compile({"terms": ["a", "b", "a"], "mode": "and"})
    assert (c["terms"], c["must"], c["msm"]) == (["a", "b"], ["a", "b"], 0)
