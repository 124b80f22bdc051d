"""The resident phrase and fuzzy tiers against the Spark tier.

While the resident text pack serves the catalog, ``phrase_topk`` scores
every live leaf in the driver over the pack's ``positions`` entry, and
``fuzzy_expand`` runs over the pack's sorted dictionary. Both must answer
exactly as the Spark tier (``TEXT_RESIDENT_MAX_BYTES`` forced to 0):
phrase (ext_id, score) lists bit for bit, fuzzy expansions term for term,
``PositionsStaleError`` and ``TooManyClauses`` alike.
"""

from __future__ import annotations

import contextlib
import dataclasses
import random

import pytest
from pyspark.sql import functions as F

import cuvs_lucene_spark.operators.multiterm as M
import cuvs_lucene_spark.operators.positions as P
import cuvs_lucene_spark.operators.resident as R
from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.deletes import delete_docs
from cuvs_lucene_spark.operators.merge import merge_segments
from cuvs_lucene_spark.operators.multiterm import TooManyClauses, fuzzy_expand, fuzzy_topk
from cuvs_lucene_spark.operators.positions import (
    PositionsStaleError,
    build_positions,
    phrase_topk,
    refresh_positions,
)
from cuvs_lucene_spark.operators.segments import build_index
from cuvs_lucene_spark.sources.catalog import IndexCatalog
from cuvs_lucene_spark.streaming.ingest import incremental_add

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)
NOCOMPACT = dataclasses.replace(CFG, compact_dropped_fraction=1.0)

PHRASES = {
    "plain": (["order", "fast"], 10),
    "trigram": (["big", "order", "scan"], 10),
    "repeated": (["order", "order"], 10),
    "union_slot": ([["data", "group"], "slow"], 10),
    "absent": (["order", "zzz_not_in_corpus"], 10),
    "k3": (["window", "join"], 3),
    "k0": (["order", "fast"], 0),
}


def _phrase_rows(spark, cat) -> dict:
    return {name: [(r[0], float(r[1]).hex()) for r in
                   phrase_topk(spark, cat, ph, k=k, cfg=CFG).collect()]
            for name, (ph, k) in PHRASES.items()}


@contextlib.contextmanager
def _tier(monkeypatch, tier: str):
    """The resident tier with the Spark tier poisoned (so a silent
    fallback fails), or the Spark tier (text budget 0)."""
    with monkeypatch.context() as m:
        if tier == "resident":
            for mod, name in ((P, "phrase_match"), (P, "_query_postings"), (M, "_fuzzy_scan")):
                m.setattr(mod, name, lambda *a, **k: pytest.fail("took the Spark tier"))
        else:
            m.setattr(R, "TEXT_RESIDENT_MAX_BYTES", 0)
        yield


def _both(spark, cat, monkeypatch, fn):
    """``fn()`` on the resident tier, then on the Spark tier; an
    exception is returned as its type and message."""
    out = []
    for tier in ("resident", "spark"):
        with _tier(monkeypatch, tier):
            try:
                out.append(fn())
            except (PositionsStaleError, TooManyClauses) as e:
                out.append((type(e), str(e)))
    return out


def _phrases_equal(spark, cat, monkeypatch):
    resident, tier = _both(spark, cat, monkeypatch, lambda: _phrase_rows(spark, cat))
    assert resident["plain"] and resident["union_slot"] and resident["repeated"]
    assert resident["absent"] == resident["k0"] == []
    assert len(resident["k3"]) == 3
    assert {n: v for n, v in resident.items() if v != tier[n]} == {}


@pytest.fixture(scope="module")
def pcat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cat = build_index(spark, docs, str(tmp_path_factory.mktemp("posres")), CFG,
                      content_col="text", id_col="doc_id")
    build_positions(spark, cat, docs, CFG)
    return cat


@pytest.fixture(scope="module")
def pdeleted(spark, pcat):
    delete_docs(spark, pcat, spark.range(0, 500, 7).withColumnRenamed("id", "ext_id"))
    return pcat


@pytest.fixture(scope="module")
def pmerged(spark, pdeleted, monkeypatch_module):
    """An epoch run while the sidecar was hidden from it, so it appended
    no position rows (a stale sidecar), repaired by ``refresh_positions``;
    then segments 0 and 1 merged and the sidecar refreshed again. Records what a phrase query did on each tier while
    the sidecar was stale, and the pack reads of the query after the
    last refresh."""
    cat = pdeleted
    query = lambda: phrase_topk(spark, cat, ["order", "fast"], k=10, cfg=CFG).collect()  # noqa: E731
    query()  # the pack is warm before each commit
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    epoch = docs.filter(F.col("doc_id") < 60).withColumn("doc_id", F.col("doc_id") + 1000)
    exists = IndexCatalog.exists  # (the epoch's transaction calls it)
    with monkeypatch_module.context() as m:
        m.setattr(IndexCatalog, "exists", lambda self, t: t != "positions" and exists(self, t))
        incremental_add(spark, cat, epoch, CFG, epoch=0, content_col="text", id_col="doc_id")
    stale = {"epoch": _both(spark, cat, monkeypatch_module, query)}
    all_docs = docs.unionByName(epoch)
    assert refresh_positions(spark, cat, all_docs, CFG) == 1
    merge_segments(spark, cat, NOCOMPACT, groups=[[0, 1]])
    stale["merge"] = _both(spark, cat, monkeypatch_module, query)
    with pytest.raises(PositionsStaleError):
        query()  # refills what the budget-0 pass released: the refresh below only appends
    assert refresh_positions(spark, cat, all_docs, CFG) == 1
    seen = []
    real = IndexCatalog.read_arrow

    def counted(self, table, *a, **k):
        seen.append((table, k.get("appends")))
        return real(self, table, *a, **k)

    with monkeypatch_module.context() as m:
        m.setattr(IndexCatalog, "read_arrow", counted)
        query()
    return cat, stale, seen


@pytest.fixture(scope="module")
def monkeypatch_module():
    with pytest.MonkeyPatch.context() as m:
        yield m


def test_phrase_tiers_equal_fresh(spark, pcat, monkeypatch):
    _phrases_equal(spark, pcat, monkeypatch)


def test_phrase_tiers_equal_after_delete(spark, pdeleted, monkeypatch):
    _phrases_equal(spark, pdeleted, monkeypatch)


def test_stale_sidecar_raises_on_both_tiers(pmerged):
    _, stale, _ = pmerged
    for when, (resident, tier) in stale.items():
        assert resident[0] is PositionsStaleError, when
        assert resident == tier, when


def test_phrase_tiers_equal_after_epoch_refresh_merge(spark, pmerged, monkeypatch):
    """After the epoch, the merge and the refreshes, the warm pack read
    only the refresh's appended directory, and both tiers still agree."""
    cat, _, seen = pmerged
    appends = cat.read_manifest()["tables"]["positions"]["appends"]
    assert seen == [("positions", tuple(appends[-1:]))]
    _phrases_equal(spark, cat, monkeypatch)


def test_failed_positions_read_takes_the_spark_tier(spark, pcat, monkeypatch):
    """A positions read that fails leaves the catalog's phrase queries on
    the Spark tier, with the resident tier's results; the sidecar is not
    read again until it changes."""
    want = _phrase_rows(spark, pcat)
    fresh = IndexCatalog(pcat.root)
    tried = []
    real = IndexCatalog.read_arrow

    def failing(self, table, *a, **kw):
        if table == "positions":
            tried.append(table)
            raise MemoryError("positions do not fit the driver")
        return real(self, table, *a, **kw)

    monkeypatch.setattr(IndexCatalog, "read_arrow", failing)
    assert _phrase_rows(spark, fresh) == want
    assert tried == ["positions"]


FUZZY = [
    ("order", dict(max_edits=0)),
    ("ordre", dict(max_edits=1)),
    ("ordre", dict(max_edits=1, transpositions=False)),
    ("sprak", dict(max_edits=2)),
    ("sprak", dict(max_edits=2, transpositions=False)),
    ("sprak", dict(max_edits=2, prefix_length=2)),
    ("jion", dict(max_edits=1, prefix_length=1, transpositions=False)),
    ("ordér", dict(max_edits=1)),
    ("scna", dict(max_edits=2, max_expansions=2)),
]


@pytest.mark.parametrize("term,args", FUZZY)
def test_fuzzy_expand_tier_equality(spark, pcat, monkeypatch, term, args):
    resident, tier = _both(spark, pcat, monkeypatch, lambda: fuzzy_expand(spark, pcat, term, **args))
    assert resident == tier


def test_fuzzy_topk_tier_equality(spark, pdeleted, monkeypatch):
    def run():
        return [(r[0], float(r[1]).hex())
                for r in fuzzy_topk(spark, pdeleted, "ordre", k=10, max_edits=1, cfg=CFG).collect()]

    resident, tier = _both(spark, pdeleted, monkeypatch, run)
    assert resident and resident == tier


def test_edit_distance_kernel_matches_osa():
    """The batch kernel returns what ``_osa`` returns for every string
    (and the plain Levenshtein distance without transpositions), capped
    the same way, over random strings with non-ASCII code points."""

    def levenshtein(a, b, cap):
        prev = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            cur = [i] + [0] * len(b)
            for j in range(1, len(b) + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return min(prev[-1], cap + 1)

    rng = random.Random(7)
    alphabet = "abcé日"
    for _ in range(150):
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 7)))
        terms = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9))) for _ in range(40)]
        for cap in (0, 1, 2, 3):
            assert M._edit_distances(terms, q, cap).tolist() == [M._osa(t, q, cap) for t in terms]
            got = M._edit_distances(terms, q, cap, transpositions=False).tolist()
            assert [min(d, cap + 1) for d in got] == [levenshtein(t, q, cap) for t in terms]
    skip = M._edit_distances(["xyabc", "xyacb", "xyzzz"], "abc", 1, skip=2).tolist()
    assert skip == [0, 1, 2]
    assert M._edit_distances([], "abc", 2).tolist() == []
