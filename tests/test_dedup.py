"""Connected-components dedup clustering (pairs -> decision table):
chain topology, transitivity on the real corpus, keep-list invariants,
the numpy union-find kernel, job count and storage release; SimHash
width validation."""

import pytest


def _chain_inputs(spark):
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50),  # 5-chain, diameter 4
         (100, 110),                              # separate 2-cluster
         (7, 200)],                               # min-id joins via high id
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in
                                 [7, 10, 20, 30, 40, 50, 100, 110, 200, 999]],
                                "doc_id long")
    return pairs, ids


def test_duplicate_components_chain(spark):
    """A~B, B~C (no A~C pair) must collapse into ONE component with the
    min id as survivor; a chain longer than one hop exercises multiple
    propagation rounds. Disjoint cluster + singleton stay separate. A
    self-pair is a one-node component even without ``all_ids``."""
    from cuvs_lucene_spark.operators.dedup import duplicate_components

    pairs, ids = _chain_inputs(spark)
    got = {
        r["id"]: (r["component"], r["keep"])
        for r in duplicate_components(pairs, all_ids=ids).collect()
    }
    assert len(got) == 10
    for i in [10, 20, 30, 40, 50]:
        assert got[i] == (10, i == 10)
    for i in [100, 110]:
        assert got[i] == (100, i == 100)
    for i in [7, 200]:
        assert got[i] == (7, i == 7)
    assert got[999] == (999, True)  # singleton keeps itself

    self_pairs = pairs.union(
        spark.createDataFrame([(300, 300), (7, 7)], "id_a long, id_b long")
    )
    got = {
        r["id"]: (r["component"], r["keep"])
        for r in duplicate_components(self_pairs).collect()
    }
    assert len(got) == 10 and 999 not in got
    assert got[300] == (300, True)  # seen only in a self-pair
    assert got[7] == (7, True) and got[200] == (7, False)


def test_duplicate_components_job_count_and_storage(spark):
    """The in-memory tier is a handful of Spark jobs (the per-round loop
    it replaced ran dozens on this graph) and leaves no RDD persisted."""
    from cuvs_lucene_spark.operators.dedup import duplicate_components

    sc = spark.sparkContext
    pairs, ids = _chain_inputs(spark)
    persisted = sc._jsc.getPersistentRDDs().size()
    group = "test_duplicate_components_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = duplicate_components(pairs, all_ids=ids).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 10
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_duplicate_components_transitive_vs_pairs(spark, docs_df):
    """On the real corpus: components refine the pair graph — every pair's
    two ids land in the same component, and keep-count == component count."""
    from cuvs_lucene_spark.operators.dedup import (
        duplicate_components,
        simhash_near_dup,
    )

    pairs = simhash_near_dup(docs_df, max_hamming=3, bands=4)
    comp = duplicate_components(pairs, all_ids=docs_df.select("doc_id")).cache()
    cmap = {r["id"]: r["component"] for r in comp.collect()}
    for r in pairs.collect():
        assert cmap[r["id_a"]] == cmap[r["id_b"]]
    n_components = len(set(cmap.values()))
    n_keep = sum(1 for r in comp.collect() if r["keep"])
    assert n_keep == n_components
    # every component id is a member's id and the minimum of its members
    members = {}
    for i, c in cmap.items():
        members.setdefault(c, []).append(i)
    for c, ms in members.items():
        assert c == min(ms)


def _union_find(ea, eb):
    """Reference components: {node: min id of its component}."""
    parent = {}

    def find(i):
        parent.setdefault(i, i)
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in zip(ea, eb):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in list(parent)}


def _random_graph(seed, n_nodes=200):
    import numpy as np

    rng = np.random.default_rng(seed)
    ea = rng.integers(0, n_nodes, 120)
    eb = rng.integers(0, n_nodes, 120)
    keep = ea != eb
    return ea[keep], eb[keep]


def test_min_label_kernel_vs_union_find():
    """The numpy kernel both component steps run, checked without Spark:
    random graphs, a 10^5-node chain in shuffled id order (pointer
    jumping must converge in a few rounds), duplicate and reversed
    pairs; and the per-partition forest keeps self-pair-only nodes."""
    import numpy as np
    import pandas as pd

    from cuvs_lucene_spark.operators.dedup import _min_label, _spanning_forest

    def check(ea, eb):
        ea, eb = np.asarray(ea, np.int64), np.asarray(eb, np.int64)
        nodes, labels = _min_label(ea, eb)
        assert np.all(np.diff(nodes) > 0)
        assert dict(zip(nodes.tolist(), labels.tolist())) == _union_find(ea, eb)

    for seed in [1, 17, 99]:
        check(*_random_graph(seed))
    perm = np.random.default_rng(5).permutation(100_000)
    check(perm[:-1], perm[1:])
    ea, eb = _random_graph(17)
    check(np.concatenate([ea, eb, ea]), np.concatenate([eb, ea, eb]))
    check([], [])

    batches = [pd.DataFrame({"a": [5, 1], "b": [5, 2]}), pd.DataFrame({"a": [2], "b": [3]})]
    (forest,) = list(_spanning_forest(iter(batches)))
    assert sorted(zip(forest["root"], forest["node"])) == [(1, 2), (1, 3), (5, 5)]


def test_duplicate_components_random_vs_union_find(spark):
    """Randomized cross-check: the Spark components equal a plain
    union-find reference on arbitrary graph shapes (chains, stars, cliques
    emerge from uniform random pairs)."""
    from cuvs_lucene_spark.operators.dedup import duplicate_components

    n_nodes = 200
    ids = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    for seed in [1, 17, 99]:
        ea, eb = _random_graph(seed, n_nodes)
        exp_comp = {i: i for i in range(n_nodes)}
        exp_comp.update(_union_find(ea, eb))
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in zip(ea, eb)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["component"]
            for r in duplicate_components(pairs, all_ids=ids).collect()
        }
        assert got == exp_comp, f"seed {seed} mismatch"


def test_duplicate_components_tiers(spark, monkeypatch):
    """An edge list within ``COMPONENTS_BCAST_MAX_NODES`` is unioned in
    the driver with no pandas UDF planned; a longer one is first cut to
    spanning forests on the executors (unioned in the driver, or by the
    shuffle tier when the forest is over the cap too): same components."""
    import cuvs_lucene_spark.operators.dedup as dd

    edges = [(a, b) for a in range(10) for b in range(a + 1, 10)]  # a 10-clique
    edges += [(20, 21), (21, 22), (30, 30)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(1)
    want = {**{i: 0 for i in range(10)}, 20: 20, 21: 20, 22: 20, 30: 30}

    def components():
        return {r["id"]: r["component"] for r in dd.duplicate_components(pairs).collect()}

    with monkeypatch.context() as m:
        m.setattr(type(pairs), "mapInPandas",
                  lambda *a, **k: pytest.fail("planned a pandas UDF"))
        assert components() == want
    # the forest (12 rows) fits a cap under the 48 edges; then neither fits
    for cap in (len(edges) - 1, 0):
        monkeypatch.setattr(dd, "COMPONENTS_BCAST_MAX_NODES", cap)
        assert components() == want


def test_simhash_rejects_unfillable_widths(spark):
    """The fingerprint folds a 32-bit md5 prefix, so wider fingerprints
    would carry always-zero high bits: widths outside 1..32 are rejected
    before any Spark work."""
    from cuvs_lucene_spark.operators.dedup import simhash, simhash_near_dup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bits in [0, 33, 64]:
        with pytest.raises(ValueError, match="bits"):
            simhash(docs, bits=bits)
    with pytest.raises(ValueError, match="bits"):
        simhash_near_dup(docs, bits=64, bands=4)
