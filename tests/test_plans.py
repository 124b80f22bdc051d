"""Physical-plan assertions: the engine must produce the plans it was
designed for — pushed filters on the postings scan, pruned read schemas,
broadcast joins for small sides. Guard against silent plan regressions."""

import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.config import IndexConfig
from cuvs_lucene_spark.operators.bm25 import _query_postings, fetch_stored
from cuvs_lucene_spark.operators.segments import build_index

from tests.conftest import SF_DIR

CFG = IndexConfig(rows_per_segment=100, block_size=16, term_buckets=8)


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("planidx")), CFG,
        content_col="text", id_col="doc_id",
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_pushes_filters(spark, cat):
    df = _query_postings(spark, cat, ["join", "vector"], CFG)
    plan = _plan(df)
    assert "PushedFilters" in plan
    # both the bucket and the term predicate reach the parquet scan
    assert "term_bucket" in plan.split("PushedFilters")[1][:400]
    assert "In(term" in plan or "term," in plan.split("PushedFilters")[1][:400]


def test_postings_scan_prunes_columns(spark, cat):
    df = _query_postings(spark, cat, ["join"], CFG).select("segment_id", "term", "n")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # the fat binary columns must NOT be read for a count-style projection
    assert "doc_deltas" not in read_schema
    assert "tfs" not in read_schema


def test_stored_fetch_broadcasts_topk(spark, cat):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumnRenamed(
        "doc_id", "ext_id"
    )
    topk = spark.createDataFrame([(1, 0.5), (2, 0.4)], "ext_id long, score double")
    plan = _plan(fetch_stored(spark, cat, topk, docs))
    assert "BroadcastHashJoin" in plan


def test_embedding_near_dup_no_nested_loop_join(spark):
    """The exact near-dup join must distribute through block-grid
    EQUI-joins — a BroadcastNestedLoopJoin means the O(N²) pairs flow
    through one nested-loop operator with the whole table broadcast."""
    from cuvs_lucene_spark.operators.dedup import embedding_near_dup

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedding_near_dup(vecs, threshold=0.4))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_grouped_dense_rank_no_window_no_single_partition(spark):
    """The merge doc-id assignment path: no Window operator and no
    Exchange SinglePartition anywhere (a forceMerge(1) would otherwise
    serialize the whole doc_map through one task)."""
    from cuvs_lucene_spark.operators.segments import grouped_dense_rank

    df = spark.range(0, 10_000).selectExpr("id % 3 AS g", "id AS v")
    ranked, unpersist = grouped_dense_rank(df, ["g"], ["v"], "rk", n_partitions=5)
    plan = _plan(ranked)
    unpersist()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_ivf_probe_pushes_list_filter(spark, tmp_path, spark_tier):
    """IVF search job 2 scans ann_ivf with a pushed list_id filter — the
    probe prunes at the parquet scan, not inside a pandas pass."""
    from cuvs_lucene_spark.operators.ann import ann_topk, build_ann

    rows = [(i, [float(i), float(i % 7)] * 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = build_ann(
        spark, df, str(tmp_path / "annplan"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=20,
    )
    plan = _plan(ann_topk(spark, cat, [1.0] * 8, k=3, metric="l2", cfg=CFG, mode="ivf"))
    pushed = [seg for seg in plan.split("PushedFilters: ")[1:]]
    assert any("list_id" in p[:300] for p in pushed), plan[:2000]


def test_fast_query_path_single_shuffle_no_cogroup(spark, cat, spark_tier):
    """The no-deletes broadcast-norms query path: ONE hash exchange on
    segment_id, no FlatMapCoGroupsInPandas (the aux union + cogroup only
    appear when tombstones or large filters force the blob path)."""
    from cuvs_lucene_spark.operators.bm25 import bm25_topk

    df = bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_whole_stage_codegen_on_text_ops(spark):
    from cuvs_lucene_spark.functions.textstats import quality_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quality_score(docs))
    # pure Catalyst expressions: no Python eval nodes anywhere in the plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Project" in plan


def test_ivf_distributed_probe_no_driver_collect(spark, tmp_path, monkeypatch, spark_tier):
    """probe_mode='distributed' must never materialize centroid state on
    the driver (the 10⁶-segment path): poison the driver-pack helpers and
    assert the distributed result matches the driver-ranked one."""
    import cuvs_lucene_spark.operators.ann as A

    rows = [(i, [float(i % 13), float(i % 7), float(i % 5), 1.0] * 2) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = A.build_ann(
        spark, df, str(tmp_path / "annprobe"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=20,
    )
    q = [1.0] * 8
    want = [(r["ext_id"], round(r["score"], 9)) for r in A.ann_topk(
        spark, cat, q, k=5, cfg=CFG, mode="ivf", probe_mode="driver").collect()]

    def _boom(*a, **k):
        raise AssertionError("driver-side centroid collect on the distributed path")

    monkeypatch.setattr(A, "_centroid_pack", _boom)
    got = [(r["ext_id"], round(r["score"], 9)) for r in A.ann_topk(
        spark, cat, q, k=5, cfg=CFG, mode="ivf", probe_mode="distributed").collect()]
    assert got == want


def test_ivfpq_probe_pushes_list_filter_and_no_cartesian(spark, tmp_path, spark_tier):
    """The IVF-PQ search scans its compressed lists with the probe's
    list_id filter pushed to parquet, and never a nested-loop join."""
    from cuvs_lucene_spark.operators.ann import (
        ann_topk_ivfpq,
        build_ann,
        build_ann_ivfpq,
    )

    rows = [(i, [float(i), float(i % 7)] * 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = build_ann(
        spark, df, str(tmp_path / "ivfpqplan"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=20,
    )
    build_ann_ivfpq(spark, cat, CFG)
    plan = _plan(ann_topk_ivfpq(spark, cat, [1.0] * 8, k=3, cfg=CFG))
    pushed = [seg for seg in plan.split("PushedFilters: ")[1:]]
    assert any("list_id" in p[:300] for p in pushed), plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_ivf_distributed_probe_no_driver_collect(spark, ann_cat, monkeypatch):
    """knn_join_ivf's distributed probe: NO collect whose size grows with
    segment count (the centroid pack must never land in the driver /
    closure) — poison the driver-pack helpers and assert the distributed
    result matches the driver-ranked one, bf-fallback segment included."""
    import cuvs_lucene_spark.operators.ann as A

    cat, df = ann_cat  # segments of 150/150/1 — the last is a bf-fallback pseudo-list
    qdf = df.filter(F.col("vec_id").isin([0, 17, 300])).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    want = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"])
        for r in A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="driver").collect()
    )
    monkeypatch.setattr(
        A, "_centroid_pack",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver centroid pack on the distributed join path")
        ),
    )
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"])
        for r in A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="distributed").collect()
    )
    assert got == want


def test_knn_join_ivf_shuffle_tier_no_broadcast_no_collect(spark, ann_cat, monkeypatch):
    """The many-segments × many-queries cell: probe_mode='shuffle' must
    neither collect centroid state on the driver NOR broadcast a
    DataFrame whose size grows with the query count. Poison both the
    driver-pack helpers and F.broadcast itself, pin the plan (no
    BroadcastExchange with auto-broadcast off), and assert the results
    match the driver-ranked tier — bf-fallback pseudo-list included."""
    import cuvs_lucene_spark.operators.ann as A

    cat, df = ann_cat  # segments of 150/150/1 — the last is a bf-fallback pseudo-list
    qdf = df.filter(F.col("vec_id").isin([0, 17, 300])).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    want = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"])
        for r in A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="driver").collect()
    )
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("driver/broadcast state on the shuffle join tier")
    )
    monkeypatch.setattr(A, "_centroid_pack", boom)
    monkeypatch.setattr(A.F, "broadcast", boom)
    got_df = A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="shuffle")
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"]) for r in got_df.collect()
    )
    assert got == want
    # with auto-broadcast disabled the shuffle tier's plan must hold no
    # broadcast exchange at all — both probe joins are shuffled
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="shuffle"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan


def test_probe_ladder_auto_switches_to_distributed(spark, tmp_path, monkeypatch, spark_tier):
    """Scale-shape regression: above PROBE_DRIVER_MAX_SEGMENTS the auto
    probe mode must leave the driver — for BOTH ann_topk and knn_join_ivf —
    and return results identical to the driver-ranked mode."""
    import cuvs_lucene_spark.operators.ann as A

    rows = [(i, [float(i % 11), float(i % 3), 2.0, 1.0] * 2) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = A.build_ann(
        spark, df, str(tmp_path / "ladder"), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=20,
    )
    assert cat.read_manifest()["stages"]["ann_ivf"]["n_ivf_segments"] == 5
    q = [1.0] * 8
    qdf = df.filter(F.col("vec_id") < 3).selectExpr("vec_id AS q_id", "embedding AS q_vec")
    want_topk = [(r["ext_id"], round(r["score"], 9)) for r in A.ann_topk(
        spark, cat, q, k=5, cfg=CFG, mode="ivf", probe_mode="driver").collect()]
    want_join = sorted(
        (r["q_id"], r["rank"], r["vec_id"]) for r in
        A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="driver").collect()
    )
    # 5 segments > a ladder threshold of 2 → auto must pick distributed
    monkeypatch.setattr(A, "PROBE_DRIVER_MAX_SEGMENTS", 2)
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("auto mode stayed on the driver above the ladder threshold")
    )
    monkeypatch.setattr(A, "_centroid_pack", boom)
    got_topk = [(r["ext_id"], round(r["score"], 9)) for r in A.ann_topk(
        spark, cat, q, k=5, cfg=CFG, mode="ivf", probe_mode="auto").collect()]
    got_join = sorted(
        (r["q_id"], r["rank"], r["vec_id"]) for r in
        A.knn_join_ivf(spark, cat, qdf, k=3, probe_mode="auto").collect()
    )
    assert got_topk == want_topk
    assert got_join == want_join


def test_cosine_ivf_plan_shape(spark, tmp_path, spark_tier):
    """The cosine IVF probe keeps the scale-correct physical shape the L2
    path is pinned to: list_id filter pushed to the parquet scan, a
    broadcast hash join for the probe-pair semi-join, and never a
    nested-loop join."""
    import dataclasses

    import numpy as np

    from cuvs_lucene_spark.operators.ann import ann_topk, build_ann

    ccfg = dataclasses.replace(
        CFG, ann=dataclasses.replace(CFG.ann, metric="cosine")
    )
    rng = np.random.default_rng(21)
    x = rng.normal(size=(300, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(300)], "vec_id long, embedding array<float>"
    )
    acat = build_ann(spark, df, str(tmp_path / "cosplan"), ccfg,
                     id_col="vec_id", vector_col="embedding", rows_per_segment=100)
    plan = _plan(ann_topk(spark, acat, x[0], k=5, metric="cosine",
                          cfg=ccfg, mode="ivf"))
    assert "list_id" in plan  # probe filter reaches the scan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_dictionary_scan_pushes_prefix_and_length(spark, cat):
    """The fuzzy rewrite's pruning must reach the parquet dictionary scan:
    kind=term, the non-fuzzy StartsWith prefix, and the ±maxEdits length
    window all as data filters — never a full-dictionary pandas pass."""
    terms = cat.read(spark, "terms").select("term")
    pruned = (
        terms.filter(F.col("term").startswith("pa"))
        .filter(F.length("term").between(2, 6))
        .filter(F.levenshtein(F.col("term"), F.lit("part"), 2) >= 0)
    )
    plan = _plan(pruned)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "StringStartsWith(term,pa)" in pushed
    assert "EqualTo(kind,term)" in pushed
    # the length window runs against the scan output (same stage, before
    # any exchange — DataFilters truncates in toString, so match the plan)
    assert "length(term" in plan
    assert "Exchange" not in plan.split("FileScan")[0]


def test_decontamination_plan_semi_join_no_cartesian(spark):
    """ngram_contamination must meet train and eval grams in ONE equi-join
    (semi), never a nested-loop/cartesian pairing of docs."""
    from cuvs_lucene_spark.operators.dedup import ngram_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_contamination(
        train=docs.filter(F.col("doc_id") % 17 != 0),
        evals=docs.filter(F.col("doc_id") % 17 == 0),
        n=5,
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_facet_plan_semi_join_and_hash_agg(spark, cat):
    """facet_counts = one semi-join + a hash aggregate with map-side
    partials (partial_count before the exchange) — no nested loops."""
    from cuvs_lucene_spark.operators.bm25 import term_docs
    from cuvs_lucene_spark.operators.facets import facet_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = facet_counts(docs, term_docs(spark, cat, "data", CFG), "lang", top_n=3)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_range_facet_single_pass_no_per_range_joins(spark, cat):
    """range_facet_counts computes EVERY range in one conditional
    aggregation: exactly the one semi-join, no union of per-range scans."""
    from cuvs_lucene_spark.operators.bm25 import term_docs
    from cuvs_lucene_spark.operators.facets import range_facet_counts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = range_facet_counts(
        docs, term_docs(spark, cat, "data", CFG), "n_chars",
        [("a", 0, 200), ("b", 201, 400), ("c", 0, 10**9)],
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ONE doc-table scan feeds all three ranges (no per-range re-scan
    # union): exactly one FileScan reads the n_chars column. The match
    # side contributes its own (index-table) scans — not counted.
    doc_scans = [
        ln for ln in plan.splitlines()
        if "Scan parquet" in ln and "n_chars" in ln
    ]
    assert len(doc_scans) == 1, plan[:2000]


def test_span_near_scan_pushes_span_terms(spark, cat):
    """span_near's sidecar scan is pruned to the queried terms (pushed
    In(term,...)), like the phrase scan it shares _phrase_rows with."""
    from cuvs_lucene_spark.operators.positions import _phrase_rows, build_positions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    build_positions(spark, cat, docs, CFG)
    rows = _phrase_rows(spark, cat, ["data", "scan"])
    plan = _plan(rows)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "term" in pushed and "In(" in pushed


def test_group_topk_plan_shape(spark, cat, spark_tier):
    """Grouping: the exhaustive scored collection executes EXACTLY once
    (one pandas scorer node — a branched heads aggregate would re-run
    the whole BM25 pass for its second consumer), the scored-matches
    scan keeps its pushed term filter, and the group window shuffles on
    the group key."""
    from cuvs_lucene_spark.operators.grouping import group_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = group_topk(spark, cat, docs, ["data", "merge"], "lang",
                    k_groups=3, per_group=3, cfg=CFG)
    plan = _plan(df)
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "PushedFilters" in plan and "In(" in plan.split("PushedFilters")[1][:400]
    # the group window shuffles on the group key
    assert "hashpartitioning(group_value" in plan


def test_highlight_scan_pruned_and_text_joined(spark, cat):
    """Highlight: the sidecar scan is pruned to the query terms; the
    stored-field join reads only (id, text) from the source."""
    from cuvs_lucene_spark.operators.highlight import highlight
    from cuvs_lucene_spark.operators.positions import build_positions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    build_positions(spark, cat, docs, CFG)
    plan = _plan(highlight(spark, cat, docs, ["data", "scan"], window=3, cfg=CFG))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "term" in pushed and "In(" in pushed
    # source read schema pruned to the id + text columns
    seg = plan[plan.index("documents.parquet"):][:700]
    assert "lang" not in seg.split("ReadSchema")[1][:200]


def test_match_all_never_scans_postings(spark, cat):
    from cuvs_lucene_spark.operators.bm25 import match_all_docs

    plan = _plan(match_all_docs(spark, cat, CFG))
    assert "postings" not in plan, "MatchAllDocs must read only the doc map"


ANN_JOB_PINS = {  # warm per-query Spark jobs on the Spark tier (the query-tail pin)
    "exact": 1, "ivf": 2, "ivf_set_filter": 2, "ivf_df_filter": 3, "sq": 3, "bq": 3,
    "bq_rerank": 3, "pq": 3, "ivfpq": 5, "graph": 3, "graph_auto_ef": 6,
    "knn_join_ivf": 4,
}


@pytest.fixture(scope="module")
def ann_cat(spark, tmp_path_factory):
    """301 8-d vectors in segments of 150/150/1 — the last segment has no
    IVF index and takes the B2 fallback."""
    from cuvs_lucene_spark.operators.ann import build_ann, build_ann_ivfpq
    from cuvs_lucene_spark.operators.ann_graph import build_ann_graph

    rows = [(i, [float(i % 13), float(i % 7), float(i % 5), 1.0] * 2) for i in range(301)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cat = build_ann(
        spark, df, str(tmp_path_factory.mktemp("annjobs")), CFG,
        id_col="vec_id", vector_col="embedding", rows_per_segment=150,
    )
    build_ann_ivfpq(spark, cat, CFG)  # builds the PQ codebooks first
    build_ann_graph(spark, cat, CFG)
    return cat, df


def _ann_calls(spark, ann_cat):
    import cuvs_lucene_spark.operators.ann as A
    from cuvs_lucene_spark.operators.ann_graph import ann_topk_graph

    cat, df = ann_cat
    q = [1.0] * 8
    qdf = df.filter(F.col("vec_id").isin([0, 17, 300])).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    return {
        "exact": lambda: A.ann_topk(spark, cat, q, k=5, cfg=CFG, mode="exact"),
        "ivf": lambda: A.ann_topk(spark, cat, q, k=5, cfg=CFG, mode="ivf"),
        "ivf_set_filter": lambda: A.ann_topk(
            spark, cat, q, k=5, cfg=CFG, mode="ivf", filter_ext_ids=set(range(0, 301, 2))
        ),
        "sq": lambda: A.ann_topk_sq(spark, cat, q, k=5, cfg=CFG),
        "bq": lambda: A.ann_topk_bq(spark, cat, q, k=5, cfg=CFG),
        "bq_rerank": lambda: A.ann_topk_bq(spark, cat, q, k=5, cfg=CFG, rerank_factor=3),
        "pq": lambda: A.ann_topk_pq(spark, cat, q, k=5, cfg=CFG),
        "ivfpq": lambda: A.ann_topk_ivfpq(spark, cat, q, k=5, cfg=CFG),
        "graph": lambda: ann_topk_graph(spark, cat, q, k=5, cfg=CFG),
        "knn_join_ivf": lambda: A.knn_join_ivf(spark, cat, qdf, k=3),
        "ivf_df_filter": lambda: A.ann_topk(
            spark, cat, q, k=5, cfg=CFG, mode="ivf",
            filter_ext_ids=df.filter(F.col("vec_id") % 2 == 0).select("vec_id"),
        ),
        "graph_auto_ef": lambda: ann_topk_graph(spark, cat, q, k=5, cfg=CFG, auto_ef=True),
    }


def _warm_job_counts(spark, calls: dict, tag: str) -> dict:
    """Spark jobs of the second of two identical calls, counted under a
    job group (memos and the pack filled by the first)."""
    sc = spark.sparkContext
    counts = {}
    for mode, call in calls.items():
        assert call().collect()
        group = f"{tag}_{mode}"
        sc.setJobGroup(group, group)
        try:
            call().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts[mode] = len(sc.statusTracker().getJobIdsForGroup(group))
    return counts


def test_ann_query_job_counts(spark, ann_cat, spark_tier):
    """Every ANN search mode runs a fixed, small number of Spark jobs per
    warm query on the Spark tier."""
    calls = _ann_calls(spark, ann_cat)
    counts = _warm_job_counts(
        spark, {m: c for m, c in calls.items() if m in ANN_JOB_PINS}, "spark_tier"
    )
    assert {m: n for m, n in counts.items() if n > ANN_JOB_PINS[m]} == {}, counts


def test_ann_resident_query_job_counts(spark, ann_cat):
    """Under the default budget every ANN search is served from the
    resident pack: 0 warm jobs, 1 with a DataFrame filter (its head
    collect) and 1 for knn_join_ivf (the read of its query side); a query
    side built in the driver (a LocalRelation) is read with none, and
    joins as the same rows read by a job."""
    import cuvs_lucene_spark.operators.ann as A

    calls = _ann_calls(spark, ann_cat)
    cat, _ = ann_cat
    ids = [0, 17, 300]
    local = spark.createDataFrame(
        [(i, [float(i % 13), float(i % 7), float(i % 5), 1.0] * 2) for i in ids],
        "q_id long, q_vec array<float>").select("q_id", "q_vec")
    local = spark.createDataFrame(local.toArrow())
    assert local._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == \
        "LocalRelation"
    calls["knn_join_ivf_local"] = lambda: A.knn_join_ivf(spark, cat, local, k=3)
    assert (sorted(calls["knn_join_ivf_local"]().collect())
            == sorted(calls["knn_join_ivf"]().collect()))
    counts = _warm_job_counts(spark, calls, "resident")
    want = {m: 0 for m in counts}
    want.update(ivf_df_filter=1, knn_join_ivf=1)
    assert counts == want


def test_reads_head_only_over_row_wise_plans(spark, tmp_path):
    """A limit reads only a head of a frame built by scans and row-wise
    operators; not of one behind an aggregate, join, sort, repartition,
    scalar subquery or an RDD lineage with a shuffle (they would run in
    full for the limit, and again for a full read)."""
    from cuvs_lucene_spark.frames import local_frame, reads_head

    rows = spark.createDataFrame([(i, [0.5, 1.0]) for i in range(6)],
                                 "q_id long, q_vec array<float>")
    rows.write.parquet(str(tmp_path / "q"))
    scan = spark.read.parquet(str(tmp_path / "q"))
    rows.createOrReplaceTempView("reads_head_q")
    shuffled = rows.rdd.map(lambda r: (r[0], r)).reduceByKey(lambda a, b: a).values()
    head = {
        "local": local_frame(spark, "q_id long", range(3)),
        "rows": rows,
        "scan_filter": scan.filter("q_id > 2"),
        "range": spark.range(5).select("id", F.array(F.lit(1.0)).alias("v")),
        "union": rows.unionByName(scan),
        "python_udf": rows.select("q_id", F.udf(lambda v: v, "array<float>")("q_vec")),
        "map_in_pandas": rows.mapInPandas(lambda it: it, rows.schema),
        "limit": rows.limit(4),
    }
    full = {
        "group_by": rows.groupBy("q_id").agg(F.first("q_vec")),
        "distinct": rows.distinct(),
        "order_by": rows.orderBy("q_id"),
        "join": rows.join(scan.select("q_id"), "q_id"),
        "repartition": rows.repartition(3),
        "scalar_subquery": spark.sql(
            "select * from reads_head_q where q_id > (select max(q_id) - 3 from reads_head_q)"),
        "rdd_shuffle": spark.createDataFrame(shuffled, rows.schema),
    }
    assert {n: reads_head(df) for n, df in {**head, **full}.items()} == {
        **dict.fromkeys(head, True), **dict.fromkeys(full, False)}


BM25_JOB_PINS = {  # warm per-query Spark jobs of the BM25 family
    "topk": 2, "topk_and": 2, "boolean": 2, "dismax": 2, "synonym": 2,
    "batch": 3, "batch_cached": 3, "topk_cached": 2, "set_filter": 3,
    "df_filter_over_cap": 6, "after_delete": 3, "phrase": 5, "fuzzy": 4,
}


def _bm25_calls(spark, cat) -> dict:
    """The BM25 family's warm calls, phrase and fuzzy included (the
    positions sidecar is built first)."""
    import cuvs_lucene_spark.operators.bm25 as B
    from cuvs_lucene_spark.operators.multiterm import fuzzy_topk
    from cuvs_lucene_spark.operators.positions import build_positions, phrase_topk

    build_positions(spark, cat, spark.read.parquet(f"{SF_DIR}/documents.parquet"), CFG)

    batch = {
        "q0": {"terms": ["join", "vector"], "k": 5},
        "q1": {"must": ["dup"], "should": ["slow", "spark"], "k": 5},
    }
    small = spark.range(0, 400, 3).select(F.col("id").alias("ext_id"))
    return {
        "topk": lambda: B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG),
        "topk_and": lambda: B.bm25_topk(spark, cat, ["dup", "slow"], k=10, mode="and", cfg=CFG),
        "boolean": lambda: B.bm25_boolean_topk(
            spark, cat, must=["join"], should=["vector"], exclude=["slow"], k=10, cfg=CFG
        ),
        "dismax": lambda: B.dismax_topk(spark, cat, ["join", "vector"], 0.3, k=10, cfg=CFG),
        "synonym": lambda: B.synonym_topk(spark, cat, ["join", "vector"], k=10, cfg=CFG),
        "set_filter": lambda: B.bm25_topk(
            spark, cat, ["join", "vector"], k=10, cfg=CFG, filter_ext_ids=small
        ),
        "batch": lambda: B.bm25_topk_batch(spark, cat, batch, CFG),
        "phrase": lambda: phrase_topk(spark, cat, ["order", "fast"], k=10, cfg=CFG),
        "fuzzy": lambda: fuzzy_topk(spark, cat, "ordre", k=10, max_edits=1, cfg=CFG),
    }


def test_bm25_resident_query_job_counts(spark, cat):
    """Under the default budget every warm BM25 scored query and batch,
    phrase and fuzzy queries included, is served from the resident pack:
    0 jobs, 1 with a DataFrame filter (its head read); a filter built in
    the driver (a LocalRelation) reads its head with none."""
    from cuvs_lucene_spark.frames import local_frame
    from cuvs_lucene_spark.operators.bm25 import bm25_topk
    from cuvs_lucene_spark.operators.multiterm import prefix_topk

    calls = _bm25_calls(spark, cat)
    local = local_frame(spark, "ext_id long", range(0, 400, 3))
    calls["local_filter"] = lambda: bm25_topk(
        spark, cat, ["join", "vector"], k=10, cfg=CFG, filter_ext_ids=local
    )
    calls["prefix"] = lambda: prefix_topk(spark, cat, "jo", k=10, cfg=CFG)
    counts = _warm_job_counts(spark, calls, "bm25_resident")
    assert counts == {**dict.fromkeys(calls, 0), "set_filter": 1}


def test_bm25_query_job_counts(spark, cat, monkeypatch, spark_tier):
    """Every BM25 query kind runs a fixed, small number of Spark jobs per
    warm query on the Spark tier. Runs last in the module: the final case
    deletes a doc."""
    import cuvs_lucene_spark.operators.bm25 as B
    from cuvs_lucene_spark.operators.deletes import delete_docs

    calls = _bm25_calls(spark, cat)
    cat._hotpost_memo = None
    with monkeypatch.context() as mp:
        mp.setattr(B, "_hot_postings_broadcast", lambda *a, **k: ((), frozenset()))
        counts = _warm_job_counts(spark, calls, "bm25")
    counts.update(_warm_job_counts(spark, {
        "batch_cached": calls["batch"],
        "topk_cached": calls["topk"],
    }, "bm25"))
    with monkeypatch.context() as mp:
        mp.setattr(B, "FILTER_BROADCAST_MAX", 0)
        counts.update(_warm_job_counts(spark, {"df_filter_over_cap": calls["set_filter"]}, "bm25"))
    cat._hotpost_memo = None
    delete_docs(spark, cat, spark.range(1).select(F.col("id").alias("ext_id")))
    counts.update(_warm_job_counts(spark, {"after_delete": calls["topk"]}, "bm25"))
    assert {m: n for m, n in counts.items() if n > BM25_JOB_PINS[m]} == {}, counts
