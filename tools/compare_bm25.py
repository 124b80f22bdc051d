"""Dump the (ext_id, score) lists of every public BM25 scoring function,
phrase (plain and multi-phrase) and fuzzy queries included, the fuzzy
expansions' term lists, and the sorted ext_id lists of every match-only
query (``term_docs``, the ``boolean_*`` family and ``boolean_query``
with overlapping clause lists, msm 0 / 2 / above the ``any_of`` count
and absent terms, ``hit_count``'s count, the five multiterm ``*_docs``),
over one small index with a positions sidecar, so two checkouts can be
compared result for result.

Scenarios: no filter, a small set filter, a DataFrame filter over the
broadcast cap (``FILTER_BROADCAST_MAX`` patched to 0), the cogroup tier
(``NORMS_BROADCAST_MAX_DOCS`` patched to 0), each run once (``cold``)
and again (``warm``); then after a delete and after a merge (the
sidecar refreshed), the latter again repeated (``merged_warm``), and
last after a ``delete_by_term`` (``by_term``, with the count it returned).
The match-only queries run in every unfiltered scenario. Scores are
written as ``float.hex`` so the comparison is bit for bit.

The index goes through a build, the positions build, one epoch
(``incremental_add`` of 40 re-keyed docs, with its positions append), a
delete and a merge. ``--flush driver`` (the default) runs the write path
as a small index runs it, in the driver; ``--flush spark`` sets
``segments.DRIVER_FLUSH_MAX_DOCS`` to 0, so every write runs the Spark
flush (a checkout without the driver flush runs its Spark flush either
way).

The tier axis: ``--tier resident`` (the default budget, so every scenario
the resident tier serves runs in the driver) or ``--tier spark`` (the
resident text budget, ``resident.TEXT_RESIDENT_MAX_BYTES``, set to 0, so every scenario runs on the Spark tier). A
checkout without the resident tier dumps its Spark tier either way; diff
each tier's dump against it and the two tiers against each other.

Usage (from the repo root of each checkout):
    python tools/compare_bm25.py dump OUT.json SF_DIR [--tier resident|spark]
                                  [--flush driver|spark]
    python tools/compare_bm25.py diff A.json B.json [--skip SUBSTR ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH = {
    "p_or": {"terms": ["join", "vector"], "mode": "or", "k": 10},
    "p_and": {"terms": ["dup", "slow"], "mode": "and", "k": 7},
    "p_miss": {"terms": ["zzz_not_in_corpus"], "mode": "or", "k": 5},
    "b_ms": {"must": ["join"], "should": ["vector", "spark"], "k": 10},
    "b_msm": {"should": ["spark", "customer", "dup"], "min_should_match": 2, "k": 10},
    "b_ex": {"must": ["join", "vector"], "exclude": ["slow"], "k": 10},
}


def _text_calls(spark, cat, cfg):
    """Phrase (plain and multi-phrase) and fuzzy queries: their
    (ext_id, score) lists, and the fuzzy expansions as term lists."""
    from cuvs_lucene_spark.operators import multiterm as M
    from cuvs_lucene_spark.operators.positions import phrase_topk

    return {
        "phrase": lambda: phrase_topk(spark, cat, ["order", "fast"], k=10, cfg=cfg),
        "phrase_trigram": lambda: phrase_topk(spark, cat, ["big", "order", "scan"], k=10, cfg=cfg),
        "phrase_repeat": lambda: phrase_topk(spark, cat, ["order", "order"], k=10, cfg=cfg),
        "multi_phrase": lambda: phrase_topk(spark, cat, [["data", "group"], "slow"], k=10, cfg=cfg),
        "fuzzy_topk": lambda: M.fuzzy_topk(spark, cat, "ordre", k=10, max_edits=1, cfg=cfg),
        "fuzzy_topk_e2": lambda: M.fuzzy_topk(spark, cat, "sprak", k=10, max_edits=2,
                                              prefix_length=1, cfg=cfg),
        "fuzzy_expand_e1": lambda: M.fuzzy_expand(spark, cat, "ordre", max_edits=1),
        "fuzzy_expand_e1_plain": lambda: M.fuzzy_expand(spark, cat, "ordre", max_edits=1,
                                                        transpositions=False),
        "fuzzy_expand_e2": lambda: M.fuzzy_expand(spark, cat, "sprak", max_edits=2),
        "fuzzy_expand_e2_prefix": lambda: M.fuzzy_expand(spark, cat, "sprak", max_edits=2,
                                                         prefix_length=2),
    }


def _calls(spark, cat, cfg, filt):
    from cuvs_lucene_spark.operators import bm25 as B

    f = {"filter_ext_ids": filt}
    return {
        "topk_or": lambda: B.bm25_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg, **f),
        "topk_or3": lambda: B.bm25_topk(spark, cat, ["spark", "customer", "dup"], k=10, cfg=cfg, **f),
        "topk_and": lambda: B.bm25_topk(spark, cat, ["dup", "slow"], k=10, mode="and", cfg=cfg, **f),
        "topk_boost": lambda: B.bm25_topk(
            spark, cat, ["join", "vector"], k=10, cfg=cfg, boosts={"vector": 2.5}, **f
        ),
        "topk_visited_big": lambda: B.bm25_topk(
            spark, cat, ["join", "vector"], k=10, cfg=cfg, visited_limit=10**9, **f
        ),
        "topk_k1": lambda: B.bm25_topk(spark, cat, ["join"], k=1, cfg=cfg, **f),
        "matches": lambda: B.bm25_scored_matches(spark, cat, ["dup", "vector"], cfg=cfg, **f),
        "matches_and": lambda: B.bm25_scored_matches(
            spark, cat, ["join", "vector"], mode="and", cfg=cfg, **f
        ),
        "dismax_0": lambda: B.dismax_topk(spark, cat, ["join", "vector"], 0.0, k=10, cfg=cfg, **f),
        "dismax_03": lambda: B.dismax_topk(
            spark, cat, ["spark", "customer", "dup"], 0.3, k=10, cfg=cfg, **f
        ),
        "dismax_1": lambda: B.dismax_topk(spark, cat, ["join", "vector"], 1.0, k=10, cfg=cfg, **f),
        "synonym": lambda: B.synonym_topk(spark, cat, ["join", "vector"], k=10, cfg=cfg, **f),
        "bool_ms": lambda: B.bm25_boolean_topk(
            spark, cat, must=["join"], should=["vector", "spark"], k=10, cfg=cfg, **f
        ),
        "bool_full": lambda: B.bm25_boolean_topk(
            spark, cat, must=["join"], should=["vector", "spark", "dup"], exclude=["slow"],
            min_should_match=1, k=10, cfg=cfg, **f
        ),
        "bool_msm2": lambda: B.bm25_boolean_topk(
            spark, cat, should=["spark", "customer", "dup"], min_should_match=2, k=10,
            cfg=cfg, **f
        ),
    }


def _match_calls(spark, cat, cfg):
    """Match-only queries: their sorted ext_id lists (``hit_count``: its
    one count). The ``boolean_query`` lists may overlap, and an msm above
    the ``any_of`` count matches nothing."""
    from cuvs_lucene_spark.operators import bm25 as B
    from cuvs_lucene_spark.operators import multiterm as M

    def bq(**kw):
        return lambda: B.boolean_query(spark, cat, cfg=cfg, **kw)

    three = ["spark", "customer", "dup"]
    return {
        "term_docs": lambda: B.term_docs(spark, cat, "dup", cfg),
        "term_docs_absent": lambda: B.term_docs(spark, cat, "zzz_not_in_corpus", cfg),
        "boolean_and": lambda: B.boolean_and(spark, cat, ["dup", "slow"], cfg),
        "boolean_or": lambda: B.boolean_or(spark, cat, ["join", "vector"], cfg),
        "boolean_and_not": lambda: B.boolean_and_not(spark, cat, ["dup"], ["slow"], cfg),
        "bq_mixed": bq(must=["dup"], any_of=["join", "vector"], exclude=["slow"],
                       min_should_match=1),
        "bq_default_msm": bq(must=["dup"], any_of=["join", "vector"], exclude=["slow"]),
        "bq_msm0": bq(any_of=three, min_should_match=0),
        "bq_msm2": bq(any_of=three, min_should_match=2),
        "bq_must_msm2": bq(must=["join"], any_of=three, min_should_match=2),
        "bq_msm_over": bq(any_of=["spark", "customer"], min_should_match=3),
        "bq_overlap_must_any": bq(must=["dup"], any_of=["dup", "slow"], min_should_match=2),
        "bq_overlap_any_exclude": bq(any_of=["join", "vector"], exclude=["vector"]),
        "bq_overlap_must_exclude": bq(must=["join"], exclude=["join"]),
        "bq_absent_should": bq(must=["join"], any_of=["zzz_not_in_corpus", "vector"],
                               min_should_match=1),
        "bq_absent_must": bq(must=["zzz_not_in_corpus"], any_of=["join"]),
        "bq_absent_exclude": bq(must=["join"], exclude=["zzz_not_in_corpus"]),
        "hit_count": lambda: B.hit_count(spark, cat, must=["dup"], any_of=["join", "vector"],
                                         cfg=cfg),
        "prefix_docs": lambda: M.prefix_docs(spark, cat, "sp", cfg),
        "wildcard_docs": lambda: M.wildcard_docs(spark, cat, "s?a*", cfg),
        "fuzzy_docs": lambda: M.fuzzy_docs(spark, cat, "ordre", max_edits=1, cfg=cfg),
        "range_docs": lambda: M.range_docs(spark, cat, "d", "f", cfg=cfg),
        "regexp_docs": lambda: M.regexp_docs(spark, cat, "sl.*", cfg),
    }


def _ids(df):
    return sorted(list(r) for r in df.collect())


def _rows(df, batch=False):
    if batch:
        return sorted(
            [r["query_id"], r["rank"], r["ext_id"], float(r["score"]).hex()]
            for r in df.collect()
        )
    rows = [(r["ext_id"], float(r["score"])) for r in df.collect()]
    return [[e, s.hex()] for e, s in sorted(rows, key=lambda x: (-x[1], x[0]))]


def dump(out_path: str, sf_dir: str, tier: str = "resident", flush: str = "driver") -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators import bm25 as B
    from cuvs_lucene_spark.operators.deletes import delete_by_term, delete_docs
    from cuvs_lucene_spark.operators.merge import merge_segments
    from cuvs_lucene_spark.operators.positions import build_positions, refresh_positions
    from cuvs_lucene_spark.operators import segments
    from cuvs_lucene_spark.operators.segments import build_index
    from cuvs_lucene_spark.streaming.ingest import incremental_add

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("compare_bm25")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if tier == "spark":
        from cuvs_lucene_spark.operators import resident

        resident.TEXT_RESIDENT_MAX_BYTES = 0
    elif tier != "resident":
        raise ValueError(f"unknown tier {tier!r}; expected resident or spark")
    if flush == "spark":
        segments.DRIVER_FLUSH_MAX_DOCS = 0
    elif flush != "driver":
        raise ValueError(f"unknown flush {flush!r}; expected driver or spark")
    cfg = IndexConfig(rows_per_segment=64, block_size=16, prune_range=64, term_buckets=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="compare_bm25_")
    cat = build_index(spark, docs, os.path.join(root, "idx"), cfg,
                      content_col="text", id_col="doc_id")
    build_positions(spark, cat, docs, cfg)
    small = docs.filter(F.col("doc_id") % 3 != 0).select(F.col("doc_id").alias("ext_id"))
    caps = {"FILTER_BROADCAST_MAX": B.FILTER_BROADCAST_MAX,
            "NORMS_BROADCAST_MAX_DOCS": B.NORMS_BROADCAST_MAX_DOCS}
    scenarios = {
        "nofilter": (None, {}),
        "setfilter": (small, {}),
        "overcap": (small, {"FILTER_BROADCAST_MAX": 0}),
        "cogroup": (None, {"NORMS_BROADCAST_MAX_DOCS": 0}),
    }
    out: dict = {}

    def run(stage: str, names) -> None:
        for name in names:
            filt, patch = scenarios[name]
            for attr, v in caps.items():
                setattr(B, attr, patch.get(attr, v))
            try:
                for call, fn in _calls(spark, cat, cfg, filt).items():
                    out[f"{stage}/{name}/{call}"] = _rows(fn())
                if filt is None:
                    for call, fn in _text_calls(spark, cat, cfg).items():
                        got = fn()
                        out[f"{stage}/{name}/{call}"] = got if isinstance(got, list) else _rows(got)
                    for call, fn in _match_calls(spark, cat, cfg).items():
                        out[f"{stage}/{name}/{call}"] = _ids(fn())
                    out[f"{stage}/{name}/batch"] = _rows(
                        B.bm25_topk_batch(spark, cat, BATCH, cfg), batch=True
                    )
            finally:
                for attr, v in caps.items():
                    setattr(B, attr, v)

    run("cold", ["nofilter", "setfilter", "overcap", "cogroup"])
    run("warm", ["nofilter", "setfilter", "overcap"])
    epoch = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text")
    incremental_add(spark, cat, epoch, cfg, epoch=0, content_col="text", id_col="doc_id")
    delete_docs(spark, cat, docs.filter(F.col("doc_id") % 7 == 0)
                .select(F.col("doc_id").alias("ext_id")))
    run("deleted", ["nofilter", "setfilter", "overcap"])
    merge_segments(spark, cat, cfg, groups=[[0, 1, 2], [3, 4]])
    refresh_positions(spark, cat, docs, cfg)
    run("merged", ["nofilter", "setfilter"])
    run("merged_warm", ["nofilter"])
    out["by_term/live_docs"] = [delete_by_term(spark, cat, "slow", cfg)]
    run("by_term", ["nofilter"])
    with open(out_path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    n_rows = sum(len(v) for v in out.values())
    print(f"wrote {out_path}: {len(out)} lists, {n_rows} rows ({tier} tier, {flush} flush)")
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


def diff(a_path: str, b_path: str, skip: list[str]) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    keys = sorted(set(a) | set(b))
    bad = [k for k in keys if not any(s in k for s in skip) and a.get(k) != b.get(k)]
    for k in bad:
        print(f"DIFF {k}\n  a={a.get(k)}\n  b={b.get(k)}")
    n = sum(1 for k in keys if not any(s in k for s in skip))
    print(f"{n - len(bad)}/{n} lists identical")
    return 1 if bad else 0


def main() -> int:
    if sys.argv[1] == "dump":
        opt = {o: sys.argv[sys.argv.index(f"--{o}") + 1]
               for o in ("tier", "flush") if f"--{o}" in sys.argv}
        dump(sys.argv[2], sys.argv[3], **opt)
        return 0
    skip = sys.argv[sys.argv.index("--skip") + 1:] if "--skip" in sys.argv else []
    return diff(sys.argv[2], sys.argv[3], skip)


if __name__ == "__main__":
    sys.exit(main())
