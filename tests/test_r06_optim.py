"""Round-6 optimization pins: the rewritten kernels and cache gates must
be bit-equivalent to their reference semantics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import cuvs_lucene_spark.operators.dedup as dd
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_minhash_kernel_matches_catalyst_reference(spark):
    """The hashlib/mapInPandas minhash kernel must equal the Catalyst
    spelling (min over exploded shingles of md5(p|'|'|shingle)) —
    including the NULL-text (concat_ws skips null) and empty-text
    (single empty shingle) edges."""
    nd = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [None, "", "a b c d e", "one two"],
            }
        )
    )
    got = {
        (r["id"], r["p"]): r["mh"]
        for r in dd.minhash_signatures(nd, n_perm=3, shingle_n=3).collect()
    }
    ref = (
        nd.select(
            F.col("doc_id").alias("id"),
            F.explode(dd._shingles("text", 3)).alias("s"),
        )
        .groupBy("id")
        .agg(
            *[
                F.min(F.md5(F.concat_ws("|", F.lit(p), F.col("s")))).alias(f"m{p}")
                for p in range(3)
            ]
        )
        .collect()
    )
    want = {(r["id"], p): r[f"m{p}"] for r in ref for p in range(3)}
    assert got == want and len(got) == 12


def test_simhash_kernel_matches_tf_weighted_reference(spark, docs):
    """The numpy simhash kernel must equal the original tf-weighted
    explode/groupBy aggregation bit for bit."""
    sample = docs.limit(300)
    got = {r["id"]: r["simhash"] for r in dd.simhash(sample).collect()}
    tf = (
        sample.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9_]+"), F.lit(0))
            ).alias("t"),
        )
        .groupBy("id", "t")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long"))
    )
    bit = tf.select(
        "id", "tf", "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).withColumn(
        "w",
        F.when(
            F.expr("shiftright(h, b)").bitwiseAND(F.lit(1)) == 1, F.col("tf")
        ).otherwise(-F.col("tf")),
    )
    want = {
        r["id"]: r["simhash"]
        for r in bit.groupBy("id", "b")
        .agg(F.sum("w").alias("s"))
        .withColumn(
            "bitval",
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("simhash"))
        .collect()
    }
    assert got == want and got


def test_components_shuffle_tier_equals_broadcast_tier(spark, monkeypatch):
    """duplicate_components' two transport tiers (broadcast labels vs
    pinned-partitioning SMJ) must produce identical components."""
    pairs = spark.createDataFrame(
        [(1, 9), (9, 4), (4, 7), (20, 21), (21, 22), (40, 41), (2, 9)],
        "id_a long, id_b long",
    )
    ids = spark.range(45).selectExpr("id AS doc_id")
    want = sorted(
        (r["id"], r["component"], r["keep"])
        for r in dd.duplicate_components(pairs, all_ids=ids).collect()
    )
    monkeypatch.setattr(dd, "COMPONENTS_BCAST_MAX_NODES", 0)  # force shuffle tier
    got = sorted(
        (r["id"], r["component"], r["keep"])
        for r in dd.duplicate_components(pairs, all_ids=ids).collect()
    )
    assert got == want and len(got) == 45


def test_stats_version_ignores_sidecar_commits(spark, docs, tmp_path):
    """A positions-sidecar commit must NOT invalidate the corpus-stats /
    term-df caches (it cannot change any statistic); a tombstones commit
    MUST."""
    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.operators.deletes import delete_docs
    from cuvs_lucene_spark.operators.positions import build_positions
    from cuvs_lucene_spark.operators.segments import build_index, corpus_stats
    from cuvs_lucene_spark.sources.catalog import stats_version

    cfg = IndexConfig(rows_per_segment=200, block_size=32, term_buckets=8)
    sample = docs.limit(400)
    cat = build_index(
        spark, sample, str(tmp_path / "svidx"), cfg,
        content_col="text", id_col="doc_id",
    )
    v0 = stats_version(cat.read_manifest())
    n0, avgdl0 = corpus_stats(cat)
    build_positions(spark, cat, sample, cfg)
    assert stats_version(cat.read_manifest()) == v0  # sidecar-invisible
    assert corpus_stats(cat) == (n0, avgdl0)
    delete_docs(spark, cat, sample.limit(5).selectExpr("doc_id AS ext_id"))
    assert stats_version(cat.read_manifest()) > v0  # stats-bearing commit
