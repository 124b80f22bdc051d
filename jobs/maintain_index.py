"""spark-submit maintenance entry — the background-compaction run a
long-lived index needs (the host Lucene side of the reference runs under
TieredMergePolicy + IndexWriter deletes; this is that loop as a cluster
job):

    zip -r /tmp/engine.zip cuvs_lucene_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/maintain_index.py --index /tmp/idx \
        [--delete-term dup] [--force-merge] [--ann] [--delete-ids 3 12] \
        [--docs /data/docs.parquet]   # refresh positions after merges

Steps (each optional / idempotent):
  1. apply deletes (--delete-term for the text index, --delete-ids for the
     ANN sidecar — the sidecar's envelope policy may auto-merge);
  2. tiered merge: pick_merge_groups + merge_segments (smallest segments
     first, fan-in from config; --force-merge collapses to one segment);
  3. ANN group-wise merge of undersized segments when --ann is given;
  4. compaction happens automatically through the dropped-fraction
     triggers inside the merge paths.
Prints one JSON line with before/after segment counts and timings."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--delete-term", default=None)
    p.add_argument("--delete-ids", nargs="*", type=int, default=None)
    p.add_argument("--force-merge", action="store_true")
    p.add_argument("--ann", action="store_true",
                   help="also maintain the ANN sidecar tables in --index")
    p.add_argument("--rows-per-segment", type=int, default=None)
    p.add_argument("--docs", default=None,
                   help="source docs parquet — enables positions-sidecar "
                        "refresh after merges")
    p.add_argument("--content-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from cuvs_lucene_spark.config import IndexConfig
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    spark = SparkSession.builder.appName("cuvs_lucene_spark_maintain").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = IndexConfig()
    cat = IndexCatalog(args.index)
    out: dict = {"index": args.index}
    t_all = time.time()

    if cat.exists("segment_stats"):
        out["segments_before"] = cat.read(spark, "segment_stats").count()
        if args.delete_term:
            from cuvs_lucene_spark.operators.deletes import delete_by_term

            t0 = time.time()
            delete_by_term(spark, cat, args.delete_term, cfg)
            out["delete_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        if args.force_merge:
            from cuvs_lucene_spark.operators.merge import force_merge

            force_merge(spark, cat, cfg)
        else:
            from cuvs_lucene_spark.operators.merge import (
                merge_segments,
                pick_merge_groups,
            )

            groups = pick_merge_groups(
                spark, cat, cfg, max_segment_docs=args.rows_per_segment
            )
            out["merge_groups"] = len(groups)
            if groups:
                merge_segments(spark, cat, cfg, groups=groups)
        out["merge_sec"] = round(time.time() - t0, 3)
        out["segments_after"] = cat.read(spark, "segment_stats").count()
        # positions sidecar repair: merges re-segment docs, leaving the
        # phrase index stale; with the source table at hand (--docs) the
        # group-wise refresh rebuilds ONLY the new segments
        if args.docs and cat.exists("positions"):
            from cuvs_lucene_spark.operators.positions import refresh_positions

            t0 = time.time()
            out["positions_refreshed"] = refresh_positions(
                spark, cat, spark.read.parquet(args.docs), cfg,
                content_col=args.content_col, id_col=args.id_col,
            )
            out["positions_refresh_sec"] = round(time.time() - t0, 3)

    if args.ann and cat.exists("ann_flat"):
        from pyspark.sql import functions as F

        from cuvs_lucene_spark.operators.ann import delete_ann, merge_ann

        out["ann_segments_before"] = (
            cat.read(spark, "ann_flat").select("segment_id").count()
        )
        if args.delete_ids:
            t0 = time.time()
            out["ann_tombstones"] = delete_ann(spark, cat, args.delete_ids, cfg)
            out["ann_delete_sec"] = round(time.time() - t0, 3)
        # tiered ANN maintenance: size-comparable undersized groups under
        # the same TieredMergePolicy invariants as the text side
        from cuvs_lucene_spark.operators.merge import tier_groups

        rps = args.rows_per_segment or cat.read_manifest()["config"]["rows_per_segment"]
        sizes = [
            (int(r["n_vecs"]), int(r["segment_id"]))
            for r in cat.read(spark, "ann_flat")
            .select("segment_id", "n_vecs").collect()
        ]
        # ANN delete pressure: tombstones below delete_ann's own auto-merge
        # envelope still create maintenance-time merge pressure (live
        # sizes + deletesPctAllowed), same as the text side
        dfrac: dict[int, float] = {}
        if cat.exists("ann_tombstones") and cat.table_lineage(
            "ann_tombstones"
        ).get("n"):
            n_of = {s: n for n, s in sizes}
            dead = (
                cat.read(spark, "ann_ids")
                .join(cat.read(spark, "ann_tombstones"), "ext_id", "left_semi")
                .groupBy("segment_id")
                .agg(F.count("*").alias("nd"))
                .collect()
            )
            for r in dead:
                s = int(r["segment_id"])
                dfrac[s] = float(r["nd"]) / max(1, n_of.get(s, 1))
            sizes = [
                (max(0, n - int(round(dfrac.get(s, 0.0) * n))), s)
                for n, s in sizes
            ]
        groups = tier_groups(sizes, cfg.merge_fanin, rps, deleted_frac=dfrac)
        out["ann_merge_groups"] = len(groups)
        if groups:
            t0 = time.time()
            merge_ann(spark, cat, cfg, groups=groups, rows_per_segment=rps)
            out["ann_merge_sec"] = round(time.time() - t0, 3)
        out["ann_segments_after"] = (
            cat.read(spark, "ann_flat").select("segment_id").count()
        )

    out["total_sec"] = round(time.time() - t_all, 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
