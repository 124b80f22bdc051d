"""spark-submit entry point: the full training-data preparation pipeline
(north rule: "runs via spark-submit --py-files on a multi-executor
cluster").

    zip -r /tmp/engine.zip cuvs_lucene_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/prepare_training_data.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/train_corpus \
        --eval-pred "doc_id % 17 = 0" \
        --mix en=0.9 fr=0.5 zh=0.25 --default-rate 0.1

Stages (each a committed decision column — the run is auditable row by
row, and every stage is one of the engine's oracle-checked operators):

1. exact dedup        — md5 canonical-content groups, min-id survivor
2. near-dup dedup     — 3-shingle Jaccard pairs → connected components
3. quality gate       — frozen quality score ≥ --min-quality
4. repetition gate    — Gopher top-2-gram rule (not repetitive)
5. decontamination    — no 5-gram overlap with the --eval-pred slice
6. training mix       — deterministic stratified keep rates by lang

The output parquet is the KEPT corpus plus the full decision table
(`<output>_decisions`); a one-line JSON funnel (docs surviving each
stage) goes to stdout. Two tiers write the same rows:

- **Driver**: a local parquet ``--input`` (a path on the driver's file
  system) whose footers hold at most ``segments.DRIVER_FLUSH_MAX_DOCS``
  rows, with ``long`` ids none null or repeated and no null text, and a
  local ``--output``. ``pyarrow.parquet`` reads it; each stage runs its
  driver tier on that table; ``--eval-pred`` is evaluated over the
  table's ``LocalRelation``, the one JVM call, which runs no Spark job;
  the decision columns are aligned by id in Arrow, the funnel counted in
  numpy, and both outputs written by pyarrow with a ``_SUCCESS`` marker.
  A pass runs no Spark job.
- **Spark**: any other input. Every stage is a DataFrame-composed plan —
  one action writes the corpus, one writes decisions, one collects the
  funnel counts (map-side aggregates) over the cached decision table,
  which is released before the job returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GATES = ["exact_keep", "near_keep", "quality_keep", "rep_keep", "decontam_keep", "mix_keep"]


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--content-col", default="text")
    p.add_argument("--lang-col", default="lang")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--jaccard-threshold", type=float, default=0.12)
    p.add_argument("--eval-pred", default=None,
                   help="SQL predicate marking the held-out eval slice")
    p.add_argument("--contam-ngram", type=int, default=5)
    p.add_argument("--mix", nargs="*", default=[],
                   help="stratum=rate pairs, e.g. en=0.9 fr=0.5")
    p.add_argument("--default-rate", type=float, default=1.0)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("prepare_training_data").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    rates = {}
    for spec in args.mix:
        k, _, v = spec.partition("=")
        rates[k] = float(v)
    from cuvs_lucene_spark.frames import small_keyed
    from cuvs_lucene_spark.operators.segments import DRIVER_FLUSH_MAX_DOCS

    docs = _small_input(spark, args)
    if docs is not None and small_keyed(docs, args.id_col, [args.content_col],
                                        DRIVER_FLUSH_MAX_DOCS) is not None:
        funnel = _driver_pass(spark, docs, args, rates)
    else:
        # rows already read (null or repeated ids, null text) feed the
        # Spark pass as they are: each stage then declines its driver
        # tier with no JVM call, where a parquet scan costs a head read
        funnel = _spark_pass(docs if docs is not None else spark.read.parquet(args.input),
                             args, rates)
    print(json.dumps({"funnel": funnel, "output": args.output}))


def _local(path: str) -> str | None:
    """``path`` on the driver's file system (no scheme, or ``file:``), else None."""
    u = urlparse(path)
    return path if u.scheme == "" else unquote(u.path) if u.scheme == "file" else None


def _small_input(spark, args):
    """The ``--input`` rows as a ``LocalResult``, read by pyarrow, when the
    input and output are local and the input's footers hold at most the
    driver tier's bound of rows; None otherwise, without reading more
    than footers."""
    from cuvs_lucene_spark.frames import arrow_frame
    from cuvs_lucene_spark.operators.segments import DRIVER_FLUSH_MAX_DOCS

    src = _local(args.input)
    if src is None or _local(args.output) is None or not os.path.exists(src):
        return None
    files = [src]
    if os.path.isdir(src):
        files = [os.path.join(src, n) for n in sorted(os.listdir(src))
                 if not n.startswith(("_", "."))]
        if not files or any(os.path.isdir(f) for f in files):
            return None  # empty, or partitioned: Spark's discovery reads it
    rows = 0
    for f in files:
        rows += pq.read_metadata(f).num_rows
        if rows > DRIVER_FLUSH_MAX_DOCS:
            return None
    parts = [pq.ParquetFile(f).read() for f in files]
    if any(t.schema != parts[0].schema for t in parts) or args.lang_col not in parts[0].schema.names:
        return None
    try:
        return arrow_frame(spark, pa.concat_tables(parts))
    except TypeError:  # a type Spark's Arrow conversion lacks (unsigned ints): its reader maps it
        return None


def _by_id(ids, frame, id_name: str, col: str, missing=None) -> np.ndarray:
    """Column ``col`` of a stage's frame aligned to ``ids`` by its
    ``id_name`` column, ``missing`` for an id it lacks. A stage's driver
    tier hands its table over; a Spark-tier frame is read."""
    from cuvs_lucene_spark.frames import LocalResult

    t = frame.table if isinstance(frame, LocalResult) else frame.toArrow()
    vals = pc.take(t.column(col), pc.index_in(ids, value_set=t.column(id_name).combine_chunks()))
    return (vals if missing is None else pc.fill_null(vals, missing)).to_numpy(zero_copy_only=False)


def _write(table: pa.Table, path: str) -> None:
    """``table`` as one parquet file under ``path`` with a ``_SUCCESS``
    marker, replacing what was there (Spark's overwrite mode)."""
    path = _local(path)
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    os.makedirs(path)
    pq.write_table(table.replace_schema_metadata(None), os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _driver_pass(spark, docs, args, rates: dict) -> dict:
    """The job on the driver's table ``docs``: every stage's driver tier,
    the decision columns aligned by id, no Spark job."""
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.frames import arrow_frame
    from cuvs_lucene_spark.functions.textstats import quality_score, repetition_stats
    from cuvs_lucene_spark.operators import dedup as dd
    from cuvs_lucene_spark.operators.sampling import training_mix

    table, idc, txt = docs.table, args.id_col, args.content_col
    ids = table.column(idc).combine_chunks()
    keep = {"exact_keep": _by_id(ids, dd.dedup_keep_list(docs, id_col=idc, text_col=txt),
                                 "id", "keep")}
    pairs = dd.ngram_jaccard_pairs(docs, id_col=idc, text_col=txt, shingle_n=3,
                                   threshold=args.jaccard_threshold)
    near = dd.duplicate_components(pairs, all_ids=arrow_frame(spark, table.select([idc])))
    keep["near_keep"] = _by_id(ids, near, "id", "keep")
    qual = quality_score(docs, id_col=idc, text_col=txt)
    keep["quality_keep"] = _by_id(ids, qual, "id", "quality") >= args.min_quality
    rep = repetition_stats(docs, n=2, id_col=idc, text_col=txt)
    keep["rep_keep"] = ~_by_id(ids, rep, "id", "repetitive")
    if args.eval_pred:
        # 1 = eval, 0 = train, null = neither (as filter(pred) / filter(NOT pred))
        pred = F.expr(args.eval_pred)
        side = np.array([-1 if r[0] is None else r[0]
                         for r in docs.select(F.when(pred, 1).when(~pred, 0)).collect()])
        contam = dd.ngram_contamination(
            train=arrow_frame(spark, table.filter(side == 0)),
            evals=arrow_frame(spark, table.filter(side == 1)),
            n=args.contam_ngram, id_col=idc, text_col=txt,
        )
        # eval rows themselves never enter the training corpus
        keep["decontam_keep"] = ~_by_id(ids, contam, idc, "contaminated", missing=True)
    else:
        keep["decontam_keep"] = np.ones(len(ids), bool)
    mix = training_mix(docs, rates, default_rate=args.default_rate,
                       id_col=idc, strat_col=args.lang_col)
    keep["mix_keep"] = _by_id(ids, mix, "id", "keep")

    passed = np.logical_and.accumulate(np.stack([keep[g] for g in GATES]), axis=0)
    _write(table.filter(passed[-1]), args.output)
    _write(pa.table({idc: ids, args.lang_col: table.column(args.lang_col), **keep,
                     "selected": passed[-1]}), args.output + "_decisions")
    n = len(ids)
    # a Spark sum over no rows is null
    return {"input": n, **{g: int(c.sum()) if n else None for g, c in zip(GATES, passed)}}


def _spark_pass(docs, args, rates: dict) -> dict:
    """The job as one composed Spark plan per output (module docstring)."""
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.functions.textstats import quality_score, repetition_stats
    from cuvs_lucene_spark.operators import dedup as dd
    from cuvs_lucene_spark.operators.sampling import training_mix

    idc, txt = args.id_col, args.content_col
    # 1. exact dedup
    exact = dd.dedup_keep_list(docs, id_col=idc, text_col=txt).select(
        F.col("id").alias(idc), F.col("keep").alias("exact_keep")
    )
    # 2. near-dup components (Jaccard pairs over 3-shingles)
    pairs = dd.ngram_jaccard_pairs(
        docs, id_col=idc, text_col=txt, shingle_n=3,
        threshold=args.jaccard_threshold,
    )
    near = dd.duplicate_components(
        pairs, all_ids=docs.select(idc)
    ).select(F.col("id").alias(idc), F.col("keep").alias("near_keep"))
    # 3. quality
    qual = quality_score(docs, id_col=idc, text_col=txt).select(
        F.col("id").alias(idc),
        (F.col("quality") >= args.min_quality).alias("quality_keep"),
    )
    # 4. repetition (Gopher rule)
    rep = repetition_stats(docs, n=2, id_col=idc, text_col=txt).select(
        F.col("id").alias(idc), (~F.col("repetitive")).alias("rep_keep")
    )
    table = (
        docs.select(idc, args.lang_col)
        .join(exact, idc)
        .join(near, idc)
        .join(qual, idc)
        .join(rep, idc)
    )
    # 5. decontamination (optional: train side = NOT eval_pred)
    if args.eval_pred:
        contam = dd.ngram_contamination(
            train=docs.filter(f"NOT ({args.eval_pred})"),
            evals=docs.filter(args.eval_pred),
            n=args.contam_ngram,
            id_col=idc,
            text_col=txt,
        ).select(idc, (~F.col("contaminated")).alias("decontam_keep"))
        # eval rows themselves never enter the training corpus
        table = table.join(contam, idc, "left").withColumn(
            "decontam_keep", F.coalesce("decontam_keep", F.lit(False))
        )
    else:
        table = table.withColumn("decontam_keep", F.lit(True))
    # 6. training mix
    mix = training_mix(
        docs, rates, default_rate=args.default_rate,
        id_col=idc, strat_col=args.lang_col,
    ).select(F.col("id").alias(idc), F.col("keep").alias("mix_keep"))
    table = table.join(mix, idc)

    table = table.withColumn("selected", F.expr(" AND ".join(GATES))).cache()
    try:
        kept = docs.join(
            table.filter("selected").select(idc), idc, "left_semi"
        )
        kept.write.mode("overwrite").parquet(args.output)
        table.write.mode("overwrite").parquet(args.output + "_decisions")

        # funnel: docs surviving each successive gate (ONE aggregate pass)
        aggs = [F.count("*").alias("input")]
        for i in range(len(GATES)):
            cond = " AND ".join(GATES[: i + 1])
            aggs.append(
                F.sum(F.when(F.expr(cond), 1).otherwise(0)).alias(GATES[i])
            )
        return table.agg(*aggs).collect()[0].asDict()
    finally:
        table.unpersist()


if __name__ == "__main__":
    main()
