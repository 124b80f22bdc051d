"""Result grouping and field collapsing — the Lucene grouping module.

Two shapes, mirroring the module's two collectors (the host-Lucene query
surface next to faceting, SURVEY.md §2.5; the reference adds no grouping
formats of its own, so stock Lucene semantics apply):

- :func:`group_topk` — ``TopGroupsCollector``: the top ``k_groups``
  groups ranked by each group's best hit (the group head), with the top
  ``per_group`` docs inside every returned group. Lucene runs this as a
  two-pass search (FirstPassGroupingCollector selects group heads,
  second pass collects within-group top docs); here both passes are
  windows over ONE exhaustive scored collection.
- :func:`collapse_topk` — ``CollapsingTopDocsCollector`` (field
  collapse): the global top-k AFTER keeping only each group's single
  best doc.

The group dimension lives on the SOURCE table (the stored-fields model,
exactly like operators/facets.py): scoring touches only the index, then
one equi-join rehydrates the group value for the match set.

100 TB shape: the scored match set is ∝ the query terms' postings (never
the corpus — :func:`~.bm25.bm25_scored_matches`) and is collected
EXACTLY ONCE — the whole operator is one linear DAG (position and
head_score come from two window functions over the same group-key
shuffle, group ranking from a dense_rank over the already-truncated
≤ per_group-rows-per-group set), because a branched plan would re-run
the scorer once per consumer. The group join shuffles on the compact
doc id (AQE broadcast-converts small match sets); the final ranking
exchange carries ≤ per_group × #groups compact rows — the same
∝-#distinct-values budget as a facet count. Skewed groups cost one
window partition — the same exposure as any groupBy on the dimension,
and per_group truncation bounds the output. Nothing is collected.

Scores are rounded to 6 dp BEFORE ranking (the repo-wide oracle-parity
contract — a <1-ulp libm difference must never flip a rank), ties break
(score desc, ext_id asc) for docs and (head_score desc, group asc) for
groups — deterministic on both engine and oracle sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..frames import local_frame
from .bm25 import bm25_scored_matches

ROUND = 6


def _grouped_matches(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    query_terms: list[str],
    group_col: str,
    mode: str,
    cfg: IndexConfig | None,
    id_col: str,
) -> DataFrame:
    """Scored match set joined with its group value →
    (ext_id, score, group_value). Docs without the group dimension are
    excluded (Lucene's grouping only considers docs that indexed the
    group field as non-null heads when ``allGroups`` is off)."""
    scored = bm25_scored_matches(spark, cat, query_terms, mode=mode, cfg=cfg)
    dims = docs.filter(F.col(group_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(group_col).cast("string").alias("group_value"),
    )
    return scored.select(
        "ext_id", F.round("score", ROUND).alias("score")
    ).join(dims, "ext_id")


def group_topk(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    query_terms: list[str],
    group_col: str,
    k_groups: int = 5,
    per_group: int = 3,
    mode: str = "or",
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Grouped BM25 search → DataFrame(group_value, group_rank, position,
    ext_id, score): the top ``k_groups`` groups by head score (the
    group's best hit — ``TopGroups.groups`` ordered by groupSortValues
    under Sort.RELEVANCE), each with its top ``per_group`` docs
    (``GroupDocs.scoreDocs``)."""
    if k_groups <= 0 or per_group <= 0:
        raise ValueError(
            f"k_groups and per_group must be positive, got {k_groups}, {per_group}"
        )
    g = _grouped_matches(
        spark, cat, docs, query_terms, group_col, mode, cfg, id_col
    )
    # ONE linear DAG — the exhaustive scored collection executes exactly
    # once (a branched heads-aggregate would re-run the whole scorer for
    # its second consumer; plan-pinned in tests/test_plans.py). Both
    # window functions share the group-key partitioning (one shuffle);
    # after the per-group truncation the global dense_rank sees at most
    # per_group rows per group of compact columns — the same ∝-#groups
    # exchange budget as a facet count. dense_rank over (head_score,
    # group_value) gives every row of a group the same rank and
    # consecutive ranks across groups, i.e. exactly the head ordering.
    wg = Window.partitionBy("group_value")
    pos = g.select(
        "group_value",
        "ext_id",
        "score",
        F.row_number().over(
            wg.orderBy(F.desc("score"), F.asc("ext_id"))
        ).alias("position"),
        F.max("score").over(wg).alias("head_score"),
    ).filter(F.col("position") <= per_group)
    ranked = pos.withColumn(
        "group_rank",
        F.dense_rank().over(
            Window.orderBy(F.desc("head_score"), F.asc("group_value"))
        ),
    )
    return ranked.filter(F.col("group_rank") <= k_groups).select(
        "group_value",
        "group_rank",
        "position",
        "ext_id",
        "score",
    )


def collapse_topk(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    query_terms: list[str],
    group_col: str,
    k: int = 10,
    mode: str = "or",
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Field collapse → DataFrame(ext_id, group_value, score): the global
    top-k over GROUP HEADS only — each group contributes its single best
    doc (``CollapsingTopDocsCollector.createKeywordCollector``), then
    heads rank (score desc, ext_id asc)."""
    if k <= 0:
        return local_frame(spark, "ext_id long, group_value string, score double")
    g = _grouped_matches(
        spark, cat, docs, query_terms, group_col, mode, cfg, id_col
    )
    heads = g.withColumn(
        "position",
        F.row_number().over(
            Window.partitionBy("group_value").orderBy(
                F.desc("score"), F.asc("ext_id")
            )
        ),
    ).filter(F.col("position") == 1)
    return (
        heads.orderBy(F.desc("score"), F.asc("ext_id"))
        .limit(k)
        .select("ext_id", "group_value", "score")
    )
