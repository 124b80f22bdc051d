"""Snippet highlighting — the Lucene highlighter module, index-offset style.

Lucene's ``UnifiedHighlighter`` re-locates query terms inside each hit
(from postings offsets, term vectors, or re-analysis) and returns the
best passage with the matches tagged. Spark-first equivalent over the
SAME two structures the engine already maintains:

- the match position comes from the POSITIONS SIDECAR (the index, not a
  re-scan): per matched doc, the first occurrence of any query term —
  ``OffsetSource.POSTINGS``'s role;
- the passage text comes from the SOURCE table (the stored-fields model,
  operators/bm25.fetch_stored) — one equi-join on the match set.

The passage is a ±``window``-token slice of the ANALYZED token stream
(the frozen tokenizer is the repo-wide text definition), query terms
wrapped in ``pre_tag``/``post_tag``. Offsets into the raw text are not
reconstructed — the analyzer lowercases and strips punctuation, so the
snippet is the normalized passage; the DuckDB oracle defines this
contract exactly.

100 TB shape: the sidecar scan is pruned to the query terms (pushed
``term IN``), per-segment numpy; the text join shuffles only the match
set (AQE broadcast-converts small ones); snippet assembly is an
Arrow-batched pandas pass over matched docs only — highlighting is
inherently per-hit string work, exactly as in Lucene, and the optional
``match`` restriction keeps it bounded to the hits a caller displays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..functions.tokenize import tokenize_py
from .positions import POS_SHIFT, _decode_positions, _phrase_rows


def highlight(
    spark: SparkSession,
    cat,
    docs: DataFrame,
    terms: list[str],
    window: int = 5,
    match: DataFrame | None = None,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    content_col: str = "text",
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
) -> DataFrame:
    """Highlighted snippets → DataFrame(ext_id, first_pos, snippet) for
    every live doc containing ≥1 query term (optionally restricted to
    ``match`` — e.g. a top-k hit set). ``first_pos`` is the 0-based
    token position of the earliest query-term occurrence; the snippet is
    the ±window token passage around it with every query-term token
    wrapped in the tags."""
    uniq = list(dict.fromkeys(t for t in terms if t))
    if not uniq:
        raise ValueError("highlight needs at least one term")
    if window < 0:
        raise ValueError(f"window must be >= 0, got {window}")
    rows = _phrase_rows(spark, cat, uniq)

    def first_hit(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = np.sort(
            np.concatenate([_decode_positions(r.ext_ids, r.counts, r.pos_blob)
                            for r in pdf.itertuples()])
        )
        if keys.size == 0:
            return pd.DataFrame({"ext_id": [], "first_pos": []}).astype(
                {"ext_id": "int64", "first_pos": "int64"}
            )
        doc_ids, first_idx = np.unique(keys // POS_SHIFT, return_index=True)
        return pd.DataFrame(
            {"ext_id": doc_ids, "first_pos": keys[first_idx] % POS_SHIFT}
        )

    hits = rows.groupby("segment_id").applyInPandas(
        lambda p: first_hit(p), "ext_id long, first_pos long"
    )
    if cat.exists("tombstones"):
        hits = hits.join(cat.read(spark, "tombstones"), "ext_id", "left_anti")
    if match is not None:
        mcol = "ext_id" if "ext_id" in match.columns else match.columns[0]
        hits = hits.join(
            match.select(F.col(mcol).cast("long").alias("ext_id")).distinct(),
            "ext_id",
            "left_semi",
        )
    src = docs.select(
        F.col(id_col).cast("long").alias("ext_id"),
        F.col(content_col).alias("_hl_text"),
    )
    joined = hits.join(src, "ext_id")
    w, tset, pre, post = int(window), set(uniq), pre_tag, post_tag

    def snip(batches):
        for pdf in batches:
            toks = tokenize_py(pdf["_hl_text"])
            snippets = []
            for tl, p in zip(toks, pdf["first_pos"].astype(int)):
                a, b = max(0, p - w), min(len(tl), p + w + 1)
                snippets.append(
                    " ".join(
                        f"{pre}{t}{post}" if t in tset else t for t in tl[a:b]
                    )
                )
            yield pd.DataFrame(
                {
                    "ext_id": pdf["ext_id"],
                    "first_pos": pdf["first_pos"],
                    "snippet": snippets,
                }
            )

    return joined.mapInPandas(
        snip, "ext_id long, first_pos long, snippet string"
    )
