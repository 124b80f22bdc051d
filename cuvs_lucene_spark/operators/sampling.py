"""Deterministic stratified sampling — the training-mix stage of an LLM
data pipeline (per-source/per-language keep rates, e.g. "keep 100% of
books, 30% of common-crawl, upsample code").

The keep decision is a PURE FUNCTION of (id, stratum): a fixed
multiplicative hash maps the id to u ∈ [0, 1) and the row is kept iff
u < rate(stratum). That determinism is the load-bearing property at
100 TB — the decision table is reproducible run-to-run and cluster-size-
to-cluster-size (no RNG state, no ``sample()`` seed coupling to
partitioning), auditable row-by-row, and stable under retries/preemption.

Physical shape: one projection, pure Catalyst codegen — NO shuffle, no
UDF, no driver state. Changing the mix re-runs a map-only job. On at most
``segments.DRIVER_FLUSH_MAX_DOCS`` rows with ``long`` ids none null or
repeated and a string stratum, the driver reads the frame once
(``frames.small_keyed``) and computes the same table in numpy
(:func:`_mix_rows`), returned as a ``frames.LocalResult`` with no job.

The hash here is a small Knuth-style multiplicative map kept inside
exact int64 arithmetic so the DuckDB oracle can reproduce it bit-for-bit
(the correctness contract). A production deployment would swap in
``xxhash64(id, salt)`` with the identical plan shape — only the hash
constant changes, none of the scaling properties.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_lucene_spark.frames import arrow_frame, small_keyed
from cuvs_lucene_spark.operators import segments as S

# u = ((id mod P) * A mod M) / M — P prime below 2^20, every product
# < 2^51, exact in int64 AND in a float64-only SQL engine
_P = 1048573
_A = 31397
_M = 1048576


def mix_hash_expr(id_col: str):
    """The frozen sampling hash → u ∈ [0, 1) as a double. ``pmod`` (not
    ``%``): SQL remainder keeps the dividend's sign, so a negative id
    would yield u < 0 and a rate-0.0 stratum would KEEP that row —
    source ids are not guaranteed non-negative."""
    h = F.pmod(F.col(id_col).cast("long"), F.lit(_P)) * _A % _M
    return h / F.lit(float(_M))


def training_mix(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    strat_col: str = "lang",
) -> DataFrame:
    """Stratified keep-decision table →
    DataFrame(id, stratum, u, keep): row kept iff u < rate(stratum),
    strata absent from ``rates`` (or NULL) fall back to
    ``default_rate``. Downstream a pipeline semi-joins its corpus on the
    kept ids (or inlines the predicate — the expression is pure
    Catalyst)."""
    for k, v in rates.items():
        if not 0.0 <= float(v) <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= float(default_rate) <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    small = small_keyed(docs, id_col, [strat_col], S.DRIVER_FLUSH_MAX_DOCS,
                        nullable=(strat_col,))
    if small is not None:
        return arrow_frame(docs.sparkSession, _mix_rows(*small, rates, default_rate))
    u = mix_hash_expr(id_col)
    rate = F.lit(float(default_rate))
    for k in sorted(rates):
        rate = F.when(F.col(strat_col) == k, F.lit(float(rates[k]))).otherwise(rate)
    return docs.select(
        F.col(id_col).alias("id"),
        F.col(strat_col).cast("string").alias("stratum"),
        # u is emitted UNROUNDED: both engine and oracle compute the same
        # exact double (integer hash / 2^20), so equality is bit-level
        u.alias("u"),
        (u < rate).alias("keep"),
    )


def _mix_rows(ids: np.ndarray, strata: pd.Series, rates: dict[str, float],
              default_rate: float) -> pa.Table:
    """:func:`training_mix`'s driver kernel: :func:`mix_hash_expr` in
    int64 numpy (``%`` by a positive modulus is ``pmod``), the stratum's
    rate, a null or unlisted stratum the default."""
    u = (ids % _P) * _A % _M / float(_M)
    rate = np.full(len(ids), float(default_rate))
    for k in sorted(rates):
        rate[(strata == k).to_numpy(bool)] = float(rates[k])
    return pa.table({"id": ids, "stratum": pa.array(strata, pa.string()), "u": u,
                     "keep": u < rate})
