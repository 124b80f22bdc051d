"""Deduplication operators for large-scale training-data pipelines.

Fingerprinting (minhash/simhash) runs as NARROW Arrow-batched kernels —
hashlib/numpy over whole batches, zero shuffles, zero row explosion
(optimization guide §4.2; the equivalent Catalyst higher-order spellings
fall back to the interpreted expression evaluator). Candidate
generation and verification are codegen'd equi-joins on compact keys —
never crossJoin:

- exact        — hash-groupBy on a canonical content fingerprint
- minhash LSH  — shingle → P md5-minhashes per row → band signatures →
                 bucket groupBy + sorted-id pair expansion (candidates
                 only collide within a band bucket; md5 signatures are
                 uniformly distributed, so no skew salting is needed)
- ngram-Jaccard— exact verification via shingle-equi-join (intersection
                 counted per pair; |A∪B| = |A|+|B|−|A∩B|), no pair
                 enumeration outside shared-shingle pairs
- simhash      — 32-bit sign-aggregated token hashes (hex-parse parity
                 with the DuckDB oracle is tested); near-dup pairs via
                 band equi-join with the hamming verify INSIDE the join
                 stage (only true pairs reach an exchange)
- embedding    — cosine-threshold near-dup pairs; exact at test scale,
                 same verification composes with LSH/IVF buckets at scale
- components   — near-dup pairs → keep decisions: one narrow pass builds
                 each partition's spanning forest with a numpy min-label
                 union-find, and the driver unions the collected forests
                 with the same kernel; a forest over
                 ``COMPONENTS_BCAST_MAX_NODES`` rows falls back to Spark
                 rounds of min-label propagation over its edges

Determinism: every hash is md5 of an explicit string — bit-stable across
Spark (JVM md5), hashlib, DuckDB, and re-runs (resumability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuvs_lucene_spark.functions.tokenize import tokenize_expr

# row cap on the spanning forest duplicate_components collects to the
# driver for its in-memory union-find: 2M (root, node) rows ≈ 32 MB of
# int64 arrays; a longer forest takes the shuffle tier (Spark rounds)
COMPONENTS_BCAST_MAX_NODES = 2_000_000


def _canon_text(text_col: str):
    """Canonical form = tokens joined by single spaces (case/punct-invariant)."""
    return F.array_join(tokenize_expr(text_col), " ")


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least ``defaultParallelism`` input partitions before a
    heavy narrow projection (md5 minhash folds, simhash bit sums): a
    single small parquet file would otherwise serialize the whole
    per-row compute through ONE task (guide §2.6 idle capacity — the
    same guard :func:`segments.build_index` applies before its flush).
    No-op when the input is already well-partitioned, so at real scale
    (many files) nothing is shuffled."""
    spark = df.sparkSession
    try:
        n = len(df.inputFiles())
    except Exception:
        n = 0
    if n == 0:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
    p = spark.sparkContext.defaultParallelism
    if 0 < n < p:
        return df.repartition(p)
    return df


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups → (fingerprint, n_dups, keep_id, dup_ids).
    keep_id = min id (deterministic representative)."""
    return (
        docs.select(F.col(id_col).alias("id"), F.md5(_canon_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("int").alias("n_dups"),
            F.min("id").alias("keep_id"),
            F.sort_array(F.collect_list("id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_keep_list(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The pipeline DECISION exact dedup feeds downstream: every doc id
    with a keep flag — the minimum id of each exact-content group
    survives, all other members drop. (id, keep, group_size). One
    hash-partitioned window over the content fingerprint; fingerprints
    are uniformly distributed, so no skew handling is needed."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.md5(_canon_text(text_col)).alias("fingerprint"),
        )
        .withColumn("keep", F.col("id") == F.min("id").over(w))
        .withColumn("group_size", F.count("*").over(w).cast("int"))
        .select("id", "keep", "group_size")
    )


def _shingles(text_col: str, n: int = 3):
    """Distinct n-token shingles as a JVM expression (no UDF).

    The token array is BOUND ONCE via a single-element ``transform``
    wrapper (``tk``), and each shingle is assembled from ``n`` O(1)
    ``element_at`` lookups. The previous spelling embedded the
    ``regexp_extract_all`` call and a ``slice`` copy inside the
    per-position lambda — Catalyst skips subexpression elimination in
    lambda trees, so the tokenizer regexp re-ran for EVERY position
    (O(tokens) regex evaluations per document) and each slice allocated
    a fresh sub-array: O(tokens²) work per doc where O(tokens) suffices.
    Values are unchanged."""
    toks = tokenize_expr(text_col)
    pat = f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)"
    parts = ", ".join(f"element_at(tk, i + {j})" for j in range(n))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.expr(
                f"flatten(transform(array({pat}), tk -> "
                f"transform(sequence(1, size(tk) - {n - 1}), "
                f"i -> concat_ws(' ', {parts}))))"
            ),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("id"), F.explode(_shingles(text_col, n)).alias("shingle")
    )


def _minhash_wide(
    docs: DataFrame, id_col: str, text_col: str, n_perm: int, shingle_n: int
) -> DataFrame:
    """(id, mh_0..mh_{P-1}): per-doc minhashes, one narrow Arrow-batched
    pass — mh_p = min over distinct shingles of md5(p || '|' || shingle).

    Zero shuffles and zero row explosion (replaces the original
    explode → groupBy(id) shape — the min over exploded shingle rows
    equals the per-row min over the distinct shingle set). The hashing
    runs as hashlib (C) over whole Arrow batches per guide §4.2: the
    equivalent Catalyst spelling (P × array_min(transform(md5(...)))) is
    a higher-order function that codegen cannot compile, so every one of
    the P × shingles md5 calls went through the interpreted expression
    evaluator with per-call allocation (~4s at sf1.0, and strongly
    sensitive to JVM heap state). Values are identical: hashlib md5 hex
    == Spark md5, and lowercase-hex strings order the same under Python
    str and UTF8String binary comparison (ASCII)."""
    import pandas as pd

    schema = "id long, " + ", ".join(f"mh_{p} string" for p in range(n_perm))
    prefixes = [f"{p}|".encode() for p in range(n_perm)]
    bare = [str(p).encode() for p in range(n_perm)]
    n_sh = int(shingle_n)

    def kernel(batches):
        import hashlib

        from cuvs_lucene_spark.functions.tokenize import tokenize_py

        md5 = hashlib.md5
        for pdf in batches:
            null_mask = pdf["_t"].isna().to_numpy()
            toks = tokenize_py(pdf["_t"])
            cols: dict[str, list] = {f"mh_{p}": [] for p in range(n_perm)}
            for tl, is_null in zip(toks, null_mask):
                if is_null:
                    # NULL text: tokenize is NULL, array_join(NULL) is
                    # NULL, and concat_ws SKIPS the null shingle — the
                    # hashed payload is the permutation index alone
                    # (no separator), matching the Catalyst semantics
                    for p in range(n_perm):
                        cols[f"mh_{p}"].append(md5(bare[p]).hexdigest())
                    continue
                if len(tl) >= n_sh:
                    sh = {
                        " ".join(tl[i : i + n_sh])
                        for i in range(len(tl) - n_sh + 1)
                    }
                    enc = [s.encode() for s in sh]
                else:
                    enc = [" ".join(tl).encode()]
                for p, pref in enumerate(prefixes):
                    cols[f"mh_{p}"].append(
                        min(md5(pref + e).hexdigest() for e in enc)
                    )
            yield pd.DataFrame({"id": pdf["id"], **cols})

    base = _spread(
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).cast("string").alias("_t")
        )
    )
    return base.mapInPandas(kernel, schema)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, p, mh): per-doc minhash under P md5 'permutations'
    (mh_p = min over shingles of md5(p || '|' || shingle)).

    Computed shuffle-free per row (see :func:`_minhash_wide`), then
    unpivoted to the (id, p, mh) long shape."""
    wide = _minhash_wide(docs, id_col, text_col, n_perm, shingle_n)
    pairs = []
    for p in range(n_perm):
        pairs += [f"'{p}'", f"mh_{p}"]
    return wide.selectExpr("id", f"stack({n_perm}, {', '.join(pairs)}) AS (p, mh)").select(
        "id", F.col("p").cast("int").alias("p"), "mh"
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Shape: per-row band signatures (no shuffle — :func:`_minhash_wide`),
    then ONE groupBy((band, sig)) collecting the bucket's sorted ids and
    expanding the i<j pairs inside a nested-transform expression. The
    previous self-join evaluated the whole signature pipeline TWICE (a
    self-join's two aliases are independent subtrees) and shuffled both;
    this computes signatures once and shuffles one compact (id, band,
    sig) row per band per doc (guide §2.3/§2.4). Pair volume within a
    bucket is unchanged (quadratic in bucket size — inherent to LSH
    candidate semantics; md5 band signatures are high-entropy, so buckets
    are true near-dup groups, not hash hot spots)."""
    rows_per_band = n_perm // bands
    wide = _minhash_wide(docs, id_col, text_col, n_perm, shingle_n)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    buckets = wide.select(
        "id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    pair_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("pr"))
        .select(F.col("pr.id_a").alias("id_a"), F.col("pr.id_b").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via shingle equi-join (never crossJoin):
    pairs sharing zero shingles are never materialized."""
    sh = doc_shingles(docs, id_col, text_col, shingle_n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash fingerprints (32 bits by default): per-token md5-derived
    hash, tf-weighted sign aggregation per bit. (id, simhash long).

    One narrow Arrow-batched pass — zero shuffles, zero row explosion
    (replaces the original explode → groupBy(id,t) → bits× explode → two
    more groupBys: 3 shuffles and a 32× row multiplication). The tf
    weighting is algebraically absorbed: the per-bit sum over DISTINCT
    tokens of ±tf equals the sum over all token OCCURRENCES of ±1, so
    each fingerprint is one vectorized numpy bit-matrix fold over the
    row's token hashes, with md5 via hashlib (C) and a per-task
    token→hash memo (guide §4.2/§4.5 — a Catalyst higher-order spelling
    would run every hash and every bit fold through the interpreted
    evaluator). Values are bit-identical to the original aggregate
    (integer math throughout); docs with zero tokens are excluded
    (explode semantics of the original — preserved exactly).

    ``bits`` must be in 1..32: each token hash is a 32-bit md5 prefix, so
    any wider fingerprint would carry always-zero high bits."""
    import numpy as np
    import pandas as pd

    n_bits = int(bits)
    if not 1 <= n_bits <= 32:
        raise ValueError(f"simhash bits must be in 1..32 (the token hash has 32), got {bits}")

    def kernel(batches):
        import hashlib

        from cuvs_lucene_spark.functions.tokenize import tokenize_py

        md5 = hashlib.md5
        shift = np.arange(n_bits, dtype=np.uint64)
        memo = {}

        def h_of(t):
            v = memo.get(t)
            if v is None:
                v = int(md5(t.encode()).hexdigest()[:8], 16)
                memo[t] = v
            return v

        for pdf in batches:
            toks = tokenize_py(pdf["_t"])
            ids_in = pdf["id"].to_numpy()
            ids, sims = [], []
            for i, tl in zip(ids_in, toks):
                if not len(tl):
                    continue  # zero-token/null docs drop (explode semantics)
                hs = np.fromiter((h_of(t) for t in tl), np.uint64, count=len(tl))
                ones = ((hs[:, None] >> shift) & 1).sum(axis=0).astype(np.int64)
                s = 2 * ones - len(tl)  # Σ over occurrences of ±1 per bit
                sim = int(((s > 0).astype(np.uint64) << shift).sum())
                ids.append(int(i))
                sims.append(sim)
            yield pd.DataFrame(
                {
                    "id": np.array(ids, dtype=np.int64),
                    "simhash": np.array(sims, dtype=np.int64),
                }
            )

    base = _spread(
        docs.select(
            F.col(id_col).alias("id"), F.col(text_col).cast("string").alias("_t")
        )
    )
    return base.mapInPandas(kernel, "id long, simhash long")


def simhash_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """EXACT SimHash near-duplicate pairs: all (id_a < id_b) with
    hamming(simhash_a, simhash_b) ≤ ``max_hamming`` → (id_a, id_b, hamming).

    Scale shape: the fingerprint is split into ``bands`` contiguous bit
    bands; candidates are pairs agreeing on ≥1 band (equi-join on
    (band, band_value) — a compact uniformly-distributed key), then the
    exact hamming distance verifies. With ``bands > max_hamming`` this is
    LOSSLESS by pigeonhole: ≤ max_hamming differing bits cannot touch all
    bands, so every true pair shares at least one identical band. No
    crossJoin anywhere; the result provably equals the all-pairs scan.
    """
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming for exact recall")
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    bw = bits // bands
    sh = simhash(docs, id_col, text_col, bits)
    band_vals = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"shiftright(simhash, {i * bw})")
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    # Self-join on (band, val) generates bucket pairs inside the
    # codegen'd join (narrow 8-bit band values make candidate volume
    # quadratic in bucket size, so per-pair cost matters — the join's
    # generated loop beats any interpreted expression expansion), with
    # the hamming verification applied IN THE SAME STAGE as the join
    # output, BEFORE the distinct: only the few true near-dup pairs ever
    # hit the distinct's exchange, where previously every candidate pair
    # (tens of millions at modest corpus sizes) was shuffled through it
    # (guide §2.3 shuffle fewer bytes). Result provably identical:
    # hamming is functionally determined by (id_a, id_b), so
    # filter-then-distinct equals the old distinct-then-filter. The two
    # join sides each evaluate the simhash projection — cheap, shuffle-
    # free and spread across tasks (see :func:`simhash`).
    a, b = band_vals.alias("a"), band_vals.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _cos_base(vectors: DataFrame, id_col: str, vector_col: str) -> DataFrame:
    vec64 = F.transform(F.col(vector_col), lambda v: v.cast("double"))
    norm = F.sqrt(
        F.aggregate(F.transform(vec64, lambda v: v * v), F.lit(0.0), lambda a, v: a + v)
    )
    return vectors.select(F.col(id_col).alias("id"), vec64.alias("v"), norm.alias("nrm"))


def _pair_dot():
    return F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embedding_near_dup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT cosine-threshold near-duplicate pairs over an embedding column.

    Distributed block-matrix shape — never a BroadcastNestedLoopJoin: rows
    hash into ``n_blocks`` blocks, each packed into one dense matrix; the
    n_blocks·(n_blocks+1)/2 unordered block pairs form a tiny broadcast
    relation; two EQUI-joins route each block pair's two packs into one
    task, where the full cosine sub-matrix is ONE BLAS matmul. Exact
    all-pairs work is inherent to an exact threshold join (O(N²) dot
    products), but it runs as ~B²/2 balanced matrix multiplies on compact
    join keys — no driver-side broadcast of the data, no single fat
    partition, no per-row expression folds. For high thresholds at extreme
    scale, :func:`embedding_near_dup_lsh` prunes candidates first.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import FloatType

    spark = vectors.sparkSession
    # ship float32 when the source column IS float32 (parquet embeddings):
    # f32→f64 widening is exact, so packing the narrower type halves every
    # shuffled matrix byte with bit-identical cosines (guide §2.3 narrower
    # types); double sources keep the f64 pack (no precision loss allowed).
    elem_t = vectors.schema[vector_col].dataType.elementType
    f32 = isinstance(elem_t, FloatType)
    pack_np = np.float32 if f32 else np.float64
    base = vectors.select(
        F.col(id_col).alias("id"),
        (
            F.col(vector_col)
            if f32
            else F.transform(F.col(vector_col), lambda v: v.cast("double"))
        ).alias("v"),
    ).withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack([np.asarray(v, pack_np) for v in pdf["v"].to_numpy()])[order]
        return pd.DataFrame(
            {"blk": [int(pdf["blk"].iloc[0])], "n": [np.int32(ids.size)],
             "dim": [np.int32(m.shape[1])], "ids": [ids.tobytes()],
             "mat": [m.tobytes()]}
        )

    # materialize the B packs ONCE: both join sides below derive from
    # `packs`, and without the checkpoint the self-referencing plan would
    # run the pack shuffle + pandas stage twice (one per alias)
    packs = base.groupBy("blk").applyInPandas(
        pack, "blk int, n int, dim int, ids binary, mat binary"
    ).localCheckpoint(eager=True)
    pair_rows = [(a, b) for a in range(n_blocks) for b in range(n_blocks) if a <= b]
    pairs = spark.createDataFrame(pair_rows, "ba int, bb int")
    a_side = packs.select(
        F.col("blk").alias("ba"), F.col("n").alias("na"), "dim",
        F.col("ids").alias("ids_a"), F.col("mat").alias("mat_a"),
    )
    b_side = packs.select(
        F.col("blk").alias("bb"), F.col("n").alias("nb"),
        F.col("ids").alias("ids_b"), F.col("mat").alias("mat_b"),
    )
    j = a_side.join(F.broadcast(pairs), "ba").join(b_side, "bb")
    thr = float(threshold)

    def verify(it):
        for pdf in it:
            for r in pdf.itertuples():
                ia = np.frombuffer(r.ids_a, np.int64)
                ib = np.frombuffer(r.ids_b, np.int64)
                # compute in f64 regardless of the packed width (f32→f64
                # is exact, so cosines are bit-identical to the f64 pack)
                ma = np.frombuffer(r.mat_a, pack_np).reshape(r.na, r.dim).astype(np.float64)
                mb = np.frombuffer(r.mat_b, pack_np).reshape(r.nb, r.dim).astype(np.float64)
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                na[na == 0] = 1.0
                nb[nb == 0] = 1.0
                cosm = (ma @ mb.T) / np.outer(na, nb)
                mask = cosm >= thr
                if r.ba == r.bb:
                    mask &= np.triu(np.ones_like(mask), k=1).astype(bool)
                ii, jj = np.nonzero(mask)
                if ii.size == 0:
                    continue
                aid, bid = ia[ii], ib[jj]
                yield pd.DataFrame(
                    {"id_a": np.minimum(aid, bid),
                     "id_b": np.maximum(aid, bid),
                     "cos": np.round(cosm[ii, jj], 6)}
                )

    return j.mapInPandas(verify, "id_a long, id_b long, cos double")


def embedding_near_dup_lsh(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.8,
    bands: int = 32,
    rows_per_band: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup pairs: signed-random-projection LSH
    candidates (equi-join on (band, signature)) + exact cosine verification
    of candidates only. Precision is exact (every returned pair is
    verified); recall is probabilistic — for a pair at cosine s, the miss
    probability is (1 − (1 − acos(s)/π)^r)^b, e.g. ≈1e-7 at s=0.8 with
    r=4, b=32. Deterministic: projections derive from ``seed``.

    This is the 10^12-row path: candidate volume scales with bucket
    collisions, not N², and every join is an equi-join on a compact key.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(bands * rows_per_band, dim))
    vec64 = F.transform(F.col(vector_col), lambda v: v.cast("double"))
    base = vectors.select(F.col(id_col).alias("id"), vec64.alias("v"))
    # one signature column per band: r sign bits of fixed projections,
    # evaluated as pure Catalyst expressions (no UDF)
    sig_cols = []
    for bd in range(bands):
        bits = []
        for r_ in range(rows_per_band):
            p = planes[bd * rows_per_band + r_]
            dot = F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in p]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << r_))
        sig = bits[0]
        for extra in bits[1:]:
            sig = sig + extra
        sig_cols.append(F.struct(F.lit(bd).alias("band"), sig.alias("sig")))
    buckets = base.select(
        "id", F.explode(F.array(*sig_cols)).alias("bs")
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "sig"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    cb = _cos_base(vectors, id_col, vector_col)
    verified = (
        cand.join(cb.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(cb.alias("b"), F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            (_pair_dot() / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
    return verified


def _min_label(a, b):
    """Connected components of the edge list ``a[i] ~ b[i]`` (int64 node
    ids) → ``(nodes, labels)``: the distinct nodes in ascending order and,
    for each, the minimum node id of its component.

    Vectorized hook-and-jump union-find over dense node indices (index
    order is id order, so the minimum index is the minimum id). Each
    round hooks every root to the smallest root it shares an edge with,
    then follows parent pointers until each node points at a root
    (pointer jumping: a chain collapses in O(log length) steps). Parents
    only decrease and never leave their component, so once every edge
    joins one root, that root is its component's minimum. An edge whose
    ends share a root keeps sharing it, so each round scans only the
    edges still split."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a) :]
    parent = np.arange(nodes.size)
    while True:
        pa, pb = parent[ia], parent[ib]
        split = pa != pb
        if not split.any():
            return nodes, nodes[parent]
        ia, ib, pa, pb = ia[split], ib[split], pa[split], pb[split]
        np.minimum.at(parent, np.maximum(pa, pb), np.minimum(pa, pb))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _spanning_forest(batches):
    """``mapInPandas`` kernel: one partition's (a, b) pairs → its spanning
    forest as (root, node) rows, each node under the minimum id of its
    partition-local component. A root is implied by its children's rows;
    a root without children (a node seen only in self-pairs) emits
    (root, root) so that it still reaches the global pass."""
    import numpy as np
    import pandas as pd

    cols = [(pdf["a"].to_numpy(np.int64), pdf["b"].to_numpy(np.int64)) for pdf in batches]
    if not cols:
        return
    nodes, labels = _min_label(
        np.concatenate([a for a, _ in cols]), np.concatenate([b for _, b in cols])
    )
    child = labels != nodes
    emit = child | ~np.isin(nodes, labels[child])
    yield pd.DataFrame({"root": labels[emit], "node": nodes[emit]})


def _components_rounds(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Shuffle tier of :func:`duplicate_components` for forests too big
    for the driver: ``(a, b)`` edges → ``(id, component)`` by iterative
    min-label propagation with pointer jumping, as Spark rounds.

    A directed edge copy is checkpointed hash-partitioned on the join
    key, and the label table is re-pinned to the same layout each round,
    so the per-round edges⋈labels sort-merge join re-shuffles neither
    side (guide §2.4 exchange reuse). Every round each node adopts the
    minimum label in its closed neighborhood, then follows one hop
    through the previous label table (path halving, so rounds ≈
    O(log diameter)). The new label table is eagerly checkpointed with a
    ``chg`` flag (fixpoint detection is a scan, not a join) and the
    previous one unpersisted, so lineage stays one round deep and at
    most two label tables are live."""
    spark = edges.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    und_dir = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(n_part, "a")
        .localCheckpoint(eager=True)
    )
    labels = (
        und_dir.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nbr_min = (
            und_dir.join(labels, und_dir["a"] == labels["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        cand = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jump: every label IS a node id, so follow one hop
        # through the previous (already materialized) label table
        hop = labels.select(F.col("id").alias("hid"), F.col("label").alias("hlabel"))
        jumped = F.least(cand["label"], F.coalesce("hlabel", cand["label"]))
        new_labels = (
            cand.join(hop, cand["label"] == hop["hid"], "left")
            .select(
                cand["id"],
                jumped.alias("label"),
                (jumped != cand["old_label"]).alias("chg"),
            )
            .repartition(n_part, "id")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("chg").count()
        labels.unpersist()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iterations} rounds"
        )
    und_dir.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def duplicate_components(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs →
    ``(id, component, keep)`` with ``component`` = the minimum id reachable
    through the pair graph and ``keep`` = (id == component) — the cluster
    decision table a dedup pipeline feeds downstream (pairs alone
    under-delete: A~B and B~C must collapse to ONE survivor even when A~C
    was never emitted as a candidate).

    Algorithm: spanning forests, then one union-find.

    1. **On the executors**: one ``mapInPandas`` pass over the canonical
       (min, max) pair list runs the numpy min-label union-find
       (:func:`_min_label`) inside each partition — no shuffle — and
       emits the partition's spanning forest as (root, node) rows. The
       forest has at most one row per node per partition, however dense
       the duplicate clusters (|E| grows quadratically in cluster size,
       the forest linearly).
    2. **On the driver**: the forest is collected, capped at
       ``COMPONENTS_BCAST_MAX_NODES`` rows, and the same kernel unions
       the partition forests into global components, which become the
       ``(id, component)`` frame through one ``createDataFrame``. Merging
       forests preserves connectivity, so the result is the component
       minimum, exactly.

    A forest longer than the cap takes the shuffle tier instead
    (:func:`_components_rounds`): Spark rounds of min-label propagation
    over the forest edges, which are never more than the raw pairs.
    ``max_iterations`` is that tier's convergence backstop. The in-memory
    tier runs a handful of Spark jobs and persists nothing.
    Deterministic: min is order-independent. Pairs with both ids null
    are ignored; a pair with one null id keeps the other as a node.

    ``all_ids`` (one ``id`` column, optional): include singletons with
    ``component = id`` so the output is a TOTAL decision table.
    """
    import pyarrow as pa

    spark = pairs.sparkSession
    a, b = F.col(id_a).cast("long"), F.col(id_b).cast("long")
    edges = pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b")).filter(
        F.col("a").isNotNull()
    )
    forest = edges.mapInPandas(_spanning_forest, "root long, node long")
    cap = COMPONENTS_BCAST_MAX_NODES
    rows = forest.limit(cap + 1).toArrow()
    if rows.num_rows <= cap:
        nodes, labels = _min_label(
            rows.column("root").to_numpy(), rows.column("node").to_numpy()
        )
        comp = spark.createDataFrame(pa.table({"id": nodes, "component": labels}))
    else:
        comp = _components_rounds(
            forest.select(F.col("root").alias("a"), F.col("node").alias("b")),
            max_iterations,
        )
    if all_ids is not None:
        comp = (
            all_ids.select(F.col(all_ids.columns[0]).cast("long").alias("id"))
            .join(comp, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component"))
        )
    return comp.withColumn("keep", F.col("id") == F.col("component"))


def ngram_contamination(
    train: DataFrame,
    evals: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set decontamination for training corpora →
    DataFrame(id_col, overlap_ngrams, contaminated): for EVERY train doc,
    how many of its DISTINCT token n-grams appear in ANY eval doc, and
    the boolean flag. Docs shorter than n tokens contribute no n-grams
    (never contaminated by themselves).

    Physical shape (100 TB): explode → distinct per side (map-side
    partial dedup), ONE equi-join on the n-gram string — the eval side of
    a decontamination run is benchmarks, i.e. tiny next to the corpus, so
    AQE broadcast-converts it — then a groupBy on the train doc id. No
    all-pairs step anywhere. At extreme gram cardinality the join key can
    be xxhash64(g) (8-byte shuffle keys, 2^-64 collision odds); the
    string key is kept here for bit-exact oracle parity.
    """
    if n < 1:
        raise ValueError("n must be >= 1")

    def grams(df: DataFrame):
        # token array bound ONCE via the single-element transform wrapper
        # (see _shingles): the old spelling re-ran the tokenizer regexp
        # and allocated a slice copy per gram position inside the lambda
        toks = tokenize_expr(text_col)
        pat = "regexp_extract_all(lower({c}), '[a-z0-9_]+', 0)".format(c=text_col)
        parts = ", ".join(f"element_at(tk, i + {j})" for j in range(n))
        return F.when(
            F.size(toks) >= n,
            F.expr(
                f"flatten(transform(array({pat}), tk -> "
                f"transform(sequence(1, size(tk) - {n - 1}), "
                f"i -> concat_ws(' ', {parts}))))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    train_g = train.select(
        F.col(id_col).alias("id"), F.explode(grams(train)).alias("g")
    ).distinct()
    eval_g = evals.select(F.explode(grams(evals)).alias("g")).distinct()
    overlap = (
        train_g.join(eval_g, "g", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("o"))
    )
    return (
        train.select(F.col(id_col).cast("long").alias("id"))
        .join(overlap, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("o", F.lit(0)).cast("long").alias("overlap_ngrams"),
            (F.coalesce("o", F.lit(0)) > 0).alias("contaminated"),
        )
    )
