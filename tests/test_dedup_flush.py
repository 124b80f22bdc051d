"""The driver tier of the training-data stages against their Spark tier
(``segments.DRIVER_FLUSH_MAX_DOCS`` patched to 0): each stage and the
prep job give the same rows on both; the inputs the driver tier leaves to
Spark; the shingle-join guard; the job's Spark job count and storage; the
id-type check; and the SimHash kernel's memory, on local pandas. Tiny
generated inputs, module fixtures."""

import json
import tracemalloc

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from cuvs_lucene_spark.frames import LocalResult
from cuvs_lucene_spark.functions import textstats
from cuvs_lucene_spark.operators import dedup as dd
from cuvs_lucene_spark.operators import segments
from cuvs_lucene_spark.operators.sampling import training_mix

VOCAB = "the a of and to in is data spark index query vector token merge segment".split()


def _corpus() -> pd.DataFrame:
    """Random docs over a small vocabulary plus the edge cases: short,
    empty and punctuation-only texts, negative ids, an exact-duplicate
    cluster under case and punctuation changes, unicode, null ``lang``,
    and texts whose rounded ratios land on a HALF_UP boundary (1/128 =
    0.0078125): an alnum ratio, a stopword ratio, a top-2-gram fraction and
    (docs 9001/9002) a 3-shingle Jaccard."""
    rng = np.random.default_rng(7)
    texts = [" ".join(rng.choice(VOCAB, rng.integers(3, 40))) for _ in range(40)]
    texts += [
        "hi there", "one", "", "!!! ... ???",
        "The quick brown fox jumps over the lazy dog",
        "the QUICK brown fox, jumps over the lazy dog!!",
        "The quick brown fox jumps over the lazy dog",
        "Ünïcödé café naïve 日本語 straße Kelvin of the text",
        "a" + "!" * 127,
        " ".join(["the"] + [f"w{i}" for i in range(127)]),
        " ".join(f"r{i}" for i in range(129)),
    ]
    ids = np.arange(len(texts), dtype=np.int64) - 20
    x = [f"x{i}" for i in range(67)]
    texts += [" ".join(x), " ".join(x[64:] + [f"y{i}" for i in range(63)])]
    ids = np.concatenate([ids, [9001, 9002]])
    langs = np.array(["en", "fr", "de", None], dtype=object)[np.arange(len(texts)) % 4]
    return pd.DataFrame({"doc_id": ids, "text": texts, "lang": langs})


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus(), "doc_id long, text string, lang string")


PAIRS = [(1, 2), (2, 3), (3, 4), (-5, 10), (7, 7), (40, 41), (41, 40)]


def _stages(spark, docs):
    pairs = spark.createDataFrame(pd.DataFrame(PAIRS, columns=["id_a", "id_b"]),
                                  "id_a long, id_b long")
    all_ids = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, -5, 10, 7, 99, 99]}),
                                    "doc_id long")
    evals = docs.filter(docs.doc_id % 5 == 0)
    return {
        "dedup_keep_list": lambda: dd.dedup_keep_list(docs),
        "ngram_jaccard_pairs": lambda: dd.ngram_jaccard_pairs(docs, threshold=0.005),
        "duplicate_components": lambda: dd.duplicate_components(pairs, all_ids=all_ids),
        "quality_score": lambda: textstats.quality_score(docs),
        "repetition_stats": lambda: textstats.repetition_stats(docs, n=2),
        "ngram_contamination": lambda: dd.ngram_contamination(
            train=docs.filter(docs.doc_id % 5 != 0), evals=evals, n=3),
        "training_mix": lambda: training_mix(docs, {"en": 0.5, "fr": 0.0}, default_rate=0.3),
        "simhash": lambda: dd.simhash(docs),
    }


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_stage_tiers_give_the_same_rows(spark, docs, monkeypatch):
    """Every stage's driver tier answers as a ``LocalResult`` with the
    Spark tier's rows, floats included bit for bit."""
    calls = _stages(spark, docs)
    driver = {}
    for name, call in calls.items():
        df = call()
        assert isinstance(df, LocalResult), name
        driver[name] = _rows(df)
    monkeypatch.setattr(segments, "DRIVER_FLUSH_MAX_DOCS", 0)
    for name, call in calls.items():
        df = call()
        assert not isinstance(df, LocalResult), name
        assert _rows(df) == driver[name], name
    # the HALF_UP boundaries were met: 0.0078125 rounds up on both tiers
    assert (9001, 9002, 0.007813) in driver["ngram_jaccard_pairs"]
    for name, col in [("quality_score", 4), ("quality_score", 3), ("repetition_stats", 2)]:
        assert 0.007813 in {r[col] for r in driver[name]}, (name, col)


def test_unkeyed_inputs_take_the_spark_tier(spark):
    """Null or repeated ids and null text leave every stage to its Spark
    plan; so do null pair ids in the components' input."""
    schema = "doc_id long, text string, lang string"
    bad = {
        "null id": [(1, "a b c d", "en"), (None, "a b c d", "en")],
        "repeated id": [(1, "a b c d", "en"), (1, "e f g h", "fr")],
        "null text": [(1, "a b c d", "en"), (2, None, "fr")],
    }
    for case, rows in bad.items():
        docs = spark.createDataFrame(rows, schema)
        calls = [dd.dedup_keep_list, dd.ngram_jaccard_pairs, textstats.quality_score,
                 textstats.repetition_stats, dd.simhash,
                 lambda d: dd.ngram_contamination(train=d, evals=d, n=2)]
        if case != "null text":  # the mix reads no text
            calls.append(lambda d: training_mix(d, {"en": 0.5}))
        for call in calls:
            assert not isinstance(call(docs), LocalResult), (case, call)
    pairs = spark.createDataFrame([(1, 2), (None, 3)], "id_a long, id_b long")
    comp = dd.duplicate_components(pairs)
    assert not isinstance(comp, LocalResult)
    assert _rows(comp) == [(1, 1, True), (2, 1, False), (3, 3, True)]


def test_dense_shingle_join_takes_the_spark_tier(spark, monkeypatch):
    """The driver Jaccard counts its shingle-join expansion first: a
    30-copy cluster over a patched ``COMPONENTS_BCAST_MAX_NODES`` runs on
    Spark, with the same 435 pairs."""
    docs = spark.createDataFrame([(i, "one two three four five six") for i in range(30)],
                                 "doc_id long, text string")
    small = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    assert isinstance(small, LocalResult) and len(_rows(small)) == 435
    monkeypatch.setattr(dd, "COMPONENTS_BCAST_MAX_NODES", 100)
    dense = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    assert not isinstance(dense, LocalResult)
    assert _rows(dense) == _rows(small)


@pytest.fixture(scope="module")
def job_input(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prep") / "documents.parquet")
    _corpus().to_parquet(path, index=False)
    return path


JOB_ARGS = ["--eval-pred", "doc_id % 5 = 0", "--mix", "en=0.9", "fr=0.5",
            "--default-rate", "0.5", "--jaccard-threshold", "0.3", "--contam-ngram", "3",
            "--min-quality", "0.4"]


def _job(spark, job_input, out, capsys, group):
    """One pass of the prep job → (funnel, decision rows, kept rows, Spark
    jobs it ran)."""
    from jobs.prepare_training_data import main

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        main(["--input", job_input, "--output", out, *JOB_ARGS])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    line = capsys.readouterr().out.strip().splitlines()[-1]

    def rows(p):
        return sorted(tuple(r.values()) for r in pq.read_table(p).to_pylist())

    return (json.loads(line)["funnel"], rows(out + "_decisions"), rows(out),
            len(sc.statusTracker().getJobIdsForGroup(group)))


def test_job_tiers_agree_and_the_driver_pass_runs_no_job(spark, job_input, tmp_path,
                                                        monkeypatch, capsys):
    """The prep job's decisions, kept corpus and funnel are the same on
    both tiers; the driver pass runs 0 Spark jobs; the Spark pass leaves
    no RDD persisted (its cached decision table is released)."""
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    with monkeypatch.context() as m:
        m.setattr(segments, "DRIVER_FLUSH_MAX_DOCS", 0)
        *on_spark, jobs = _job(spark, job_input, str(tmp_path / "s"), capsys, "prep_spark")
    assert jobs > 0
    assert sc._jsc.getPersistentRDDs().size() == persisted
    *driver, jobs = _job(spark, job_input, str(tmp_path / "d"), capsys, "prep_driver")
    assert jobs == 0
    assert driver == on_spark
    funnel = driver[0]
    assert funnel["input"] == len(_corpus()) > funnel["mix_keep"] > 0


def test_job_inputs_outside_the_driver_tier(spark, tmp_path, monkeypatch, capsys):
    """A null id (the rows read, then the Spark pass over them) and a
    column type Spark's Arrow conversion lacks (``uint32``: Spark's parquet
    reader) run the Spark pass, writing the rows the parquet-scan Spark
    pass writes."""
    base = _corpus()
    cases = {"null_id": base.assign(doc_id=base["doc_id"].astype("Int64").mask(base.index == 3)),
             "uint32": base.assign(n=np.arange(len(base), dtype=np.uint32))}
    for name, pdf in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        *got, jobs = _job(spark, path, str(tmp_path / f"{name}_a"), capsys, f"prep_{name}")
        assert jobs > 0, name
        with monkeypatch.context() as m:
            m.setattr(segments, "DRIVER_FLUSH_MAX_DOCS", 0)
            *want, _ = _job(spark, path, str(tmp_path / f"{name}_b"), capsys, f"prep_{name}_b")
        assert got == want, name


def test_non_integer_ids_are_rejected(spark):
    """The minhash and SimHash kernels emit a ``long`` id: a string id
    raises a ValueError naming the column and its type, on either tier."""
    docs = spark.createDataFrame([("a", "x y z w"), ("b", "x y z v")], "doc_id string, text string")
    for call in (dd.simhash, dd.minhash_lsh_candidates, dd.minhash_signatures):
        with pytest.raises(ValueError, match="'doc_id' has type string"):
            call(docs)


def _simhash_unchunked(tokens: list[str], bits: int = 32) -> int:
    """The bit fold over every token at once (tokens × bits matrix)."""
    import hashlib

    hs = np.array([int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in tokens], np.uint64)
    shift = np.arange(bits, dtype=np.uint64)
    s = 2 * ((hs[:, None] >> shift) & 1).sum(axis=0).astype(np.int64) - len(tokens)
    return int(((s > 0).astype(np.uint64) << shift).sum())


def test_simhash_kernel_chunks_the_token_axis(monkeypatch):
    """On local pandas: with 3-token chunks, small docs get the unchunked
    fold's fingerprints (zero-token docs dropped); a 10^6-token doc folds
    under a 128 MB tracemalloc peak (the unchunked fold's bit matrix alone
    is 256 MB)."""
    from cuvs_lucene_spark.functions.tokenize import tokenize_py

    rng = np.random.default_rng(3)
    texts = [" ".join(rng.choice(VOCAB, rng.integers(0, 12))) for _ in range(30)] + ["!!"]
    pdf = pd.DataFrame({"id": np.arange(len(texts), dtype=np.int64), "_t": texts})
    monkeypatch.setattr(dd, "SIMHASH_CHUNK_TOKENS", 3)
    for bits in (32, 7):
        got = dd._simhash_rows(pdf, bits, {})
        want = [(i, _simhash_unchunked(t, bits))
                for i, t in zip(pdf["id"], tokenize_py(pdf["_t"])) if t]
        assert list(zip(got["id"], got["simhash"])) == want
    monkeypatch.undo()

    long_doc = pd.DataFrame({"id": np.array([1], np.int64),
                             "_t": [" ".join(f"w{i % 1000}" for i in range(10**6))]})
    tracemalloc.start()
    try:
        got = dd._simhash_rows(long_doc, 32, {})
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 128 * 2**20, peak / 2**20
    # each of the 1000 tokens occurs 1000 times: the per-bit sums scale by 1000
    assert got["simhash"].tolist() == [_simhash_unchunked([f"w{i}" for i in range(1000)])]
