"""Seeded input generators owned by the benchmark.

Every input the engine sees is made here from ``--seed``: the same seed
gives byte-identical inputs, and each generator exposes the knobs the
engine's behaviour depends on (vocabulary size, tail share and Zipf
exponent for text; cluster count and spread for vectors; planted
duplicate clusters for the dedup corpus). Each generator also reports a
profile and the bounds a corpus of that spec must land in, so a run on a
new seed proves the seed did not change what is being measured.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

LETTERS = np.array(list("abcdefghiklmnoprstuvwy"))
LANGS = ["en", "fr", "de", "zh"]


@dataclass(frozen=True)
class TextSpec:
    n_docs: int
    vocab_size: int
    zipf_s: float = 1.1       # exponent of the rank-frequency law
    tail_share: float = 0.1   # share of tokens drawn uniformly from the vocabulary
    min_len: int = 20
    max_len: int = 80


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words of 3..9 letters; index 0 is
    the most frequent rank. Letters only, so every word is one token under
    the engine's ``[a-z0-9_]+`` rule."""
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 10, size=2 * n)
        chars = LETTERS[rng.integers(0, len(LETTERS), size=(2 * n, 9))]
        for row, ln in zip(chars, lens):
            words.setdefault("".join(row[:ln]), None)
            if len(words) == size:
                break
    return np.array(list(words), dtype=object)


def zipf_ranks(rng: np.random.Generator, spec: TextSpec, n: int) -> np.ndarray:
    """``n`` vocabulary ranks: a Zipf(s) draw over the whole vocabulary,
    mixed with a uniform draw for ``tail_share`` of the tokens."""
    p = np.arange(1, spec.vocab_size + 1, dtype=np.float64) ** -spec.zipf_s
    cdf = np.cumsum(p / p.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), spec.vocab_size - 1)
    flat = rng.random(n) < spec.tail_share
    ranks[flat] = rng.integers(0, spec.vocab_size, size=int(flat.sum()))
    return ranks


def text_corpus(seed: int, spec: TextSpec, id_base: int = 0,
                vocab: np.ndarray | None = None) -> tuple[pd.DataFrame, np.ndarray]:
    """(documents(doc_id, text, lang), vocab). Pass ``vocab`` to draw
    more documents from the same language (ingest epochs)."""
    rng = np.random.default_rng(seed)
    if vocab is None:
        vocab = make_vocab(rng, spec.vocab_size)
    lens = rng.integers(spec.min_len, spec.max_len + 1, size=spec.n_docs)
    words = vocab[zipf_ranks(rng, spec, int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    ids = np.arange(id_base, id_base + spec.n_docs, dtype=np.int64)
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), size=spec.n_docs)]
    return pd.DataFrame({"doc_id": ids, "text": texts, "lang": lang}), vocab


def text_profile(docs: pd.DataFrame) -> dict:
    toks = docs["text"].str.split()
    counts = pd.Series([t for row in toks for t in row]).value_counts()
    n_tok = int(counts.sum())
    return {
        "n_docs": len(docs),
        "unique_terms": int(len(counts)),
        "mean_len": n_tok / max(1, len(docs)),
        "top1_share": float(counts.iloc[0]) / n_tok,
    }


def text_bounds(spec: TextSpec) -> dict:
    """Ranges a corpus of ``spec`` lands in for any seed (±15% around the
    law's expectation; the top-1 share follows from the Zipf exponent)."""
    p = np.arange(1, spec.vocab_size + 1, dtype=np.float64) ** -spec.zipf_s
    p = (1 - spec.tail_share) * p / p.sum() + spec.tail_share / spec.vocab_size
    n_tok = spec.n_docs * (spec.min_len + spec.max_len) / 2
    uniq = float(np.sum(1.0 - np.exp(-n_tok * p)))
    mean_len = (spec.min_len + spec.max_len) / 2
    return {
        "unique_terms": (0.85 * uniq, 1.15 * uniq),
        "mean_len": (0.95 * mean_len, 1.05 * mean_len),
        "top1_share": (0.85 * p[0], 1.15 * p[0]),
    }


def out_of_bounds(profile: dict, bounds: dict) -> list[str]:
    return [
        f"{k}={profile[k]:.4g} not in [{lo:.4g}, {hi:.4g}]"
        for k, (lo, hi) in bounds.items()
        if not (lo <= profile[k] <= hi)
    ]


@dataclass(frozen=True)
class VectorSpec:
    n_vecs: int
    dim: int = 32
    n_clusters: int = 32
    spread: float = 0.15  # within-cluster std relative to the centroid scale


def clustered_vectors(seed: int, spec: VectorSpec, n: int | None = None,
                      centers: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, dim], centers): Gaussian blobs around
    ``n_clusters`` random centroids, so IVF lists and graph neighbourhoods
    have real structure and recall@k means something."""
    rng = np.random.default_rng(seed)
    if centers is None:
        centers = rng.normal(size=(spec.n_clusters, spec.dim)).astype(np.float32)
    n = spec.n_vecs if n is None else n
    lab = rng.integers(0, len(centers), size=n)
    noise = rng.normal(scale=spec.spread, size=(n, spec.dim)).astype(np.float32)
    return (centers[lab] + noise).astype(np.float32), centers


def vector_profile(vecs: np.ndarray, centers: np.ndarray) -> dict:
    d = ((vecs[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
    near = np.sqrt(d.min(1))
    return {"mean_center_dist": float(near.mean())}


def vector_bounds(spec: VectorSpec) -> dict:
    # a point's distance to its own centroid is spread·chi(dim)
    e = spec.spread * np.sqrt(spec.dim)
    return {"mean_center_dist": (0.9 * e, 1.05 * e)}


LICENSE = (
    "licensed under the apache license version two you may not use this "
    "file except in compliance with the license you may obtain a copy of "
    "the license at http www apache org licenses"
)


@dataclass(frozen=True)
class DedupSpec:
    n_base: int          # ordinary documents
    n_license: int       # exact copies of one license header (the mega cluster)
    n_near_pairs: int    # (original, small edit) pairs
    n_eval: int          # held-out eval documents
    n_contam: int        # training docs that copy a 12-token span of an eval doc
    vocab_size: int = 20_000


def dedup_corpus(seed: int, spec: DedupSpec) -> tuple[pd.DataFrame, dict]:
    """(documents(doc_id, text, lang, is_eval), planted) where ``planted``
    names the ids each dedup stage must find:

    - ``license_ids``: one exact-duplicate cluster of identical headers;
    - ``near_pairs``: (a, b) with b = a after a two-token substitution;
    - ``eval_ids`` / ``contam_ids``: the eval slice, and training docs that
      embed a verbatim 12-token span of an eval doc.
    """
    tspec = TextSpec(n_docs=spec.n_base + spec.n_eval, vocab_size=spec.vocab_size,
                     zipf_s=1.0, tail_share=0.3, min_len=40, max_len=90)
    base, vocab = text_corpus(seed, tspec)
    rng = np.random.default_rng(seed + 1)
    texts = base["text"].tolist()
    eval_texts = texts[spec.n_base:]
    train = texts[: spec.n_base]

    near = []
    src = rng.choice(spec.n_base, size=spec.n_near_pairs, replace=False)
    for a in src:
        toks = train[a].split()
        for pos in rng.choice(len(toks), size=2, replace=False):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        near.append((int(a), " ".join(toks)))

    contam = []
    for j in range(spec.n_contam):
        ev = eval_texts[j % spec.n_eval].split()
        start = int(rng.integers(0, len(ev) - 12))
        host = train[int(rng.integers(0, spec.n_base))].split()
        cut = int(rng.integers(0, len(host)))
        contam.append(" ".join(host[:cut] + ev[start:start + 12] + host[cut:]))

    parts = (train + [t for _, t in near] + contam
             + [LICENSE] * spec.n_license + eval_texts)
    n = len(parts)
    order = rng.permutation(n)  # planted rows scattered over the id space
    ids = np.empty(n, dtype=np.int64)
    ids[order] = np.arange(n, dtype=np.int64)
    off_near = spec.n_base
    off_contam = off_near + spec.n_near_pairs
    off_lic = off_contam + spec.n_contam
    off_eval = off_lic + spec.n_license
    is_eval = np.zeros(n, dtype=bool)
    is_eval[off_eval:] = True
    docs = pd.DataFrame({
        "doc_id": ids,
        "text": parts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), size=n)],
        "is_eval": is_eval,
    }).sort_values("doc_id", ignore_index=True)
    planted = {
        "license_ids": sorted(int(i) for i in ids[off_lic:off_eval]),
        "near_pairs": sorted(
            (min(int(ids[a]), int(ids[off_near + j])), max(int(ids[a]), int(ids[off_near + j])))
            for j, (a, _) in enumerate(near)
        ),
        "contam_ids": sorted(int(i) for i in ids[off_contam:off_lic]),
        "eval_ids": sorted(int(i) for i in ids[off_eval:]),
    }
    return docs, planted
