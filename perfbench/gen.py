"""Seeded input generators. Every input the benchmark hands to the program
is made here from ``--seed``; the same seed gives byte-identical inputs.

Shapes follow FIXTURES.md: d=64 float32 vectors from a Gaussian mixture
with ~5% exact duplicate rows, stored in the reference's binary layout
(two little-endian uint64 words ``count, dimension`` then row-major
float32), and short documents drawn from a fixed word list with planted
near-duplicates that share near-identical embeddings.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

DIM = 64
SPREAD = 4.0       # mixture centre scale, in units of the per-point noise
DUP_FRAC = 0.05    # share of corpus rows overwritten by exact copies
VOCAB = 4000       # words in the fixed document vocabulary
# planted document duplicates: the share of base documents that get one or
# two copies, the share of copies that are exact, the document length range
# in tokens, and the most single-token substitutions in an edited copy
GROUP_FRAC, EXACT_SHARE, MIN_LEN, MAX_LEN, MAX_EDITS = 0.25, 0.3, 40, 70, 2


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose), so adding a draw to one
    input never shifts another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def mixture_centers(seed: int, n_clusters: int) -> np.ndarray:
    return rng_for(seed, "centers").normal(size=(n_clusters, DIM)) * SPREAD


def mixture_draw(rng: np.random.Generator, centers: np.ndarray, n: int,
                 weights: "np.ndarray | None" = None) -> np.ndarray:
    """``n`` float32 points: a cluster per row (``weights`` or uniform),
    plus unit Gaussian noise."""
    k = len(centers)
    cl = rng.choice(k, size=n, p=weights) if weights is not None else rng.integers(0, k, n)
    pts = centers[cl] + rng.normal(size=(n, centers.shape[1]))
    return pts.astype(np.float32)


def with_exact_duplicates(rng: np.random.Generator, X: np.ndarray) -> np.ndarray:
    """Overwrite ``DUP_FRAC`` of the rows with copies of earlier rows."""
    X = X.copy()
    n = len(X)
    n_dup = int(round(DUP_FRAC * n))
    if n_dup == 0 or n < 2:
        return X
    targets = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    for t in targets:
        X[t] = X[rng.integers(0, t)]
    return X


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def write_annb(path: str, X: np.ndarray) -> int:
    """Write ``X`` in the reference's binary vector format; returns bytes."""
    X = np.ascontiguousarray(X, dtype=np.float32)
    with open(path, "wb") as fh:
        fh.write(struct.pack("<QQ", X.shape[0], X.shape[1]))
        fh.write(X.tobytes())
    return 16 + X.nbytes


@dataclass
class AnnInputs:
    corpus: np.ndarray      # (N, d) float32, ids 0..N-1
    queries: np.ndarray     # (Q, d) float32, qids 0..Q-1
    centers: np.ndarray


def ann_inputs(seed: int, n: int, q: int, n_clusters: int) -> AnnInputs:
    centers = mixture_centers(seed, n_clusters)
    corpus = with_exact_duplicates(
        rng_for(seed, "dups"),
        mixture_draw(rng_for(seed, "corpus"), centers, n),
    )
    queries = mixture_draw(rng_for(seed, "queries"), centers, q)
    return AnnInputs(corpus, queries, centers)


# -- documents ---------------------------------------------------------------

_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
_VOWELS = ("a", "e", "i", "o", "u")


def word_list() -> list[str]:
    """A fixed (seed-independent) list of ``VOCAB`` distinct lowercase words."""
    rng = np.random.default_rng(20220101)
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        syl = rng.integers(2, 4)
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(syl)
        )
        words.setdefault(w, None)
    return list(words)


@dataclass
class DocInputs:
    doc_ids: np.ndarray          # (n,) int64
    texts: list[str]
    emb: np.ndarray              # (n, d) float32
    groups: list[list[int]]      # planted duplicate groups (doc ids), size >= 2


def doc_inputs(seed: int, n_base: int) -> DocInputs:
    """``n_base`` random documents; ``GROUP_FRAC`` of them get one or two
    planted copies — a copy is exact with probability ``EXACT_SHARE``,
    else it carries 1..``MAX_EDITS`` single-token substitutions. Copies
    share the base embedding (exact) or a near-identical one (edits). Doc
    ids are a seeded permutation, so duplicates are not adjacent."""
    rng = rng_for(seed, "docs")
    vocab = word_list()
    base_toks = [
        list(rng.choice(len(vocab), size=int(rng.integers(MIN_LEN, MAX_LEN + 1))))
        for _ in range(n_base)
    ]
    base_emb = rng.normal(size=(n_base, DIM))
    base_emb /= np.linalg.norm(base_emb, axis=1, keepdims=True)

    toks: list[list[int]] = []
    embs: list[np.ndarray] = []
    group_of: list[int] = []
    for b in range(n_base):
        toks.append(base_toks[b])
        embs.append(base_emb[b])
        group_of.append(b)
        if rng.random() >= GROUP_FRAC:
            continue
        for _ in range(int(rng.integers(1, 3))):
            t = list(base_toks[b])
            e = base_emb[b]
            if rng.random() >= EXACT_SHARE:
                for _e in range(int(rng.integers(1, MAX_EDITS + 1))):
                    t[int(rng.integers(len(t)))] = int(rng.integers(len(vocab)))
                e = e + rng.normal(size=DIM) * (0.01 / np.sqrt(DIM))
            toks.append(t)
            embs.append(e)
            group_of.append(b)

    n = len(toks)
    perm = rng.permutation(n)  # row i becomes doc id perm[i]
    order = np.argsort(perm)   # doc id j is row order[j]
    texts = [" ".join(vocab[w] for w in toks[i]) for i in order]
    emb = np.stack([embs[i] for i in order]).astype(np.float32)
    members: dict[int, list[int]] = {}
    for i in range(n):
        members.setdefault(group_of[i], []).append(int(perm[i]))
    groups = sorted(sorted(m) for m in members.values() if len(m) > 1)
    return DocInputs(np.arange(n, dtype=np.int64), texts, emb, groups)
