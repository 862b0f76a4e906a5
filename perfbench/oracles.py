"""Output oracles and summary statistics. Everything here is plain Python
and numpy, recomputed independently of the program under test; each check
returns the failures it found so the caller can count them into
``failed`` / ``failed_op_ratio``."""

from __future__ import annotations

import math
import re
import statistics

import numpy as np

# the tokenizer the program's shingling documents (lowercase, split on
# runs of non-alphanumerics, empties dropped)
_SPLIT = re.compile("[^a-z0-9]+")


def shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = [t for t in _SPLIT.split(text.lower()) if t]
    if len(toks) < k:
        return frozenset()
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def l2sq_rows(X: np.ndarray, ids: np.ndarray, q: np.ndarray) -> np.ndarray:
    """float64 squared L2 from ``q`` to rows ``ids`` of ``X``."""
    diff = X[ids].astype(np.float64) - q.astype(np.float64)[None, :]
    return np.einsum("ij,ij->i", diff, diff)


def group_results(rows) -> dict[int, list[tuple[int, int, float]]]:
    """(qid, rank, id, dist) rows -> qid -> [(rank, id, dist)] by rank."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for qid, rank, i, dist in rows:
        out.setdefault(int(qid), []).append((int(rank), int(i), float(dist)))
    for v in out.values():
        v.sort()
    return out


def check_ann(by_qid: dict, queries: np.ndarray, qids, corpus: np.ndarray,
              k: int, rtol: float = 1e-5, atol: float = 1e-4) -> list[str]:
    """One problem string per failing query: it must return exactly ``k``
    distinct ids that exist in ``corpus`` (ids are row numbers), in ranks
    non-decreasing in distance, each ``dist`` equal to the float64 l2sq
    recomputed here."""
    bad = []
    n = len(corpus)
    for qi, qid in enumerate(qids):
        got = by_qid.get(int(qid), [])
        ids = np.array([g[1] for g in got], dtype=np.int64)
        dists = np.array([g[2] for g in got], dtype=np.float64)
        ranks = [g[0] for g in got]
        if len(got) != k:
            bad.append(f"qid {qid}: {len(got)} results, want {k}")
        elif len(set(ranks)) != k:
            bad.append(f"qid {qid}: repeated rank")
        elif len(set(ids.tolist())) != k:
            bad.append(f"qid {qid}: repeated id")
        elif ids.min() < 0 or ids.max() >= n:
            bad.append(f"qid {qid}: id outside the corpus")
        elif np.any(np.diff(dists) < -atol):
            bad.append(f"qid {qid}: distance decreases with rank")
        else:
            ref = l2sq_rows(corpus, ids, queries[qi])
            if not np.allclose(dists, ref, rtol=rtol, atol=atol):
                j = int(np.argmax(np.abs(dists - ref)))
                bad.append(
                    f"qid {qid}: id {ids[j]} dist {dists[j]!r} != l2sq {ref[j]!r}"
                )
    return bad


def exact_kth(queries: np.ndarray, corpus: np.ndarray, k: int,
              block: int = 256) -> np.ndarray:
    """Distance of each query's exact k-th nearest corpus row (float64)."""
    X = corpus.astype(np.float64)
    xx = np.einsum("ij,ij->i", X, X)
    out = np.empty(len(queries))
    for lo in range(0, len(queries), block):
        Q = queries[lo:lo + block].astype(np.float64)
        D = np.einsum("ij,ij->i", Q, Q)[:, None] - 2.0 * Q @ X.T + xx[None, :]
        out[lo:lo + block] = np.partition(D, k - 1, axis=1)[:, k - 1]
    return np.maximum(out, 0.0)


def recall_at_k(by_qid: dict, queries: np.ndarray, qids, corpus: np.ndarray,
                k: int) -> float:
    """ann-benchmarks recall: the share of returned ids whose exact distance
    is within the exact k-th neighbour distance (ties between exact
    duplicates count as hits whichever duplicate is returned)."""
    kth = exact_kth(queries, corpus, k)
    hits = 0
    for qi, qid in enumerate(qids):
        ids = np.array(sorted({g[1] for g in by_qid.get(int(qid), [])
                               if 0 <= g[1] < len(corpus)}), dtype=np.int64)
        if len(ids) == 0:
            continue
        d = l2sq_rows(corpus, ids, queries[qi])
        hits += min(k, int(np.sum(d <= kth[qi] + 1e-6 * (1.0 + kth[qi]))))
    return hits / (k * len(qids)) if len(qids) else 0.0


def check_read_your_writes(by_qid: dict, expect: dict[int, int]) -> list[str]:
    """``expect`` maps a query id to the appended row id it equals; that id
    must come back at the best rank."""
    bad = []
    for qid, want in expect.items():
        got = by_qid.get(int(qid), [])
        if not got or got[0][1] != want:
            bad.append(f"qid {qid}: rank 0 is {got[0][1] if got else None}, "
                       f"want appended id {want}")
    return bad


def check_minhash_pairs(pairs, sh: dict[int, frozenset], threshold: float,
                        tol: float = 1e-9) -> list[str]:
    """Every (id_a, id_b, jaccard) pair must be ordered, and its exact
    shingle Jaccard must reach ``threshold`` and match the reported one."""
    bad = []
    for a, b, jac in pairs:
        if not a < b:
            bad.append(f"pair ({a}, {b}) not ordered")
            continue
        j = jaccard(sh[int(a)], sh[int(b)])
        if j < threshold - tol or abs(j - float(jac)) > 1e-6:
            bad.append(f"pair ({a}, {b}): jaccard {j} (reported {jac})")
    return bad


def embedding_pairs_bruteforce(emb: np.ndarray, cos_threshold: float,
                               block: int = 1024) -> set[tuple[int, int]]:
    """All (a, b), a < b, with cosine distance below ``cos_threshold``,
    by blocked float64 GEMM over every pair. Row number = id."""
    V = emb.astype(np.float64)
    nv = np.linalg.norm(V, axis=1)
    nv[nv == 0.0] = 1.0
    Vn = V / nv[:, None]
    out: set[tuple[int, int]] = set()
    for lo in range(0, len(V), block):
        C = 1.0 - Vn[lo:lo + block] @ Vn.T
        rows, cols = np.nonzero(C < cos_threshold)
        for r, c in zip(rows + lo, cols):
            if r < c:
                out.add((int(r), int(c)))
    return out


def check_pair_set(got: set, want: set) -> list[str]:
    bad = [f"missing pair {p}" for p in sorted(want - got)[:5]]
    bad += [f"extra pair {p}" for p in sorted(got - want)[:5]]
    if bad:
        bad.append(f"{len(want - got)} missing, {len(got - want)} extra in total")
    return bad


def keep_set(doc_ids, pairs) -> set[int]:
    """Minimum id of every union-find component over ``pairs``; documents
    in no pair are their own component."""
    parent: dict[int, int] = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d for d in parent if find(d) == d}


def check_keep_set(got_keep: set, doc_ids, pairs) -> list[str]:
    want = keep_set(doc_ids, pairs)
    return check_pair_set(got_keep, want) if got_keep != want else []


def planted_qualifying_pairs(groups, sh: dict[int, frozenset],
                             threshold: float) -> set[tuple[int, int]]:
    """Pairs inside a planted group whose exact Jaccard reaches the
    threshold — the pairs a correct near-dup search should find."""
    out = set()
    for g in groups:
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                if jaccard(sh[a], sh[b]) >= threshold:
                    out.add((min(a, b), max(a, b)))
    return out


# -- summary statistics -------------------------------------------------------

def tail_percentile(samples, min_beyond: int = 10):
    """The highest whole percentile that still has ``min_beyond`` or more
    samples above it (nearest-rank definition), as ``(p, value, n_beyond)``;
    ``None`` when there are too few samples for any such percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1], n - rank


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
