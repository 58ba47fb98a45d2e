"""Reference answers, computed outside the timed region by code that is
not under test: a single-process NumPy dominance check in exact integer
arithmetic (the engine's kernel works in float64 and is never called
here), and the corpus ground truth planted by the generator."""

from __future__ import annotations

import numpy as np


def min_space(pts: np.ndarray, senses: list[str]) -> np.ndarray:
    """Integer matrix where smaller is better in every column."""
    sign = np.array([1 if s == "min" else -1 for s in senses], dtype=np.int64)
    return pts * sign


def skyline_ids(pts: np.ndarray, senses: list[str], ids: np.ndarray) -> np.ndarray:
    """Sorted ids of the rows no other row dominates (at least as good
    in every column, strictly better in one; exact duplicates do not
    dominate each other).

    In integers, ``q`` dominates ``p`` exactly when ``q <= p`` in every
    column and ``sum(q) < sum(p)``. Rows are scanned in ascending sum
    order, so every dominator of a row is met before it: a few pivot
    sweeps drop what the smallest-sum rows dominate, then each block of
    rows is compared with the frontier kept so far."""
    a = min_space(pts, senses)
    s = a.sum(axis=1)
    order = np.argsort(s, kind="stable")
    a, s = a[order], s[order]
    alive = np.ones(len(a), dtype=bool)
    pos = 0
    for _ in range(16):
        while pos < len(a) and not alive[pos]:
            pos += 1
        if pos == len(a):
            break
        alive &= ~((a >= a[pos]).all(axis=1) & (s > s[pos]))
        pos += 1
    rows = np.nonzero(alive)[0]
    a, s = a[rows], s[rows]
    d = a.shape[1]
    keptT = np.empty((d, len(a)), dtype=a.dtype)
    kept_sum = np.empty(len(a), dtype=s.dtype)
    kept_idx = np.empty(len(a), dtype=np.int64)
    k = 0
    block = 256
    for st in range(0, len(a), block):
        C, sC = a[st : st + block], s[st : st + block]
        hi = int(np.searchsorted(kept_sum[:k], sC[-1], side="left"))
        dom = np.zeros(len(C), dtype=bool)
        if hi:
            le = kept_sum[None, :hi] < sC[:, None]
            tmp = np.empty_like(le)
            for j in range(d):
                np.less_equal(keptT[j, None, :hi], C[:, j, None], out=tmp)
                le &= tmp
            dom = le.any(axis=1)
        # within the block: a surviving row may dominate a later one
        rest = np.nonzero(~dom)[0]
        if len(rest) > 1:
            B, sB = C[rest], sC[rest]
            le = (B[None, :, :] <= B[:, None, :]).all(axis=2) & (sB[None, :] < sB[:, None])
            rest = rest[~le.any(axis=1)]
        n = len(rest)
        keptT[:, k : k + n] = C[rest].T
        kept_sum[k : k + n] = sC[rest]
        kept_idx[k : k + n] = st + rest
        k += n
    return np.sort(ids[order[rows[kept_idx[:k]]]])


def same_ids(got, want: np.ndarray) -> bool:
    got = np.sort(np.asarray(got, dtype=np.int64))
    return len(got) == len(want) and bool((got == want).all())
