"""Vectorized skyline (Pareto-frontier) kernel.

Pure NumPy — no Spark imports — so it can be unit-tested standalone and
shipped to executors inside ``applyInPandas`` closures.

Semantics mirror the reference's dominance test and block-nested-loop
(reference: src/utils/functions.py:6-27 ``is_dominated`` and
src/utils/functions.py:29-54 ``find_skyline``):

* point ``p`` is dominated by ``q`` iff ``q`` is at-least-as-good in
  EVERY dimension and strictly better in AT LEAST ONE (per-dimension
  MIN/MAX senses);
* a point equal to ``p`` in all dimensions does NOT dominate it — exact
  duplicates are all kept by the kernel (the reference collapses them
  because its skyline is a ``set`` of tuples; callers that want that
  behavior apply ``dropDuplicates``/``DISTINCT`` on top).

The implementation is not a straight translation: instead of the
reference's tuple-at-a-time Python loop, we

1. map all dimensions into "min-space" (negate MAX dims) as one float64
   matrix,
2. pre-prune with a few pivot passes (each pivot is a guaranteed
   skyline point; everything it dominates dies in one vectorized sweep),
3. run a single-pass incremental BNL over the survivors in ascending
   dimension-sum order — in that order a later point can never dominate
   an earlier kept one (dominance implies a strictly smaller sum), so
   the kept set only grows and one pass suffices. Candidates go in
   chunks of at most ``_CHUNK_ROWS``; each chunk is screened first
   against the ``_PREFIX_ROWS`` smallest-sum kept rows, the strongest
   dominators (the pivot pre-prune's idea, per chunk), and only its
   survivors meet the rest of the kept set. Every (rows x kept-rows)
   boolean temporary stays within ``_SCREEN_CELLS``, the one memory
   budget of every caller of ``_dominated_by``.
"""

from __future__ import annotations

import datetime

import numpy as np

__all__ = ["to_min_space", "find_skyline_mask", "skyline_of_array"]

#: senses accepted for each dimension
MIN, MAX = "min", "max"

#: cells (bytes) of the largest (rows x K-rows) boolean temporary in the
#: dominance screen, the one memory budget of every caller: about 1 MiB
#: stays in a core's L2. Measured on a 4-vCPU host (8 MiB L2 total),
#: median of three kernel runs at 256K / 1M / 4M cells: anticorrelated
#: d = 6, 3e4 rows 0.58 / 0.48 / 0.47 s; all-frontier sphere d = 3,
#: 3e4 rows 1.02 / 0.80 / 0.63 s; sphere d = 10, 65536 rows
#: 9.7 / 9.4 / 11.7 s (``AB_kernel_blocking.json`` "tuning").
_SCREEN_CELLS = 1 << 20
#: K rows, smallest sums first, that the screen checks every row
#: against before the rest of K
_PREFIX_ROWS = 512
#: most candidate rows the BNL screens per step
_CHUNK_ROWS = 512


def to_min_space(values, sense: str) -> np.ndarray:
    """Convert one dimension to float64 "smaller is better" space.

    Handles numeric dtypes, datetime64 and ``datetime.date`` objects
    (how Arrow hands a Spark DATE column to pandas), converted to
    microseconds since epoch, which stays exactly representable in
    float64 until year ~2255. A missing time (None/NaT) becomes NaN,
    like a NULL number. MAX dims are negated.
    """
    arr = np.asarray(values)
    if arr.dtype == object:
        first = next((v for v in arr if v is not None), None)
        if isinstance(first, datetime.date):
            arr = arr.astype("datetime64[us]")
    if np.issubdtype(arr.dtype, np.datetime64):
        nat = np.isnat(arr)
        arr = arr.astype("datetime64[us]").astype(np.int64).astype(np.float64)
        arr[nat] = np.nan
    arr = arr.astype(np.float64, copy=False)
    if sense == MAX:
        arr = -arr
    elif sense != MIN:
        raise ValueError(f"sense must be 'min' or 'max', got {sense!r}")
    return arr


def _min_matrix(cols, senses) -> np.ndarray:
    if len(cols) != len(senses):
        raise ValueError("cols and senses length mismatch")
    return np.column_stack([to_min_space(c, s) for c, s in zip(cols, senses)])


def find_skyline_mask(cols, senses, prune_rounds: int = 8) -> np.ndarray:
    """Boolean keep-mask (original row order) of the skyline.

    Parameters
    ----------
    cols : sequence of 1-D arrays/Series, one per skyline dimension
    senses : sequence of 'min' | 'max', same length as ``cols``
    prune_rounds : pivot pre-prune passes before the BNL (0 disables)
    """
    a = _min_matrix(cols, senses)
    n, d = a.shape
    mask = np.zeros(n, dtype=bool)
    if n == 0:
        return mask

    sums = a.sum(axis=1)
    order = np.argsort(sums, kind="stable")
    s = a[order]  # rows in ascending sum order
    ssum = sums[order]  # non-decreasing; same summation tree as kernels

    alive = np.ones(n, dtype=bool)
    # Pivot pre-prune: the first alive row in sum order is a guaranteed
    # skyline point (any dominator would have a smaller sum and, by
    # transitivity, would have killed this row already). One vectorized
    # sweep removes everything it dominates.
    start = 0
    for _ in range(prune_rounds):
        while start < n and not alive[start]:
            start += 1
        if start >= n:
            break
        p = s[start]
        ge = (s >= p).all(axis=1)
        gt = (s > p).any(axis=1)
        dead = ge & gt
        alive &= ~dead
        start += 1

    # Chunked incremental BNL over survivors, ascending sum order: the
    # kept set only grows (a later point can never dominate an earlier
    # kept one), so candidates are screened chunk-at-a-time against the
    # kept rows (``_dominated_by``: smallest sums first), then pairwise
    # within the chunk. Chunking turns n Python iterations into n/m (the
    # difference between 37 s and seconds at d=10 frontiers of ~25k).
    idx_alive = np.nonzero(alive)[0]
    kept_rows = np.empty((len(idx_alive), d), dtype=np.float64)
    kept_sums = np.empty(len(idx_alive), dtype=np.float64)
    k = 0
    kept_src: list[np.ndarray] = []
    pos = 0
    while pos < len(idx_alive):
        m = max(32, min(_CHUNK_ROWS, _SCREEN_CELLS // max(k, 1)))
        chunk_idx = idx_alive[pos : pos + m]
        pos += m
        C = s[chunk_idx]  # (m, d)
        sC = ssum[chunk_idx]
        dom = _dominated_by(C, kept_rows[:k], sC, kept_sums[:k])
        surv = np.nonzero(~dom)[0]
        if len(surv) == 0:
            continue
        Cs = C[surv]
        sCs = sC[surv]
        # within-chunk pairwise (sound to use surviving chunk rows as
        # dominators: a non-survivor's dominators dominate its victims
        # too, by transitivity, and were already checked above)
        dom2 = _dominated_by(Cs, Cs, sCs, sCs)
        final = surv[~dom2]
        if len(final):
            kept_rows[k : k + len(final)] = C[final]
            kept_sums[k : k + len(final)] = sC[final]
            k += len(final)
            kept_src.append(chunk_idx[final])

    if kept_src:
        mask[order[np.concatenate(kept_src)]] = True
    return mask


def _frontier_rows(pdf, dim_cols, senses, layers=0):
    """The rows of the pandas frame ``pdf`` on its skyline over the
    columns ``dim_cols``: the one kernel call of every Python pass of
    the batch operator.

    With ``layers``, the rows of its first ``layers`` skyline layers
    instead, each labelled in the ``layer`` column (1 = the skyline,
    i = the skyline once layers 1..i-1 are removed): one kernel call
    per layer over the rows not yet labelled."""
    if not layers:
        return pdf[find_skyline_mask([pdf[c] for c in dim_cols], senses)]
    cols = [pdf[c].to_numpy() for c in dim_cols]
    label = np.zeros(len(pdf), dtype=np.int64)
    rest = np.arange(len(pdf))
    for layer in range(1, layers + 1):
        if not len(rest):
            break
        front = find_skyline_mask([c[rest] for c in cols], senses)
        label[rest[front]] = layer
        rest = rest[~front]
    kept = label > 0
    return pdf[kept].assign(layer=label[kept])


def _dominated_by(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """For each row of C (m, d): is it dominated by any row of K (k, d)
    in min-space?

    Requires ``sK`` non-decreasing (K sorted by row sum) and ``sC``/
    ``sK`` computed by the same ``np.sum(axis=1)`` over the same d, so
    that elementwise-≤ rows have monotone sums: a dominator of C[i] can
    only sit at ``sK <= sC[i]``. Identical rows never dominate.

    K is screened in column tiles, smallest sums first. The first tile
    is the ``_PREFIX_ROWS`` smallest-sum rows, the strongest dominators:
    on a large frontier they kill most dominated rows, so only the
    survivors meet the rest of K, in one tile as wide as the budget
    allows for them. Every tile is screened in row blocks of at most
    ``_SCREEN_CELLS`` pairs (``_screen``).
    """
    m = len(C)
    dom = np.zeros(m, dtype=bool)
    if m == 0:
        return dom
    k = int(np.searchsorted(sK, sC.max(), side="right"))
    live = np.arange(m)
    lo = 0
    while lo < k and len(live):
        width = _PREFIX_ROWS
        if lo:
            width = max(width, _SCREEN_CELLS // len(live))
        hi = min(k, lo + width)
        step = max(1, _SCREEN_CELLS // (hi - lo))
        hit = np.concatenate(
            [
                _screen(C[b], K[lo:hi], sC[b], sK[lo:hi])
                for b in (live[i : i + step] for i in range(0, len(live), step))
            ]
        )
        dom[live[hit]] = True
        live = live[~hit]
        lo = hi
    return dom


def _screen(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """``_dominated_by`` for one (C rows x K rows) block: only the
    all-≤ matrix ``le`` is materialized ((m, k) bools, dimension at a
    time); the strictness test collapses to a ``searchsorted`` prefix
    bound plus a tiny equal-sum band check."""
    m, d = C.shape
    k = int(np.searchsorted(sK, sC.max(), side="right"))
    if k == 0:
        return np.zeros(m, dtype=bool)
    # contiguous per-dimension rows: K[:, j] on a C-contiguous (k, d)
    # matrix strides d*8 bytes, so the broadcasted compare would touch a
    # full cache line per element — one transposed copy (k*d*8 bytes)
    # makes the inner loop stream contiguously
    KT = np.ascontiguousarray(K[:k].T)
    le = np.ones((m, k), dtype=bool)
    cmp = np.empty((m, k), dtype=bool)
    for j in range(d):
        np.less_equal(KT[j][None, :], C[:, j][:, None], out=cmp)
        le &= cmp
        if j == 1 and not le.any():
            return np.zeros(m, dtype=bool)
    first = le.argmax(axis=1)  # first all-≤ K row (0 when none)
    any_le = le[np.arange(m), first]
    lo = np.searchsorted(sK[:k], sC, side="left")
    dom = any_le & (first < lo)  # strictly-smaller-sum dominator exists
    # Equal-float-sum band: all-≤ + any coordinate difference ⇒ strict
    # somewhere ⇒ dominance. (All-≤ rows beyond the band would need a
    # larger sum, contradicting monotone summation, so none exist.)
    # Only the pairs that are both all-≤ and inside the row's window reach
    # the coordinate compare. Narrow windows (distinct sums: within a
    # chunk each row's window is itself) are enumerated pair by pair;
    # wide ones (a constant-sum input puts every row in one window) are
    # cut out of ``le`` as one masked block: enumerating costs several
    # int64 arrays per pair, the block a few boolean passes per cell,
    # hence the factor 8.
    band = np.nonzero(any_le & ~dom)[0]
    if len(band):
        b_lo = lo[band]
        b_hi = np.searchsorted(sK[:k], sC[band], side="right")
        cnt = b_hi - b_lo
        total = int(cnt.sum())
        if total:
            c0, c1 = int(b_lo.min()), int(b_hi.max())
            if total * 8 < len(band) * (c1 - c0):
                rows = np.repeat(band, cnt)
                ends = np.cumsum(cnt)
                cols = np.arange(total) - np.repeat(ends - cnt - b_lo, cnt)
                keep = le[rows, cols]
                rows, cols = rows[keep], cols[keep]
            else:
                span = np.arange(c0, c1)
                win = le[band, c0:c1]  # a copy: masked in place below
                win &= span >= b_lo[:, None]
                win &= span < b_hi[:, None]
                r, cols = np.nonzero(win)
                rows, cols = band[r], cols + c0
            hit = (K[cols] != C[rows]).any(axis=1)
            dom[rows[hit]] = True
    return dom


def skyline_of_array(cols, senses) -> np.ndarray:
    """Return the (n_skyline, d) min-space matrix of skyline rows
    (mainly for tests)."""
    a = _min_matrix(cols, senses)
    return a[find_skyline_mask(cols, senses)]
