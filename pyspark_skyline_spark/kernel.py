"""Vectorized skyline (Pareto-frontier) kernel.

Pure NumPy — no Spark imports — so it can be unit-tested standalone and
shipped to executors inside ``applyInArrow``/``mapInArrow`` closures,
whose Arrow tables ``_frontier_rows`` filters with no pandas step.

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
   dimension-sum order, equal sums in lexicographic order — in that
   order a later point can never dominate an earlier kept one (a
   dominator has a no larger float sum and, on an equal sum, is
   lexicographically smaller), so the kept set only grows and one pass
   suffices. Candidates go in chunks of at most ``_CHUNK_ROWS``; each
   chunk is screened first against the ``_PREFIX_ROWS`` smallest-sum
   kept rows, the strongest dominators (the pivot pre-prune's idea, per
   chunk), and only its survivors meet the rest of the kept set. Every
   (rows x kept-rows) boolean temporary stays within ``_SCREEN_CELLS``,
   the one memory budget of every dominance screen.

The k-skyband (``find_skyband_counts``, the rows with fewer than k
dominators) runs the same BNL, with a screen that counts dominators
instead of finding one.
"""

from __future__ import annotations

import datetime

import numpy as np

__all__ = ["to_min_space", "find_skyline_mask", "find_skyband_counts", "skyline_of_array"]

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

    Handles numeric dtypes, ``Decimal`` objects, datetime64 (Arrow DATE
    and timestamp columns) and ``datetime.date`` objects (a DATE column
    in pandas), times as microseconds since epoch, exactly representable
    in float64 until year ~2255. A missing time (None/NaT) becomes NaN,
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
    n = len(a)
    mask = np.zeros(n, dtype=bool)
    if n == 0:
        return mask
    order, ssum = _sum_order(a)
    s = a[order]

    alive = np.ones(n, dtype=bool)
    # Pivot pre-prune: the first alive row in ``_sum_order`` is a
    # guaranteed skyline point (any dominator would come earlier and, by
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

    kept, _ = _bnl(s, ssum, np.nonzero(alive)[0], 1, _screen)
    mask[order[kept]] = True
    return mask


def find_skyband_counts(cols, senses, k: int) -> np.ndarray:
    """Dominator count of each row (original row order), exact for the
    rows with fewer than ``k`` dominators, the k-skyband (k = 1 is the
    skyline); every other row reads ``k``. Arguments as in
    ``find_skyline_mask``.

    One BNL pass counts each row against the band rows kept before it
    (``_bnl``). That is exact: every dominator of a band row is itself a
    band row, and a row with a non-band dominator has at least ``k``
    band-row dominators (those of a dominance-minimal non-band
    dominator), so it is dropped."""
    a = _min_matrix(cols, senses)
    out = np.full(len(a), k, dtype=np.int64)
    if len(a) == 0:
        return out
    order, ssum = _sum_order(a)
    kept, cnt = _bnl(a[order], ssum, np.arange(len(a)), k, _count_screen)
    out[order[kept]] = cnt
    return out


def _sum_order(a: np.ndarray):
    """Row order of ``a`` by ascending row sum, rows of equal sum in
    lexicographic order, and the sums in that order. A dominator is
    all-≤ its victim, so its float sum is never larger (rounding is
    monotone) and, on an equal sum, it is lexicographically smaller: in
    this order every dominator comes before its victim. Only the rows
    whose sum ties a neighbour are re-sorted, with one ``np.lexsort``
    over them (a full lexsort costs about 8 argsorts)."""
    sums = a.sum(axis=1)
    order = np.argsort(sums, kind="stable")
    ssum = sums[order]
    same = ssum[1:] == ssum[:-1]
    if same.any():
        tie = np.zeros(len(order), dtype=bool)
        tie[1:] = same
        tie[:-1] |= same
        t = order[tie]
        order[tie] = t[np.lexsort((*a[t].T[::-1], sums[t]))]
    return order, ssum


def _bnl(s, ssum, rows, k, screen):
    """Chunked incremental BNL over the ``rows`` of ``s`` (rows in
    ``_sum_order``, their sums ``ssum``): the positions of the rows with
    fewer than ``k`` dominators among ``rows``, and those counts.
    ``screen`` is ``_screen`` (k = 1, the skyline) or ``_count_screen``.

    In this order a row's dominators all come before it, so the kept set
    only grows: candidates are counted chunk-at-a-time against the kept
    rows (``_screen_tiles``: smallest sums first), then the survivors
    among themselves. A dropped row dominates no survivor (its ``k``
    kept dominators would dominate the survivor too, and drop it), so a
    survivor's count over the kept rows and the chunk's survivors is
    exact. Chunking turns n Python iterations into n/m (the difference
    between 37 s and seconds at d=10 frontiers of ~25k)."""
    d = s.shape[1]
    kept_rows = np.empty((len(rows), d), dtype=np.float64)
    kept_sums = np.empty(len(rows), dtype=np.float64)
    n = 0
    kept_src: list[np.ndarray] = []
    kept_cnt: list[np.ndarray] = []
    pos = 0
    while pos < len(rows):
        m = max(32, min(_CHUNK_ROWS, _SCREEN_CELLS // max(n, 1)))
        chunk = rows[pos : pos + m]
        pos += m
        C = s[chunk]  # (m, d)
        sC = ssum[chunk]
        cnt = _screen_tiles(C, kept_rows[:n], sC, kept_sums[:n], k, screen)
        surv = np.nonzero(cnt < k)[0]
        if len(surv) == 0:
            continue
        Cs, sCs = C[surv], sC[surv]
        cnt = cnt[surv] + _screen_tiles(Cs, Cs, sCs, sCs, k, screen)
        final = cnt < k
        if final.any():
            kept = surv[final]
            kept_rows[n : n + len(kept)] = C[kept]
            kept_sums[n : n + len(kept)] = sC[kept]
            n += len(kept)
            kept_src.append(chunk[kept])
            kept_cnt.append(cnt[final])
    if not kept_src:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(kept_src), np.concatenate(kept_cnt)


def _frontier_rows(t, dim_cols, senses, rank=None):
    """The rows of the Arrow table ``t`` on its skyline over the
    columns ``dim_cols``: the one kernel call of every Python pass of
    the batch operator. Rows are kept with ``t.filter``, so every
    carried column comes back as it went in.

    With ``rank = (kind, bound, col)``, the rows ranked within
    ``bound`` instead, each with its rank in the long column ``col``:

    * ``("layer", n, col)``: the rows of its first ``n`` skyline layers
      (1 = the skyline, i = the skyline once layers 1..i-1 are removed),
      one ``find_skyline_mask`` call per layer over the rows not yet
      labelled;
    * ``("band", k, col)``: the rows with fewer than ``k`` dominators,
      with that count, from one ``find_skyband_counts`` call."""
    import pyarrow as pa

    cols = [np.asarray(t[c]) for c in dim_cols]
    if rank is None:
        return t.filter(pa.array(find_skyline_mask(cols, senses)))
    kind, bound, col = rank
    if kind == "band":
        value = find_skyband_counts(cols, senses, bound)
        kept = value < bound
    else:
        value = np.zeros(len(t), dtype=np.int64)
        rest = np.arange(len(t))
        for layer in range(1, bound + 1):
            if not len(rest):
                break
            front = find_skyline_mask([c[rest] for c in cols], senses)
            value[rest[front]] = layer
            rest = rest[~front]
        kept = value > 0
    t = t.set_column(t.schema.get_field_index(col), col, pa.array(value, pa.int64()))
    return t.filter(pa.array(kept))


def _dominated_by(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """For each row of C (m, d): is it dominated by any row of K (k, d)
    in min-space? Contract as in ``_screen_tiles``."""
    return _screen_tiles(C, K, sC, sK, 1, _screen) > 0


def _screen_tiles(C, K, sC, sK, cap, screen) -> np.ndarray:
    """For each row of C (m, d): how many rows of K (k, d) dominate it
    in min-space, exact below ``cap``; a row leaves the screen once its
    count reaches ``cap``. ``screen`` is ``_screen`` (does any row of a
    block dominate: a count capped at 1) or ``_count_screen``.

    Requires ``sK`` non-decreasing (K sorted by row sum) and ``sC``/
    ``sK`` computed by the same ``np.sum(axis=1)`` over the same d, so
    that elementwise-≤ rows have monotone sums: a dominator of C[i] can
    only sit at ``sK <= sC[i]``. Identical rows never dominate.

    K is screened in column tiles, smallest sums first. The first tile
    is the ``_PREFIX_ROWS`` smallest-sum rows, the strongest dominators:
    on a large frontier they settle most dominated rows, so only the
    rows still below ``cap`` meet the rest of K, in one tile as wide as
    the budget allows for them. Every tile is screened in row blocks of
    at most ``_SCREEN_CELLS`` pairs.
    """
    m = len(C)
    cnt = np.zeros(m, dtype=np.int64)
    if m == 0:
        return cnt
    k = int(np.searchsorted(sK, sC.max(), side="right"))
    live = np.arange(m)
    lo = 0
    while lo < k and len(live):
        width = _PREFIX_ROWS
        if lo:
            width = max(width, _SCREEN_CELLS // len(live))
        hi = min(k, lo + width)
        step = max(1, _SCREEN_CELLS // (hi - lo))
        for i in range(0, len(live), step):
            b = live[i : i + step]
            cnt[b] += screen(C[b], K[lo:hi], sC[b], sK[lo:hi])
        live = live[cnt[live] < cap]
        lo = hi
    return cnt


def _all_le(C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray):
    """``(le, k)``: ``k`` counts the K rows with a sum up to
    ``sC.max()``, and ``le`` is the (m, k) boolean matrix of the pairs
    where that K row is ≤ the C row in every dimension, built a
    dimension at a time. ``le`` is None when no pair can be all-≤
    (checked after two dimensions)."""
    m, d = C.shape
    k = int(np.searchsorted(sK, sC.max(), side="right"))
    if k == 0:
        return None, 0
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
            return None, k
    return le, k


def _screen(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """``_dominated_by`` for one (C rows x K rows) block: only the
    all-≤ matrix is materialized (``_all_le``); the strictness test
    collapses to a ``searchsorted`` prefix bound plus a tiny equal-sum
    band check."""
    m = len(C)
    le, k = _all_le(C, K, sC, sK)
    if le is None:
        return np.zeros(m, dtype=bool)
    first = le.argmax(axis=1)  # first all-≤ K row (0 when none)
    any_le = le[np.arange(m), first]
    lo = np.searchsorted(sK[:k], sC, side="left")
    dom = any_le & (first < lo)  # strictly-smaller-sum dominator exists
    # Equal-float-sum band: all-≤ + any coordinate difference ⇒ strict
    # somewhere ⇒ dominance. (All-≤ rows beyond the band would need a
    # larger sum, contradicting monotone summation, so none exist.)
    rows, cols = _band_pairs(le, sK[:k], sC, np.nonzero(any_le & ~dom)[0], lo)
    dom[rows[(K[cols] != C[rows]).any(axis=1)]] = True
    return dom


def _count_screen(
    C: np.ndarray, K: np.ndarray, sC: np.ndarray, sK: np.ndarray
) -> np.ndarray:
    """``_screen``'s count twin: for each C row, the number of rows of
    the block that dominate it. An all-≤ K row dominates unless it is
    identical (all-≤ rows beyond the equal-sum band would need a larger
    sum), and identical rows share the sum, so the count is the all-≤
    count less the identical rows of the band."""
    m = len(C)
    le, k = _all_le(C, K, sC, sK)
    if le is None:
        return np.zeros(m, dtype=np.int64)
    cnt = np.count_nonzero(le, axis=1)
    lo = np.searchsorted(sK[:k], sC, side="left")
    rows, cols = _band_pairs(le, sK[:k], sC, np.nonzero(cnt)[0], lo)
    same = ~(K[cols] != C[rows]).any(axis=1)
    return cnt - np.bincount(rows[same], minlength=m)


def _band_pairs(le, sK, sC, band, lo):
    """``(rows, cols)`` of the all-≤ pairs in ``le`` between the
    ``band`` rows of C and the K rows of equal sum, the window
    ``[lo, hi)`` of ``sK``. Narrow windows (distinct sums: within a
    chunk each row's window is itself) are enumerated pair by pair;
    wide ones (a constant-sum input puts every row in one window) are
    cut out of ``le`` as one masked block: enumerating costs several
    int64 arrays per pair, the block a few boolean passes per cell,
    hence the factor 8."""
    none = np.empty(0, dtype=np.int64)
    if not len(band):
        return none, none
    b_lo = lo[band]
    b_hi = np.searchsorted(sK, sC[band], side="right")
    cnt = b_hi - b_lo
    total = int(cnt.sum())
    if not total:
        return none, none
    c0, c1 = int(b_lo.min()), int(b_hi.max())
    if total * 8 < len(band) * (c1 - c0):
        rows = np.repeat(band, cnt)
        ends = np.cumsum(cnt)
        cols = np.arange(total) - np.repeat(ends - cnt - b_lo, cnt)
        keep = le[rows, cols]
        return rows[keep], cols[keep]
    span = np.arange(c0, c1)
    win = le[band, c0:c1]  # a copy: masked in place below
    win &= span >= b_lo[:, None]
    win &= span < b_hi[:, None]
    r, cols = np.nonzero(win)
    return band[r], cols + c0


def skyline_of_array(cols, senses) -> np.ndarray:
    """Return the (n_skyline, d) min-space matrix of skyline rows
    (mainly for tests)."""
    a = _min_matrix(cols, senses)
    return a[find_skyline_mask(cols, senses)]
