"""Pure-NumPy kernel tests — no Spark. Semantics contract from SURVEY.md
§2.1 (reference src/utils/functions.py:6-54): ties in a dimension carry
no information; exact duplicates are not dominated; MIN/MAX mix per dim.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyspark_skyline_spark.kernel import (
    _PREFIX_ROWS,
    _SCREEN_CELLS,
    _dominated_by,
    _screen_tiles,
    _count_screen,
    find_skyband_counts,
    find_skyline_mask,
    to_min_space,
)


def brute_force_mask(cols, senses):
    """O(n^2) oracle translated directly from the dominance definition."""
    a = np.column_stack([to_min_space(c, s) for c, s in zip(cols, senses)])
    n = len(a)
    mask = np.ones(n, dtype=bool)
    for i in range(n):
        for j in range(n):
            if (a[j] <= a[i]).all() and (a[j] < a[i]).any():
                mask[i] = False
                break
    return mask


def dominator_counts(C, K):
    """Vectorized O(len(C) * len(K)) oracle: how many rows of K dominate
    each row of C (min-space)? NaN compares false, so a NaN row neither
    dominates nor is dominated."""
    out = np.zeros(len(C), dtype=np.int64)
    for i in range(0, len(C), 256):
        c = C[i : i + 256, None, :]
        le = (K[None] <= c).all(axis=2)
        lt = (K[None] < c).any(axis=2)
        out[i : i + 256] = (le & lt).sum(axis=1)
    return out


def dominated_rows(C, K):
    return dominator_counts(C, K) > 0


def test_empty():
    assert find_skyline_mask([np.array([])], ["min"]).tolist() == []


def test_single_point():
    assert find_skyline_mask([np.array([5]), np.array([7])], ["min", "min"]).tolist() == [True]


def test_simple_2d_min():
    x = np.array([1, 2, 3, 1])
    y = np.array([3, 2, 1, 1])
    # (1,1) dominates (1,3),(2,2),(3,1)? (1,1) vs (1,3): <=, strictly better in y -> dominated.
    mask = find_skyline_mask([x, y], ["min", "min"])
    assert mask.tolist() == [False, False, False, True]


def test_duplicates_kept():
    x = np.array([1, 1, 2])
    y = np.array([1, 1, 2])
    mask = find_skyline_mask([x, y], ["min", "min"])
    assert mask.tolist() == [True, True, False]


def test_incomparable_all_kept():
    x = np.array([1, 2, 3])
    y = np.array([3, 2, 1])
    assert find_skyline_mask([x, y], ["min", "min"]).all()


def test_max_sense():
    x = np.array([1, 2, 3])
    y = np.array([1, 2, 3])
    assert find_skyline_mask([x, y], ["max", "max"]).tolist() == [False, False, True]


def test_mixed_senses():
    x = np.array([1, 3, 1])
    y = np.array([9, 9, 1])
    # min x, max y: (1,9) dominates (1,1); (3,9) incomparable to (1,9)? x worse, y equal -> dominated by (1,9)
    mask = find_skyline_mask([x, y], ["min", "max"])
    assert mask.tolist() == [True, False, False]


def test_datetime_dim():
    ts = np.array(["2020-01-01", "2020-06-01", "2019-01-01"], dtype="datetime64[ns]")
    v = np.array([1.0, 0.5, 2.0])
    # min ts, min v: (2019,2.0) incomparable to others; (2020-06,0.5) vs (2020-01,1.0) incomparable
    mask = find_skyline_mask([ts, v], ["min", "min"])
    assert mask.tolist() == [True, True, True]
    # a Spark DATE column reaches pandas as datetime.date objects
    days = np.array([d.astype(object) for d in ts.astype("datetime64[D]")], dtype=object)
    assert find_skyline_mask([days, v], ["min", "min"]).tolist() == [True, True, True]
    assert find_skyline_mask([days, v], ["max", "min"]).tolist() == [False, True, False]
    # a missing time (NULL DATE as None, NULL TIMESTAMP as NaT) compares
    # like a NaN number, also in the first row, and dominates nothing
    v0 = np.concatenate([[0.1], v])
    for missing in (np.array([None, *days], dtype=object), np.concatenate([[np.datetime64("NaT")], ts])):
        assert find_skyline_mask([missing, v0], ["min", "min"]).tolist() == [True] * 4
        assert find_skyline_mask([missing, v0], ["max", "min"]).tolist() == [True, False, True, False]


@given(
    data=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 50), st.integers(0, 50)),
        min_size=0,
        max_size=120,
    ),
    senses=st.tuples(
        st.sampled_from(["min", "max"]),
        st.sampled_from(["min", "max"]),
        st.sampled_from(["min", "max"]),
    ),
)
@settings(max_examples=200, deadline=None)
def test_matches_bruteforce(data, senses):
    if not data:
        return
    arr = np.array(data)
    cols = [arr[:, i] for i in range(3)]
    got = find_skyline_mask(cols, list(senses))
    want = brute_force_mask(cols, list(senses))
    assert got.tolist() == want.tolist()


@given(
    parts=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40), st.integers(0, 3)),
        min_size=1,
        max_size=150,
    ),
    d=st.sampled_from([2, 3, 6]),
    senses=st.lists(st.sampled_from(["min", "max"]), min_size=6, max_size=6),
)
@settings(max_examples=150, deadline=None)
def test_constant_sum_matches_bruteforce(parts, d, senses):
    # a budget split: every row's coordinates sum to the same C, so all
    # rows share one equal-sum window; a few rows get +1 in one
    # coordinate (dominated by their split) and duplicates are likely
    C = 100
    rows = []
    for a, b, bump in parts:
        row = [a, b] + [0] * (d - 2)
        row[d - 1] += C - sum(row)
        if bump:
            row[bump % d] += 1
        rows.append(row)
    arr = np.array(rows, dtype=float)
    cols = [arr[:, i] for i in range(d)]
    got = find_skyline_mask(cols, senses[:d])
    assert got.tolist() == brute_force_mask(cols, senses[:d]).tolist()


@pytest.mark.parametrize("rounds", [0, 8])
@pytest.mark.parametrize("extra", [0, 20, "later_chunk"])
def test_equal_float_sum_still_dominates(rounds, extra):
    if extra == "later_chunk":
        # every row's x + y rounds to 2**53. The first row, (2**53, 1),
        # is dominated only by the last, (2**53, 0); the 599 rows between
        # are incomparable to both and to each other. In input order the
        # dominator falls into a later BNL chunk than its victim; the
        # kernel must put it first
        big = 2.0**53
        arr = np.array([[big, 1.0]] + [[big - 8 * i, 8.0 * i] for i in range(1, 600)] + [[big, 0.0]])
        mask = find_skyline_mask([arr[:, 0], arr[:, 1]], ["min"] * 2, prune_rounds=rounds)
        assert mask.tolist() == [False] + [True] * 600
        assert find_skyband_counts([arr[:, 0], arr[:, 1]], ["min"] * 2, 2).tolist() == [1] + [0] * 600
        return
    # the first two rows' sums round to the same float, yet the first
    # dominates the second by 4e-17 in one coordinate; without pivot
    # rounds only the equal-sum band check can find that. The `extra`
    # rows are incomparable to everything and have distinct sums, so the
    # band's windows turn narrow and its pair-by-pair branch runs (with
    # none, the three rows share one window and the masked block runs)
    arr = np.array([[0.1, 0.2, 0.3], [0.1, 0.2, 0.30000000000000004], [0.3, 0.2, 0.1]])
    arr = np.vstack([arr] + [[[10.0 + k, -10.0 - 2 * k, 5.0]] for k in range(extra)])
    mask = find_skyline_mask([arr[:, i] for i in range(3)], ["min"] * 3, prune_rounds=rounds)
    assert mask.tolist() == [True, False, True] + [True] * extra


@given(
    data=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=80)
)
@settings(max_examples=100, deadline=None)
def test_idempotent_and_sound(data):
    arr = np.array(data)
    cols = [arr[:, 0], arr[:, 1]]
    senses = ["min", "min"]
    mask = find_skyline_mask(cols, senses)
    sky = arr[mask]
    # idempotence
    mask2 = find_skyline_mask([sky[:, 0], sky[:, 1]], senses)
    assert mask2.all()
    # completeness: every excluded row dominated by some skyline row
    for row in arr[~mask]:
        dominated = ((sky <= row).all(axis=1) & (sky < row).any(axis=1)).any()
        assert dominated


@pytest.mark.parametrize("rounds", [0, 1, 8])
def test_prune_rounds_equivalent(rounds):
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 1000, size=(500, 4))
    cols = [arr[:, i] for i in range(4)]
    senses = ["min", "max", "min", "max"]
    base = find_skyline_mask(cols, senses, prune_rounds=8)
    assert find_skyline_mask(cols, senses, prune_rounds=rounds).tolist() == base.tolist()


def _large_input(kind, rng):
    """An input of 1500-5000 rows whose frontier is larger than the
    screen's K prefix, on a coarse grid so coordinates tie, with exact
    duplicates and NaN rows mixed in."""
    if kind == "anticorrelated":
        n, d = 4000, 4
        energy = rng.normal(0.5, 0.05, size=n).clip(0.0, 1.0)
        pts = rng.dirichlet(np.ones(d), size=n) * (energy[:, None] * d)
        a = np.round(pts * 400)
    elif kind == "sphere":
        n, d = 2500, 3
        x = np.abs(rng.normal(size=(n, d)))
        a = np.round(x / np.linalg.norm(x, axis=1, keepdims=True) * 1000)
    else:  # constant sum: every row in one equal-sum window
        n, d = 1500, 3
        a = rng.multinomial(60, np.ones(d) / d, size=n).astype(float)
        a[rng.choice(n, 100, replace=False)] += 1.0  # dominated by a split
    a = np.vstack([a, a[rng.choice(len(a), len(a) // 20, replace=False)]])
    a[rng.choice(len(a), 15, replace=False), rng.integers(0, d, size=15)] = np.nan
    return a[rng.permutation(len(a))]


@pytest.mark.parametrize("rounds", [0, 8])
@pytest.mark.parametrize("kind", ["anticorrelated", "sphere", "constant_sum"])
def test_large_inputs_match_vectorized_bruteforce(kind, rounds):
    # the kept set outgrows the screen's prefix and the BNL crosses
    # several chunk boundaries, which the small inputs above never reach
    rng = np.random.default_rng(11)
    a = _large_input(kind, rng)
    d = a.shape[1]
    senses = ["min", "max"] * (d // 2) + ["min"] * (d % 2)
    # a MAX dim holds the negated values, so the min-space shape (and
    # the frontier's size) is the same as with every dim MIN
    cols = [a[:, j] if s == "min" else -a[:, j] for j, s in enumerate(senses)]
    want = ~dominated_rows(a, a)
    assert want.sum() > _PREFIX_ROWS
    got = find_skyline_mask(cols, senses, prune_rounds=rounds)
    assert got.tolist() == want.tolist()


_BIG_K = _PREFIX_ROWS + _SCREEN_CELLS // 2000 + 700


@pytest.mark.parametrize("k", [_PREFIX_ROWS - 1, _PREFIX_ROWS, _PREFIX_ROWS + 1, _BIG_K])
def test_dominated_by_across_prefix_and_tiles(k):
    # K: mutually incomparable points (positive sphere orthant), sorted
    # by sum as the screen requires. Each probe row is built from one K
    # row, the last ones included, so some rows' only dominator sits
    # past the prefix (or past the first rest tile at _BIG_K)
    rng = np.random.default_rng(k)
    x = np.abs(rng.normal(size=(k, 3)))
    K = x / np.linalg.norm(x, axis=1, keepdims=True)
    K = K[np.argsort(K.sum(axis=1), kind="stable")]
    src = np.concatenate([np.arange(k - 5, k), rng.integers(0, k, size=2000)])
    eps = np.zeros(3)
    eps[0] = 1e-9
    C = np.vstack(
        [
            K[src] + eps,  # dominated by its source row only
            K[src[:200]],  # exact copies: never dominated
            K[src[:200]] - eps,  # better than its source: not dominated
            K[src[:100]] * 1.01,  # dominated by its source row and more
            [[np.nan, 0.0, 0.0]],
        ]
    )
    C = C[rng.permutation(len(C))]
    got = _dominated_by(C, K, C.sum(axis=1), K.sum(axis=1))
    want = dominated_rows(C, K)
    assert got.tolist() == want.tolist()
    # the rows dominated only by the last K row are found
    last = K[-1] + eps
    assert _dominated_by(last[None], K, last[None].sum(axis=1), K.sum(axis=1)).tolist() == [True]
    # the count screen over the same tiles: exact below its cap, at
    # least the cap above it
    want = dominator_counts(C, K)
    for cap in (1, 2, len(K) + 1):
        got = _screen_tiles(C, K, C.sum(axis=1), K.sum(axis=1), cap, _count_screen)
        assert (got[want < cap] == want[want < cap]).all()
        assert (got[want >= cap] >= cap).all()


def brute_band_counts(a, k):
    """Each row's dominator count among the rows of ``a``, read as ``k``
    from ``k`` on (``find_skyband_counts``' contract)."""
    return np.minimum(dominator_counts(a, a), k)


@given(
    data=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=150,
    ),
    senses=st.lists(st.sampled_from(["min", "max"]), min_size=3, max_size=3),
    k=st.integers(1, 6),
    nan=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_skyband_counts_match_bruteforce(data, senses, k, nan):
    # a 7-value domain: ties, exact duplicates and equal sums abound
    arr = np.array(data, dtype=float)
    if nan:
        arr[0, 1] = np.nan
    cols = [arr[:, j] for j in range(3)]
    got = find_skyband_counts(cols, senses, k)
    a = np.column_stack([to_min_space(c, s) for c, s in zip(cols, senses)])
    assert got.tolist() == brute_band_counts(a, k).tolist()
    if k == 1:
        assert (got < 1).tolist() == find_skyline_mask(cols, senses).tolist()


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.parametrize("kind", ["anticorrelated", "sphere", "constant_sum"])
def test_skyband_counts_large_inputs(kind, k):
    # the band outgrows the screen's prefix and the BNL crosses several
    # chunk boundaries; NaN rows count 0 and are never counted
    a = _large_input(kind, np.random.default_rng(11))
    got = find_skyband_counts([a[:, j] for j in range(a.shape[1])], ["min"] * a.shape[1], k)
    assert got.tolist() == brute_band_counts(a, k).tolist()
    assert (got < k).sum() > _PREFIX_ROWS
