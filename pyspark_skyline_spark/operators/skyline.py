"""Distributed skyline (Pareto frontier) over arbitrary Spark DataFrames.

Capability parity with the reference's three MapReduce partitioning
schemes — MR_DIM, MR_GRID (with dominated-cell pruning), MR_ANGLE
(reference: src/utils/functions.py:57-300, src/jobs/batch_job.py:99-122)
— but architected Spark-first instead of translated:

* partition keys are native Column expressions (``floor``/``least``/
  ``atan``/``sqrt``), never Python UDFs (reference uses row-wise UDFs,
  src/jobs/batch_job.py:37-76);
* per-dimension bounds are data-driven (one ``agg(min,max)`` pass)
  instead of the reference's constant global domain
  (src/config/configurations.py:17-18), so skewed data still partitions
  evenly;
* MAX dimensions are reflected into min-space before the angular
  transform, lifting the reference's MIN-only MR_ANGLE restriction
  (src/utils/functions.py:327-329);
* MR_GRID's dominated-cell prune is a driver-precomputed surviving-cell
  broadcast semi-join (pure Catalyst, no UDF) — and unlike the
  reference's best-corner rule (README.md:54-57), it only prunes cells
  strictly dominated by a NONEMPTY cell, which is the sound
  generalization once bounds are data-driven (see ``_grid_prune_grouped``);
* local skylines run as a NumPy kernel in ``applyInArrow`` (Arrow
  tables in, filtered Arrow tables out, spillable groups) instead of
  ``collect_list`` + row UDF (src/jobs/batch_job.py:128-134);
* the final merge is a fan-in tree of ``applyInArrow`` passes instead
  of the reference's single global reduce task — its documented
  scalability wall (report p.3; SURVEY.md §4.3). Small inputs, where
  the partitioned plan's fixed costs would exceed the kernel work, skip
  it: up to ``_ANTIJOIN_MAX`` rows run as one codegen'd NOT-EXISTS
  anti-join, up to ``_SINGLE_TASK_ROWS`` as one kernel task. The batch
  operator, grouped or not, and the streaming state share this one size
  policy.

Results are plain DataFrames preserving the full input row (the
reference only returns the coordinate struct).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from pyspark_skyline_spark.kernel import _dominated_by, _frontier_rows, _min_matrix
from pyspark_skyline_spark.parser import parse_skyline_query

__all__ = ["skyline", "skyline_sql", "skyline_antijoin", "skyline_layers", "skyline_witness", "representative_skyline", "windowed_skyline", "warm_up", "ALGORITHMS"]

ALGORITHMS = ("MR_DIM", "MR_GRID", "MR_ANGLE", "auto")

_CELL = "__sky_cell"

# The merge policy of ``skyline()`` (see its docstring), in one place:
#: tree-merge fan-in (one fold pass up to 256 cells, two up to 65536,
#: ...; local frontiers are small, so a wide fan-in saves whole passes)
_MERGE_FANOUT = 256
#: candidate counts in (_BROADCAST_MIN, _BROADCAST_CAP] take the
#: parallel broadcast filter; past the cap they are never collected
_BROADCAST_MIN = 8192
_BROADCAST_CAP = 2_000_000
#: estimated input size past which the map-side combiner runs and the
#: merge probe runs at any d
_LARGE_INPUT_BYTES = 4 * 1024**3
#: comparable-row count up to which a query that ``skyline()`` plans on
#: its own runs as one kernel call in one Python task. Measured on a
#: 4-vCPU host, warm, wall seconds, partitioned plan -> one task:
#: * all-frontier input (points on the positive orthant of a sphere: no
#:   point dominates another, coordinate sums distinct): one task is
#:   faster at every size measured, 16384 to 131072 rows at ``local[4]``
#:   with d = 3 and 6 (d=6: 32768 rows 4.2 -> 2.9, 131072 rows
#:   27.2 -> 25.0), 30000 and 65536 rows at ``local[2]`` with d = 3 to 10
#:   (d=6, 65536 rows: 15.3 -> 10.1);
#: * anticorrelated input, d = 6: the plans meet between 131072 rows
#:   (local[4] 3.9 -> 4.0, local[2] 4.8 -> 4.1) and 262144 rows, where
#:   the partitioned plan wins (local[4] 8.4 -> 9.6, local[2] 7.8 -> 9.4).
#: One task used less CPU time in every run. The cap is a quarter of
#: the smallest size where the plans met; hosts with more than four
#: cores are unmeasured. These numbers were measured with the previous
#: kernel (4096-row chunks, no prefix screen), which made both plans'
#: kernel work slower; the cap is kept.
_SINGLE_TASK_ROWS = 32768
#: comparable-row count up to which a query that ``skyline()`` plans on
#: its own runs as ONE codegen'd NOT-EXISTS broadcast-NL anti-join
#: (``_antijoin``), with no Python task at all: below this size a
#: Python task costs more than the join. Measured on a 4-vCPU host,
#: ``local[2]``, warm, median process-tree CPU seconds of three runs
#: per shape, anti-join -> one task:
#: * uniform input, d = 3 and 6: the anti-join used no more CPU at
#:   2048, 4096 and 8192 rows (d=6, 8192 rows: 0.89 -> 0.90);
#: * all-frontier input (sphere, as above): the anti-join used less or
#:   equal CPU up to 4096 rows (d=3 0.78 -> 0.78, d=6 0.94 -> 1.09),
#:   but MORE at 8192 (d=3 1.59 -> 0.99, d=6 1.83 -> 1.36): its
#:   O(n²) comparisons have no early exit when nothing is dominated.
#: So the cap is 4096, the largest size where one task did not win.
#: Measured with the previous kernel (4096-row chunks, no prefix
#: screen); the re-check with the current one is in
#: ``AB_kernel_blocking.json`` "antijoin_recheck".
_ANTIJOIN_MAX = 4096

# Make our kernel module picklable by value so Arrow UDF closures run
# on executors that don't have the package on their PYTHONPATH.
try:  # pragma: no cover - defensive
    from pyspark import cloudpickle as _cp  # type: ignore[attr-defined]
except ImportError:  # pragma: no cover
    try:
        from pyspark.serializers import cloudpickle as _cp  # type: ignore
    except ImportError:
        import cloudpickle as _cp  # type: ignore
try:  # pragma: no cover
    import pyspark_skyline_spark.kernel as _kernel_mod

    _cp.register_pickle_by_value(_kernel_mod)
except Exception:  # pragma: no cover - older cloudpickle: rely on PYTHONPATH
    pass


def _normalize_dims(dims) -> list[tuple[str, str]]:
    if isinstance(dims, str):
        return parse_skyline_query(dims)
    out = []
    for item in dims:
        col, sense = item
        sense = sense.lower()
        if sense not in ("min", "max"):
            raise ValueError(f"sense must be min/max, got {sense!r}")
        out.append((col, sense))
    if not out:
        raise ValueError("need at least one skyline dimension")
    return out


def _numeric_expr(df: DataFrame, col: str):
    """Dimension as a double Column. Timestamps become microseconds since
    epoch, dates become day numbers; everything else casts directly."""
    dtype = df.schema[col].dataType.typeName()
    c = F.col(col)
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    if dtype == "date":
        return F.datediff(c, F.to_date(F.lit("1970-01-01"))).cast("double")
    return c.cast("double")


def _has_values(df: DataFrame, dims):
    """Column predicate: the row has a value in every skyline dimension.
    NULL dims fail it (SQL NOT EXISTS oracle semantics), and so do NaN
    dims — IEEE comparisons make NaN rows incomparable (the kernel would
    keep every one of them), Spark orders NaN above every value, and
    engines disagree on NaN ordering, so the only portable semantics is
    "no value, no row". Also the one missing-column check."""
    guards = []
    for c, _ in dims:
        if c not in df.columns:
            raise ValueError(f"skyline dimension {c!r} not in DataFrame columns {df.columns}")
        guards.append(f"`{c}` IS NOT NULL")
        if df.schema[c].dataType.typeName() in ("double", "float"):
            guards.append(f"NOT isnan(`{c}`)")
    return F.expr(" AND ".join(guards))


def _comparable(df: DataFrame, dims) -> DataFrame:
    """The rows of ``df`` that pass ``_has_values``. Every batch
    operator of the skyline family filters through here, and
    ``skyline_witness`` gives the other rows a NULL witness."""
    return df.filter(_has_values(df, dims))


def _dominates(q_cols, p_cols, senses):
    """Column predicate: the row of ``q_cols`` dominates the row of
    ``p_cols`` — no worse in every dimension, strictly better in one."""
    no_worse = strictly_better = None
    for qc, pc, sense in zip(q_cols, p_cols, senses):
        nw = (qc <= pc) if sense == "min" else (qc >= pc)
        sb = (qc < pc) if sense == "min" else (qc > pc)
        no_worse = nw if no_worse is None else (no_worse & nw)
        strictly_better = sb if strictly_better is None else (strictly_better | sb)
    return no_worse & strictly_better


def _compute_bounds(df: DataFrame, dims) -> dict[str, tuple[float, float]]:
    """One aggregate pass for per-dimension (lo, hi) as doubles.

    Data-driven replacement for the reference's fixed [0, 1e9] domain
    (src/config/configurations.py:17-18).
    """
    aggs = []
    for c, _ in dims:
        x = _numeric_expr(df, c)
        aggs.append(F.min(x).alias(f"__lo_{c}"))
        aggs.append(F.max(x).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c, _ in dims}


def _minspace_exprs(df, dims, bounds):
    """Normalized [0,1] min-space value per dimension (native exprs).

    MIN dim -> (x-lo)/(hi-lo); MAX dim -> (hi-x)/(hi-lo). Degenerate
    (lo==hi or unknown) dims collapse to 0.0.
    """
    exprs = []
    for c, sense in dims:
        lo, hi = bounds[c]
        if lo is None or hi is None or not (hi > lo):
            exprs.append(F.lit(0.0))
            continue
        x = _numeric_expr(df, c)
        num = (x - F.lit(float(lo))) if sense == "min" else (F.lit(float(hi)) - x)
        exprs.append(num / F.lit(float(hi - lo)))
    return exprs


def _bucket(v, p: int):
    """Equi-width bucket of a [0,1] value into [0, p)."""
    return F.least(F.floor(v * F.lit(float(p))), F.lit(p - 1)).cast("long")


def _mr_dim_key(vs, p: int):
    """MR-DIM: bucket the first dimension (reference functions.py:57-73,
    including the clamp of the domain max into the last bucket —
    ``least`` handles that here)."""
    return _bucket(vs[0], p), p


def _mr_grid_key(vs, b: int):
    """MR-GRID packed cell id: per-dim min-space buckets, base-b packed
    (reference functions.py:76-135) as a native expression."""
    digits = [_bucket(v, b) for v in vs]
    key = digits[0]
    for i, dig in enumerate(digits[1:], start=1):
        key = key + dig * F.lit(b**i)
    return key, b ** len(vs)


def _surviving_cell_ids(cells: list[int], b: int, d: int) -> list[int]:
    """Cell ids NOT strictly dominated by any other id in ``cells``
    (digit-wise strict domination in min-space; see ``_grid_prune_grouped``)."""
    import numpy as np

    # NULL cell ids (a NULL dimension value yields a NULL key) are not
    # comparable to any cell; callers must keep those rows unpruned
    cells = [c for c in cells if c is not None]
    if not cells:
        return []
    ids = np.asarray(cells, dtype=np.int64)
    digits = np.column_stack([ids // b**i % b for i in range(d)])
    survivors = []
    for idx, cid in enumerate(ids):
        dominated = ((digits < digits[idx]).all(axis=1)).any()
        if not dominated:
            survivors.append(int(cid))
    return survivors


def _grid_prune_grouped(
    keyed: DataFrame, b: int, d: int, by: list[str], max_census: int = 65536
) -> DataFrame:
    """MR_GRID's sound dominated-cell prune, per ``by`` group (one
    group when ``by`` is empty): a cell is eliminated only if some
    NONEMPTY cell of its group strictly cell-dominates it (every digit
    strictly smaller in min-space — bucket ranges are disjoint half-open
    intervals, so cell-level strict dominance implies point-level
    dominance by an existing point).

    The reference prunes against the best CORNER cell unconditionally
    (functions.py:138-192, README.md:54-57) — unsound when that corner
    holds no data, which its fixed uniform [0,1e9] domain hid and our
    data-driven bounds expose.

    The census is the distinct (by..., cell) set, survivors are computed
    per group on the driver, and the filter is a broadcast LEFT SEMI
    join on (by..., cell). The census grows with the cell and group
    counts, so it is only collected when it fits under ``max_census``
    rows (checked with a ``limit(n+1)`` probe, never an unbounded
    collect); past the cap the prune is skipped — correct either way,
    pruning is an optimization.
    """
    from collections import defaultdict

    census = keyed.select(*by, _CELL).distinct()
    rows = census.limit(max_census + 1).collect()
    if len(rows) > max_census:
        return keyed
    groups: dict[tuple, list[int]] = defaultdict(list)
    for r in rows:
        groups[tuple(r[c] for c in by)].append(r[_CELL])
    surviving = [
        (*g, cid)
        for g, cells in groups.items()
        for cid in _surviving_cell_ids(cells, b, d)
    ]
    # NULL cell ids are incomparable (NULL dim values): always keep them
    surviving += [
        (*g, None) for g, cells in groups.items() if any(c is None for c in cells)
    ]
    if len(surviving) == len(rows):
        return keyed  # nothing pruned; skip the join
    surv_df = keyed.sparkSession.createDataFrame(surviving, schema=census.schema)
    # null-safe equality: groupBy keeps a NULL group, and a plain equi
    # semi-join would silently drop every row of a NULL-keyed group
    # (NULL = NULL is never true); cell ids can be NULL too when a
    # dimension value is NULL, so the cell term is null-safe as well
    cond = None
    for c in [*by, _CELL]:
        piece = keyed[c].eqNullSafe(surv_df[c])
        cond = piece if cond is None else cond & piece
    return keyed.join(F.broadcast(surv_df), on=cond, how="left_semi")


def _mr_angle_key(vs, p: int):
    """MR-ANGLE: bucket d-1 hyperspherical angles of the min-space
    vector (reference functions.py:223-300). phi_i = atan(||tail|| / v_i)
    over [0, pi/2], v_i == 0 -> last bucket (reference's 90-degree clamp,
    functions.py:289-291). Works for MAX dims too because reflection
    already mapped them to min-space."""
    d = len(vs)
    half_pi = math.pi / 2.0
    key = F.lit(0).cast("long")
    for i in range(d - 1):
        tail = None
        for v in vs[i + 1 :]:
            sq = v * v
            tail = sq if tail is None else tail + sq
        phi = F.atan(F.sqrt(tail) / vs[i])
        bucket = F.when(vs[i] == 0.0, F.lit(p - 1)).otherwise(
            F.least(F.floor(phi / F.lit(half_pi) * F.lit(float(p))), F.lit(p - 1))
        ).cast("long")
        key = key + bucket * F.lit(p**i)
    return key, p ** (d - 1)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (parquet footer stats when
    available); the one size input of ``skyline()``'s merge policy.
    0 when the estimate fails; a plan without statistics (e.g. a frame
    built from local rows) estimates as Long.MaxValue, i.e. large."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - estimation is best-effort
        return 0


def _pick_algo(algo: str, d: int) -> str:
    if algo != "auto":
        return algo
    # Report p.3: angular partitioning is the only scheme whose local
    # skylines stay small as d grows; low d is cheap either way.
    return "MR_ANGLE" if d >= 3 else "MR_DIM"


def _default_param(algo: str, d: int, parallelism: int) -> int:
    target = max(2, parallelism) * 4  # a few cells per core for balance
    if algo == "MR_DIM":
        return min(target, 4096)
    if algo == "MR_GRID":
        b = 2
        while b**d - (b - 1) ** d < target and b**d < 2**31 and b < 64:
            b += 1
        return b
    if algo == "MR_ANGLE":
        if d == 1:
            return 1
        return max(2, math.ceil(target ** (1.0 / (d - 1))))
    raise ValueError(f"unknown algorithm {algo!r}")


def _local_skyline_pass(df_keyed: DataFrame, dim_cols, senses, by=(), rank=None):
    """One per-(by + cell) skyline pass (``_frontier_rows``, with
    ``rank`` its ranked rows); keeps the cell col.

    The grouped kernel is Python/Arrow LATENCY-bound (per-group IPC
    round-trips), not byte-bound — but AQE coalesces the groupBy
    exchange by byte size, which can funnel hundreds of groups into a
    handful of tasks. An explicit ``repartition(n, keys)`` pins the
    exchange at the session's shuffle parallelism (AQE leaves
    explicit-numPartitions shuffles alone) — same shuffle count, full-
    width Python stage.

    A per-Arrow-batch incremental fold (``frontier(g) = kernel(
    frontier(g) ∪ batch-rows(g))``, grouping inside the task) was
    measured off in round 14: a wash-to-loss on the sf0.1 gate shapes
    (skyline_layers +0.3 s, two_stage +0.2 s), because at a few
    thousand rows per group the per-group framing it removes is already
    amortized."""
    schema = df_keyed.schema
    keys = [*by, _CELL]
    try:
        n = int(df_keyed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # pragma: no cover - e.g. "auto"
        n = df_keyed.sparkSession.sparkContext.defaultParallelism

    def fn(t):
        return _frontier_rows(t, dim_cols, senses, rank)

    return (
        df_keyed.repartition(n, *keys).groupBy(*keys).applyInArrow(fn, schema=schema)
    )


def _single_task_skyline(df: DataFrame, dim_cols, senses, by=(), rank=None) -> DataFrame:
    """The whole skyline as ONE kernel call per ``by`` group in one
    Python task, for an input of at most ``_SINGLE_TASK_ROWS`` rows.
    ``repartition(1)`` rather than ``coalesce(1)``: the exchange carries
    at most that many rows, while a coalesce would pull the whole
    upstream plan (e.g. a scan with an expensive filter) into the one
    task. One partition satisfies ``groupBy`` on any key, or on none,
    so no second exchange runs, and groups follow ``groupBy``'s key
    semantics: a NULL and a NaN key are two groups, a struct key is one
    value."""
    return df.repartition(1).groupBy(*by).applyInArrow(
        lambda t: _frontier_rows(t, dim_cols, senses, rank), schema=df.schema
    )


def _map_side_prereduce(df_keyed: DataFrame, dim_cols, senses, by=(), rank=None):
    """Combiner: reduce each Arrow batch with ONE batch-global kernel
    call BEFORE the shuffle, so the groupBy exchange only carries
    frontier candidates — the skyline analogue of map-side partial
    aggregation. Removing a row dominated by ANY batch row (even from
    another cell) is safe for the global result by transitivity; with
    ``by`` dominance must stay within a group, so each batch is split
    by Arrow's hash grouper first. It keeps NULL and NaN keys apart and
    splits 0.0 from -0.0, which ``groupBy`` merges: a finer split is
    sound for a pre-reduce. It rejects nested keys, so ``_skyline``
    runs no combiner on them.
    """
    schema = df_keyed.schema

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            t = pa.Table.from_batches([batch])
            parts = [t]
            if by:
                rows = t.append_column("__sky_row", pa.array(np.arange(len(t))))
                groups = rows.group_by(by, use_threads=False).aggregate([("__sky_row", "list")])
                parts = [t.take(g.values) for g in groups["__sky_row_list"]]
            for part in parts:
                yield from _frontier_rows(part, dim_cols, senses, rank).to_batches()

    return df_keyed.mapInArrow(fn, schema=schema)


def _collect_minspace(cand: DataFrame, dim_cols, senses):
    """(K, sK) of the candidates' min-space dims, sorted by ascending
    coordinate sum (dims only are collected, never full rows)."""
    import numpy as np

    t = cand.select(*dim_cols).toArrow()
    K = _min_matrix([t[c] for c in dim_cols], senses)
    sK = K.sum(axis=1)
    order = np.argsort(sK, kind="stable")
    return np.ascontiguousarray(K[order]), sK[order]


def _filter_against(cand: DataFrame, K, sK, dim_cols, senses) -> DataFrame:
    """Drop every ``cand`` row dominated by any row of the broadcast
    min-space matrix ``K`` (sorted by ascending sum) via mapInArrow."""
    import numpy as np

    bc = cand.sparkSession.sparkContext.broadcast((K, sK))
    schema = cand.schema

    def fn(batches):
        import pyarrow as pa

        Kb, sKb = bc.value
        for batch in batches:
            C_all = _min_matrix([batch[c] for c in dim_cols], senses)
            sC_all = C_all.sum(axis=1)
            # ascending-sum order: a row only meets the K prefix with
            # sums <= its own, and ``_dominated_by`` bounds its own
            # temporaries, so the whole batch goes in one call
            corder = np.argsort(sC_all, kind="stable")
            keep = np.ones(len(batch), dtype=bool)
            keep[corder] = ~_dominated_by(
                np.ascontiguousarray(C_all[corder]), Kb, sC_all[corder], sKb
            )
            yield batch.filter(pa.array(keep))

    return cand.mapInArrow(fn, schema=schema)


def _broadcast_final_filter(
    cand: DataFrame, dim_cols, senses, prune_k: int = 8192
) -> DataFrame:
    """Parallel global merge for LARGE candidate frontiers, two phases:

    1. **Prune**: broadcast only the ``prune_k`` smallest-sum candidates
       (the strongest dominators — the global minimum-sum point is
       always among them) and drop every candidate they dominate. For
       benign data this kills almost all non-frontier candidates at
       O(n · prune_k · d) cost, avoiding the all-vs-all trap where the
       candidate set is much larger than the frontier.
    2. **Verify**: re-collect the survivors and filter them against the
       full survivor matrix — exact, and now sized by the (near-)
       frontier rather than the raw candidate count.

    Sound because killing a candidate dominated by ANY candidate row is
    transitively safe, and true skyline points have no dominator
    anywhere; exact duplicates never dominate each other (kernel
    semantics), so they all survive — same as the tree merge. The
    intrinsic O(F² · d) verification of a genuinely huge frontier still
    runs — but across every core/executor instead of inside the tree
    merge's final single ``applyInArrow`` group (68k-point frontiers:
    minutes single-threaded, seconds parallel)."""
    import numpy as np

    K, sK = _collect_minspace(cand, dim_cols, senses)
    if len(K) > 2 * prune_k:
        # The prune pass costs ~prune_k/n of the full filter and shrinks
        # the quadratic verify by (1-kill)^2, so it pays whenever
        # kill*(2-kill) clears that ratio (with margin for the re-collect
        # and checkpoint). The driver already holds every candidate's
        # dims, so the kill-rate is estimated on a strided sample across
        # the sum range — O(sample * prune_k * d), deterministic,
        # milliseconds.
        tail = np.arange(prune_k, len(K), max(1, (len(K) - prune_k) // 2048))
        S = np.ascontiguousarray(K[tail])
        kill = _dominated_by(S, K[:prune_k], sK[tail], sK[:prune_k]).mean()
        if kill * (2.0 - kill) > 3.0 * prune_k / len(K):
            cand = _filter_against(
                cand, K[:prune_k], sK[:prune_k], dim_cols, senses
            ).localCheckpoint(eager=False)
            K, sK = _collect_minspace(cand, dim_cols, senses)
    return _filter_against(cand, K, sK, dim_cols, senses)


def skyline(
    df: DataFrame,
    dims,
    algo: str = "auto",
    partitions: int | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Skyline of ``df`` under per-dimension MIN/MAX senses.

    With ``by``, computes one independent skyline per group (grouped
    skyline — composable with joins, e.g. per-segment order frontiers);
    dominance is never compared across groups.

    Parameters
    ----------
    df : input DataFrame (any schema; full rows are preserved in the
        output, unlike the reference's coordinate-only structs)
    dims : list of ``(column, "min"|"max")`` or a query string
        ``"SKYLINE OF c1 MIN, c2 MAX"``
    algo : MR_DIM | MR_GRID | MR_ANGLE | auto
    partitions : fan-out parameter ``p`` (algorithm-specific, see
        reference README.md:47-60); derived from cluster parallelism
        when None
    bounds : optional precomputed per-column (lo, hi) to skip the
        bounds pass
    by : optional group columns

    Plan: when the caller leaves planning to ``skyline()`` (``algo=
    "auto"``, no ``partitions`` or ``bounds``), the comparable row
    count ``n`` picks one of three tiers, with or without ``by``:

    * **anti-join** — ``n <= _ANTIJOIN_MAX`` (4096): one codegen'd
      NOT-EXISTS join (``_antijoin``) over the input coalesced to at
      most ``defaultParallelism`` partitions; no Python task. Ungrouped
      it is a broadcast nested loop; with ``by`` a broadcast hash join
      on the null-safe group keys. Every micro-batch of a steady stream
      folds here.
    * **single task** — ``n <= _SINGLE_TASK_ROWS`` (32768): one kernel
      call per group in one Python task (``_single_task_skyline``).
    * **partitioned** — otherwise, as below.

    Neither small tier has a cell key, local pass, probe or merge. The
    row count is one plain ``count()``, run only when ``skyline()``
    plans on its own: a named algorithm, ``partitions`` or ``bounds``
    runs none, and a named algorithm keeps the reference's partitioning
    scheme at any size. Every other query is partitioned.
    Only this plan pays the per-dimension bounds aggregate
    (``_compute_bounds``), and not with ``bounds``. It is keyed and
    reduced per cell, then merged by one size-driven decision, read
    from ONE Catalyst size estimate ``est`` of the input
    (``_estimated_bytes``; 0 when it fails) and the dimension count
    ``d``:

    * **combiner** — iff ``est > _LARGE_INPUT_BYTES`` (4 GiB), each
      Arrow batch is reduced to its frontier before the shuffle
      (``_map_side_prereduce``): an extra Python pass that pays only
      when the exchange is the bottleneck.
    * **probe** — skipped iff ``d <= 4`` and ``0 < est <=
      _LARGE_INPUT_BYTES``: a small low-d input cannot grow a frontier
      big enough to hit the tree's single-group wall, and the probe
      (checkpoint + count of the local frontiers) is one fixed extra job.
      High d keeps it at any size (frontier growth is exponential in d:
      the d=10/1e5 shape is ~8 MB of input but a 68k-point frontier),
      large inputs keep it at any d, and a failed estimate keeps it —
      unknown is not small. A small but all-frontier low-d input pays
      the tree fold. Grouped skylines (parallel by group) and a single
      cell never probe.
    * **broadcast filter** — iff the probe ran and its candidate count
      ``n_cand`` is in ``(_BROADCAST_MIN, _BROADCAST_CAP]`` (8192,
      2e6]: ``_broadcast_final_filter`` verifies the frontier across
      every core instead of in the tree's final single group.
    * **tree fold** — otherwise: fold cell ids ``_MERGE_FANOUT`` (256)
      at a time and re-run the kernel until one group remains; also
      the fallback past the cap, whose candidates are never collected.

    ``skyline_layers`` and ``k_skyband`` run this same plan with every
    kernel pass keeping its group's ranked rows instead of its skyline:
    its first ``n_layers`` layers, or its rows with fewer than ``k``
    dominators, with the rank in an output column. Three steps can only
    drop dominated rows, so a ranked plan skips them: the anti-join tier
    (NOT EXISTS expresses the skyline only; the single task, grouped or
    not, takes its inputs), MR_GRID's dominated-cell prune (a dominated cell can hold
    layer-2 or band rows) and the probe with its broadcast filter (which
    drops every dominated row).

    Rows with NULL or NaN in any skyline dimension are excluded, the
    rule the whole skyline family shares (``_comparable``).
    """
    return _skyline(df, dims, algo, partitions, bounds, by)


def _skyline(
    df: DataFrame,
    dims,
    algo: str = "auto",
    partitions: int | None = None,
    bounds: dict[str, tuple[float, float]] | None = None,
    by: list[str] | None = None,
    n: int | None = None,
    rank: tuple | None = None,
) -> DataFrame:
    """``skyline()``, for in-package callers that already know ``n``,
    the comparable row count of ``df``: passing it skips the count that
    picks the size tier. Read only when ``skyline()`` plans on its own.
    ``rank`` is ``_frontier_rows``'s: ``("layer", n, col)`` for
    ``skyline_layers``, ``("band", k, col)`` for ``k_skyband``. Every
    kernel pass then keeps its group's ranked rows and writes the rank
    into ``col``, a long column that ``df`` must carry."""
    dims = _normalize_dims(dims)
    d = len(dims)
    self_planned = algo == "auto" and partitions is None and bounds is None
    algo = _pick_algo(algo, d)
    if algo not in ("MR_DIM", "MR_GRID", "MR_ANGLE"):
        raise ValueError(f"algo must be one of {ALGORITHMS}, got {algo!r}")
    df = _comparable(df, dims)
    dim_cols = [c for c, _ in dims]
    senses = [s for _, s in dims]
    by = list(by or ())

    if self_planned:
        if n is None:
            n = df.count()
        if n <= _ANTIJOIN_MAX and rank is None:
            # the join's output keeps its streamed side's partitions, so
            # coalesce to k first: each task compares its rows with all
            # n, so its work is (n/k)·n, and k gives the cap
            # defaultParallelism tasks and no task more work than that
            par = df.sparkSession.sparkContext.defaultParallelism
            k = max(1, math.ceil(par * (n / _ANTIJOIN_MAX) ** 2))
            return _antijoin(df.coalesce(k), dims, by)
        if n <= _SINGLE_TASK_ROWS:
            return _single_task_skyline(df, dim_cols, senses, by, rank)

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    p = partitions or _default_param(algo, d, parallelism)

    if bounds is None:
        bounds = _compute_bounds(df, dims)
    vs = _minspace_exprs(df, dims, bounds)
    if algo == "MR_DIM":
        key, ncells = _mr_dim_key(vs, p)
    elif algo == "MR_GRID":
        key, ncells = _mr_grid_key(vs, p)
    else:
        key, ncells = _mr_angle_key(vs, p)

    keyed = df.withColumn(_CELL, key)
    if algo == "MR_GRID" and d > 1 and rank is None:
        # Dominated-cell pruning: rows in cells strictly dominated by a
        # nonempty cell can never be skyline points (per group when
        # ``by`` is set — dominance never crosses groups).
        keyed = _grid_prune_grouped(keyed, p, d, by)

    # Giant-cell guard (SURVEY.md §7.3): a hot or lone cell would funnel
    # its whole population into ONE applyInArrow group — the OOM shape
    # at scale. Salt the cell id so the first local pass splits every
    # cell into sub-groups (partial frontiers); the tree merge below
    # folds the salt back out, and skyline(union) == skyline(union of
    # partial skylines) keeps this exact. No-op when the cell count
    # already saturates the cluster.
    target_groups = max(2, parallelism) * 4
    salt_mod = max(1, math.ceil(target_groups / max(ncells, 1)))
    if salt_mod > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in dim_cols]), F.lit(salt_mod)
        ).cast("long")
        keyed = keyed.withColumn(_CELL, F.col(_CELL) * F.lit(salt_mod) + salt)
        ncells *= salt_mod

    est = _estimated_bytes(df)
    nested = (ArrayType, MapType, StructType)
    if est > _LARGE_INPUT_BYTES and not any(isinstance(df.schema[c].dataType, nested) for c in by):
        # pre-shuffle combiner: the exchange only carries per-batch
        # frontier survivors, not the whole table. It splits ``by``
        # groups with Arrow's hash grouper, which rejects nested keys.
        keyed = _map_side_prereduce(keyed, dim_cols, senses, by, rank)

    out = _local_skyline_pass(keyed, dim_cols, senses, by, rank)

    probe = not (d <= 4 and 0 < est <= _LARGE_INPUT_BYTES)
    if probe and not by and ncells > 1 and rank is None:
        # Adaptive global merge: materialize the (small relative to the
        # input) local frontiers once, then pick the merge shape by
        # candidate count. The lazy checkpoint materializes inside the
        # count job (one extra job, not two) and the chosen merge path
        # reuses the materialization instead of recomputing the pass.
        out = out.localCheckpoint(eager=False)
        n_cand = out.count()
        if _BROADCAST_MIN < n_cand <= _BROADCAST_CAP:
            return _broadcast_final_filter(out, dim_cols, senses).drop(_CELL)

    # Tree merge: repeatedly fold cell ids and re-run the kernel until a
    # single group remains. Replaces the reference's one-task global
    # reduce (src/jobs/batch_job.py:183-188) that its own report calls
    # the scaling wall (report p.3).
    while ncells > 1:
        ncells = max(1, math.ceil(ncells / _MERGE_FANOUT))
        out = out.withColumn(_CELL, F.pmod(F.col(_CELL), F.lit(ncells)))
        out = _local_skyline_pass(out, dim_cols, senses, by, rank)

    return out.drop(_CELL)


def _antijoin(df: DataFrame, dims, by=()) -> DataFrame:
    """Skyline of an already-comparable ``df`` (``_comparable``) as a
    dominance ANTI-join: keep row p iff no row q of its ``by`` group is
    at least as good in every dimension and strictly better in one.
    ``dims`` normalized.

    The q side is ``df`` projected to its dimensions (and ``by``
    columns) under fresh names, so the broadcast carries only those and
    the condition needs no ``alias``: an aliased self-join of a
    memory-sink table does not resolve its second alias. The group
    terms are null-safe equalities, so a NULL key is one group, as in
    ``groupBy``, and they make the join a broadcast hash join."""
    q_cols = [f"__sky_q{i}" for i in range(len(dims))]
    g_cols = [f"__sky_g{i}" for i in range(len(by))]
    src = [c for c, _ in dims] + list(by)
    q = df.select(*[F.col(f"`{c}`").alias(n) for c, n in zip(src, q_cols + g_cols)])
    cond = _dominates(
        [F.col(n) for n in q_cols],
        [F.col(f"`{c}`") for c, _ in dims],
        [s for _, s in dims],
    )
    if by:
        for c, n in zip(by, g_cols):
            cond = cond & F.col(f"`{c}`").eqNullSafe(F.col(n))
        q = F.broadcast(q)
    return df.join(q, cond, "left_anti")


def skyline_antijoin(df: DataFrame, dims) -> DataFrame:
    """Skyline as a pure-Catalyst dominance ANTI-join — the declarative
    ``NOT EXISTS`` formulation (SURVEY.md §2.3): keep row p iff no row q
    is at-least-as-good in every dimension and strictly better in one.

    This is a theta join, so Spark executes it as a broadcast
    nested-loop — O(n²) work with one side broadcast, whole-stage
    codegen'd and free of Python. ``skyline()`` takes this form on its
    own for an input of at most ``_ANTIJOIN_MAX`` comparable rows, and
    the streaming state folds its small pools through that tier. Called
    directly it runs at any size, so use it on small inputs (a
    pre-filtered candidate set, a local debug check); it exactly mirrors
    the SQL oracle, which makes it a differential anchor for the kernel
    paths. NULL and NaN dims are excluded as in ``skyline``
    (``_comparable``).
    """
    dims = _normalize_dims(dims)
    return _antijoin(_comparable(df, dims), dims)


def skyline_witness(
    df: DataFrame, dims, id_col: str, max_frontier: int = 2_000_000
) -> DataFrame:
    """Dominance explanation: for every row, the MINIMUM ``id_col`` of a
    SKYLINE member that dominates it (NULL for skyline members — nobody
    dominates them). The "why was my row excluded" debugging/tiering
    primitive; restricting witnesses to the frontier is sound because
    dominance is transitive, so every dominated row has a frontier
    dominator.

    Scale shape: the frontier comes from the partitioned ``skyline``
    operator, is BROADCAST (frontiers are small by construction — this
    operator refuses past ``max_frontier`` rows), and the dominance
    theta-join + min-aggregate runs map-side against the full table:
    one broadcast, one shuffle-free scan, one hash aggregate keyed on
    ``id_col`` (which must be unique — the witness contract is
    per-entity). Rows with a NULL or NaN skyline dimension are
    incomparable, as in ``skyline``: they are outside the frontier and
    their witness is NULL.

    Returns ``(id_col, *dim_cols, witness)``.
    """
    dims = _normalize_dims(dims)
    if id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in DataFrame columns {df.columns}")
    # lazy checkpoint: the guard count is the materializing job (same
    # one-job pattern as the adaptive merge in skyline())
    frontier = skyline(df, dims).select(
        F.col(id_col).alias("__w_id"),
        *[F.col(c).alias(f"__w_{i}") for i, (c, _) in enumerate(dims)],
    ).localCheckpoint(eager=False)
    n_frontier = frontier.count()
    if n_frontier > max_frontier:
        raise ValueError(
            f"frontier has {n_frontier} rows > max_frontier={max_frontier}; "
            "broadcasting it for the dominance join would not be safe "
            "(anticorrelated data can put most of the table on the frontier)"
        )
    dominated = _dominates(
        [F.col(f"__w_{i}") for i in range(len(dims))],
        [F.col(f"`{c}`") for c, _ in dims],
        [s for _, s in dims],
    )
    dim_cols = [c for c, _ in dims]
    # a row without a value in some dimension (``_has_values``) is
    # incomparable: no frontier row may match it, so its witness is NULL
    joined = df.select(id_col, *dim_cols).join(
        F.broadcast(frontier), dominated & _has_values(df, dims), "left"
    )
    return joined.groupBy(id_col, *[F.col(f"`{c}`") for c in dim_cols]).agg(
        F.min("__w_id").alias("witness")
    )


def representative_skyline(
    df: DataFrame,
    dims,
    k: int,
    id_col: str,
    max_frontier: int = 2_000_000,
) -> DataFrame:
    """Distance-based representative skyline (Tao et al., ICDE 2009
    shape): ``k`` frontier points that SPREAD over the frontier —
    the human-consumable answer when the full frontier is thousands of
    points ("show me 10 representative trade-offs").

    Greedy farthest-point selection in normalized min-space: the seed
    is the point with the best overall sum (closest to the ideal
    corner), then each step adds the frontier point maximizing its
    minimum distance to the chosen set (deterministic ties by id).
    Farthest-point greedy is the classic 2-approximation of the
    max-min dispersion optimum.

    Scale shape: the frontier comes from the partitioned ``skyline``
    operator; only its (id, dims) matrix is collected — refused loudly
    past ``max_frontier`` rows — and the O(k·F·d) greedy runs in NumPy
    on the driver. Result rows keep the full input schema (semi-join
    on ``id_col``, which must be unique).
    """
    import numpy as np

    dims = _normalize_dims(dims)
    if k < 1:
        raise ValueError("k must be >= 1")
    if id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in DataFrame columns {df.columns}")
    frontier = skyline(df, dims)
    rows = frontier.select(
        id_col, *[_numeric_expr(frontier, c).alias(f"__d{i}") for i, (c, _) in enumerate(dims)]
    ).limit(max_frontier + 1).collect()
    if len(rows) > max_frontier:
        raise ValueError(
            f"frontier exceeds max_frontier={max_frontier}; representative "
            "selection needs the frontier matrix on the driver"
        )
    if not rows:
        return df.limit(0)
    ids = [r[0] for r in rows]
    X = np.asarray([[r[i + 1] for i in range(len(dims))] for r in rows], dtype=np.float64)
    # normalize each dim to [0,1] in MIN space over the frontier
    lo, hi = X.min(axis=0), X.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    M = (X - lo) / span
    for i, (_, sense) in enumerate(dims):
        if sense == "max":
            M[:, i] = 1.0 - M[:, i]
    chosen = []
    in_chosen = set()
    # seed: best overall (min normalized sum), ties by smallest id
    sums = M.sum(axis=1)
    seed = min(range(len(ids)), key=lambda j: (sums[j], ids[j]))
    chosen.append(seed)
    in_chosen.add(seed)
    mind = np.linalg.norm(M - M[seed], axis=1)
    while len(chosen) < min(k, len(ids)):
        # skip already-chosen indices: when every remaining point is an
        # exact duplicate (all distances 0) the contract still promises
        # min(k, frontier) DISTINCT rows
        nxt = None
        for j in range(len(ids)):
            if j in in_chosen:
                continue
            if nxt is None or mind[j] > mind[nxt] or (
                mind[j] == mind[nxt] and ids[j] < ids[nxt]
            ):
                nxt = j
        chosen.append(nxt)
        in_chosen.add(nxt)
        mind = np.minimum(mind, np.linalg.norm(M - M[nxt], axis=1))
    picked = [ids[j] for j in chosen]
    picked_df = df.sparkSession.createDataFrame(
        [(p,) for p in picked], [id_col]
    )
    return df.join(F.broadcast(picked_df), id_col, "left_semi")


def warm_up(
    spark,
    d: int,
    algo: str = "auto",
    rows: int = 20_000,
    passes: int = 2,
) -> int:
    """Pre-warm the skyline execution path for ``d``-dimensional
    queries on a COLD JVM/worker fleet (r10 verdict ask #7: the
    d7/1e7 sweep's first pass ran ~4x steady state, a monotone
    JIT/Arrow warm-in decay, not data work).

    Runs the full skyline pipeline ``passes`` times over a tiny
    synthetic ``rows`` x ``d`` integer table (xxhash64-mixed,
    deterministic, generated JVM-side — no driver data transfer).
    What it warms, in cost order:

    * whole-stage-codegen classes for the d-column keying/prune plan
      shape (Janino compile is per shape, cached thereafter) and the
      C2 tier of their hot loops (~10k row-iterations crosses the
      default compile threshold; the second pass executes compiled
      code and lets async C2 land);
    * the Arrow serialization bridge both ways (first use lazy-inits
      writers/readers per JVM);
    * the Python worker fleet: process spawn + numpy/pyarrow/kernel
      imports (~1 s per worker if paid inside a real query).

    Bounded by construction: tiny input, no data dependence, a few
    seconds once per executor lifetime — on a real cluster call it
    right after session start; bench.py --sweep calls it per distinct
    d before timing. Returns the warm-up frontier size (forces full
    execution)."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    cols = [f"__w{i}" for i in range(d)]
    base = spark.range(0, int(rows), 1, spark.sparkContext.defaultParallelism)
    df = base.select(
        *[
            F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1_000_000_000))
            .cast("long")
            .alias(c)
            for i, c in enumerate(cols)
        ]
    )
    dims = [(c, "min") for c in cols]
    # a named algorithm: the table is small enough for the single task,
    # and it is the partitioned plan that needs warming
    algo = _pick_algo(algo, d)
    n = 0
    for _ in range(max(1, int(passes))):
        n = skyline(df, dims, algo=algo).count()
    return n


def windowed_skyline(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    dims,
    **kwargs,
) -> DataFrame:
    """Per-tumbling-window skyline (an extension the reference lacks —
    it has no event time at all, SURVEY.md §2.3): one independent
    frontier per ``F.window(ts, duration)`` bucket, implemented as a
    grouped skyline on the window struct. Composable with streaming via
    ``foreachBatch``. Output carries ``window_start``/``window_end``."""
    w = F.window(F.col(ts_col), window_duration)
    tagged = df.withColumn("window_start", w["start"]).withColumn(
        "window_end", w["end"]
    )
    # scalar (non-struct) group keys, so a large input keeps the
    # map-side combiner, whose Arrow hash grouper rejects a struct key
    return skyline(tagged, dims, by=["window_start", "window_end"], **kwargs)


def skyline_sql(df: DataFrame, query: str, **kwargs) -> DataFrame:
    """Reference-compatible front door: ``skyline_sql(df, "SKYLINE OF a
    MIN, b MAX")`` (grammar of src/utils/functions.py:303-333, plus
    column-name validation)."""
    return skyline(df, parse_skyline_query(query), **kwargs)


def skyline_layers(
    df: DataFrame,
    dims,
    n_layers: int = 3,
    algo: str = "auto",
    **skyline_kwargs,
) -> DataFrame:
    """Onion-peeling skyline layers: layer 1 is the skyline, layer i the
    skyline of the input with layers 1..i-1 removed — the classic
    layered-frontier decomposition (top-tier / next-tier ranking
    without a scoring function; the iterative extension of the
    reference's single-layer operator).

    Runs ``skyline()``'s own plan (``skyline_kwargs`` as there), with
    every kernel pass keeping the rows whose layer within its group is
    at most ``n_layers`` and writing that layer into ``layer``. This is
    exact, because a row's layer is the length of the longest dominance
    chain that ends at it:

    * a chain inside a group is a chain of the whole input, so a row's
      layer within its group is never above its global layer: keeping
      local layers <= k keeps every row of global layer <= k, together
      with all of its lower-layer dominators;
    * a row of global layer above k keeps the first k members of its
      longest chain, so the final single group labels it above k and
      drops it.

    This holds at every fold level, and with the salt and the combiner.

    Returns the rows of the first ``n_layers`` layers with a ``layer``
    column (1-based). Rows tied on all dimension columns land in the
    same layer (dominance treats all-equal as incomparable).
    """
    if n_layers <= 0:
        raise ValueError("n_layers must be positive")
    df = df.withColumn("layer", F.lit(0).cast("long"))
    return _skyline(df, dims, algo, rank=("layer", n_layers, "layer"), **skyline_kwargs)
