"""k-skyband: rows with fewer than ``k`` dominators — the standard
generalization of the skyline (k=1 IS the skyline; Papadias et al.,
"Progressive skyline computation in database systems", TODS 2005). The
reference implements only the k=1 case (src/utils/functions.py:29-54);
this operator extends the same grid partitioning to exact dominator
COUNTING.

Distributed exact counting, designed so the quadratic work never leaves
cell-local NumPy:

1. **local prune** — grid-key rows (data-driven bounds, same machinery
   as the skyline operator); per cell, count in-cell dominators with a
   blocked NumPy pass; rows with >= k in-cell dominators are out
   (sound: in-cell dominators are dominators). Survivors ("candidates")
   are ~k x the frontier size, tiny vs the input.
2. **bulk counts** — a cell whose bucket is strictly smaller in EVERY
   dimension (min-space) contains only points that dominate every point
   of the target cell (disjoint half-open bucket ranges + monotone
   min-space transform), so it contributes its whole row count with no
   comparisons: one driver-side vectorized pass over the nonempty-cell
   census (the census is |cells| rows, not |rows|).
3. **partial audit** — only cells bucket-<= in every dim but strict in
   none-to-some ("the shell") can contain a mix of dominators and
   non-dominators. Those rows are shuffled (dimension columns only) to
   their target cells' groups and counted against the candidates in one
   blocked NumPy pass per cell.

``n_dominators = in_cell + bulk + partial`` exactly; the final filter
keeps ``n_dominators < k``. Duplicate rows count individually (a row
never dominates its coordinate-ties).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

import math

from pyspark_skyline_spark.operators.skyline import (
    _cell_digits,
    _comparable,
    _compute_bounds,
    _minspace_exprs,
    _mr_grid_key,
    _normalize_dims,
)

__all__ = ["k_skyband"]


def _count_dominators_from(
    cand: np.ndarray, aud: np.ndarray, block: int = 1024
) -> np.ndarray:
    """#rows of ``aud`` dominating each row of ``cand`` (min-space:
    dominance = <= everywhere AND < somewhere). Blocked O(n m d)."""
    out = np.zeros(len(cand), dtype=np.int64)
    if len(aud) == 0:
        return out
    for lo in range(0, len(cand), block):
        hi = min(lo + block, len(cand))
        le = (aud[:, None, :] <= cand[None, lo:hi, :]).all(axis=2)
        eq = (aud[:, None, :] == cand[None, lo:hi, :]).all(axis=2)
        out[lo:hi] = (le & ~eq).sum(axis=0)
    return out


def k_skyband(
    df: DataFrame,
    dims,
    k: int = 2,
    partitions: int | None = None,
    count_col: str = "n_dominators",
) -> DataFrame:
    """Rows of ``df`` dominated by fewer than ``k`` rows under the
    per-dimension MIN/MAX senses, with the exact dominator count in
    ``count_col``. ``k_skyband(df, dims, k=1)`` equals
    ``skyline(df, dims)``; rows with a NULL or NaN dimension are
    excluded, as there.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    dims = _normalize_dims(dims)
    d = len(dims)
    spark = df.sparkSession
    # Grid base sized for COUNTING, not skyline pruning: target ~4x
    # parallelism cells total. Finer grids shrink per-cell work but the
    # partial shell (and the audit shuffle) grows ~linearly with b, so
    # over-partitioning costs more than it saves.
    b = partitions or max(
        2, math.ceil((4 * spark.sparkContext.defaultParallelism) ** (1.0 / d))
    )

    df = _comparable(df, dims)
    bounds = _compute_bounds(df, dims)
    vs = _minspace_exprs(df, dims, bounds)
    cell, _ = _mr_grid_key(vs, b)

    keyed = (
        df.withColumn("__cell", cell)
        .withColumn("__id", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)  # pin nondeterministic ids
    )
    senses = [s for _, s in dims]
    # dimension table in min-space doubles: the kernels see MIN-sense
    # values only (timestamps/dates already numeric via the minspace
    # exprs, which are strictly monotone per dim)
    dimtbl = keyed.select(
        "__id",
        "__cell",
        *[v.cast("double").alias(f"__x{i}") for i, v in enumerate(vs)],
    )
    xcols = [f"__x{i}" for i in range(d)]

    def local_counts(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[xcols].to_numpy(dtype=np.float64)
        cnt = _count_dominators_from(X, X)
        keep = cnt < k
        return pd.DataFrame(
            {
                "__id": pdf["__id"].to_numpy()[keep],
                "__cell": pdf["__cell"].to_numpy()[keep],
                "__incell": cnt[keep],
            }
        )

    # pinned-parallelism grouped kernels (round 13, see
    # dedup.pin_compute_shuffle): the (id, cell, d doubles) shuffle rows
    # are tiny but each group runs a blocked O(n² d) NumPy pass — AQE's
    # byte-based coalescing packed the whole audit onto 1-2 tasks
    # (profiled 0.7-0.9 s single-task stages at sf0.1); the repartition
    # on the group key is reused by the applyInPandas exchange
    from pyspark_skyline_spark.operators.dedup import pin_compute_shuffle

    cands = pin_compute_shuffle(dimtbl, "__cell").groupBy("__cell").applyInPandas(
        local_counts, "__id long, __cell long, __incell long"
    )
    # materialize the survivors once (round 14): `cands` feeds BOTH the
    # partial-audit union below and the totals join, and without the
    # lineage cut each consumer re-ran the O(n²d) in-cell counting
    # kernel (profiled: two ~1 s 32-task kernel stages at sf0.1 where
    # one suffices). Candidates are ~k x frontier-sized — cheap to keep.
    cands = cands.localCheckpoint(eager=False)

    census = dimtbl.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n")).collect()
    cells = np.array([r["__cell"] for r in census], dtype=np.int64)
    sizes = np.array([r["__n"] for r in census], dtype=np.int64)
    D = _cell_digits(cells, b, d)

    bulk_rows = []
    partial_rows = []
    for j in range(len(cells)):
        le = (D <= D[j]).all(axis=1)
        strict = (D < D[j]).all(axis=1)
        bulk_rows.append((int(cells[j]), int(sizes[strict].sum())))
        for src in cells[le & ~strict & (cells != cells[j])]:
            partial_rows.append((int(src), int(cells[j])))

    bulk_df = spark.createDataFrame(bulk_rows, "__cell long, __bulk long")
    if partial_rows:
        pairs = spark.createDataFrame(partial_rows, "__src long, __dst long")
        auditors = (
            dimtbl.join(F.broadcast(pairs), dimtbl["__cell"] == pairs["__src"])
            .select(
                F.col("__dst").alias("__grp"),
                F.lit(None).cast("long").alias("__id"),
                F.lit(0).alias("__role"),
                *xcols,
            )
        )
    else:
        auditors = None
    cand_rows = cands.join(dimtbl.drop("__cell"), "__id").select(
        F.col("__cell").alias("__grp"),
        "__id",
        F.lit(1).alias("__role"),
        *xcols,
    )
    grouped = cand_rows if auditors is None else cand_rows.unionByName(auditors)

    def partial_counts(pdf: pd.DataFrame) -> pd.DataFrame:
        cand_mask = pdf["__role"].to_numpy() == 1
        C = pdf.loc[cand_mask, xcols].to_numpy(dtype=np.float64)
        A = pdf.loc[~cand_mask, xcols].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            {
                "__id": pdf.loc[cand_mask, "__id"].to_numpy(),
                "__partial": _count_dominators_from(C, A),
            }
        )

    partial = pin_compute_shuffle(grouped, "__grp").groupBy("__grp").applyInPandas(
        partial_counts, "__id long, __partial long"
    )

    totals = (
        cands.join(partial, "__id")
        .join(F.broadcast(bulk_df), "__cell")
        .withColumn(
            count_col, F.col("__incell") + F.col("__partial") + F.col("__bulk")
        )
        .filter(F.col(count_col) < k)
        .select("__id", count_col)
    )
    return keyed.join(totals, "__id").drop("__id", "__cell")
