"""k-skyband: rows with fewer than ``k`` dominators — the standard
generalization of the skyline (k=1 IS the skyline; Papadias et al.,
"Progressive skyline computation in database systems", TODS 2005). The
reference implements only the k=1 case (src/utils/functions.py:29-54).

The operator is ``skyline()``'s own plan (size tiers, keying, salt,
combiner and tree fold) with one change: every kernel pass keeps the
rows of its group that have fewer than ``k`` dominators IN THE GROUP
and writes that count (``kernel.find_skyband_counts``). This is exact:

* a group is a subset of the input, so a row's in-group count never
  exceeds its global count: every band row survives every pass, at
  every fold level, with the salt and the combiner;
* every dominator of a band row is itself a band row (it has fewer
  dominators, by transitivity), so the final single group holds all of
  them and counts every band row exactly;
* a non-band row p meets at least ``k`` band-row dominators there, so
  it is dropped: take a dominance-minimal non-band dominator q of p;
  all of q's at least ``k`` dominators are band rows, and they dominate
  p too.

Duplicate rows count individually (a row never dominates its
coordinate-ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyspark_skyline_spark.operators.skyline import _skyline

__all__ = ["k_skyband"]


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
    excluded, as there. ``partitions`` is ``skyline()``'s fan-out ``p``.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    df = df.withColumn(count_col, F.lit(0).cast("long"))
    return _skyline(df, dims, partitions=partitions, rank=("band", k, count_col))
