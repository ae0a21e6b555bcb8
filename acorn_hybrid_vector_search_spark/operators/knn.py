"""K1/T1 — exact brute-force k-NN as a DataFrame plan.

The reference's ``ann_naive`` (/root/reference/pre-filter.py:63-95) is a
single-threaded Python loop: per-row squared-L2, full sort, truncate. The
Spark-native plan is a distance projection followed by
``ORDER BY dist LIMIT k`` — Catalyst compiles that to
**TakeOrderedAndProject**: each partition keeps only its local top-k heap
and the driver merges P·k rows, so no global sort and no full shuffle ever
happens. That is the shape that survives a 100 TB scan: work is
O(rows · dim) map-side + O(P·k) merge.

Determinism: ties broken by ``(dist, id)`` ascending (SURVEY.md §7 risk 3)
so results are stable for hash-based oracle comparison.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from acorn_hybrid_vector_search_spark.functions.distance import l2_sq_distance


def knn_exact(
    df: DataFrame,
    query_vec: Column | Sequence[float],
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dist_col: str = "dist",
    metric: str = "l2_sq",
) -> DataFrame:
    """Exact top-k nearest rows of ``df`` to ``query_vec``.

    Returns ``df``'s columns plus ``dist_col``, ordered (dist, id) asc.
    """
    if metric == "l2_sq":
        d = l2_sq_distance(F.col(vec_col), query_vec)
    elif metric == "l2":
        d = F.sqrt(l2_sq_distance(F.col(vec_col), query_vec))
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    return (
        df.withColumn(dist_col, d)
        .orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
        .limit(k)
    )
