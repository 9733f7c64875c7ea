"""Grouped top-k with a map-side cut.

``row_number() OVER (PARTITION BY g ORDER BY v) <= k`` is the
canonical formulation. Planned naively it shuffles EVERY row to
cluster groups before sorting, and at 100 TB the tail (the rows that
can never rank) dominates the exchange. Catalyst prunes it map-side
first (``InferWindowGroupLimit``, k up to
``spark.sql.optimizer.windowGroupLimitThreshold`` = 1000): a
``WindowGroupLimit … Partial`` keeps each input partition's own
per-group top-k, which is a guaranteed superset of the global answer —
if row r is in group g's global top-k, then fewer than k rows of g
outrank it anywhere, so in particular fewer than k outrank it inside
r's own partition, and r survives the partition-local cut. Only
partitions x groups x k candidate rows ride the shuffle into the
``Final`` limit and the window.

Both stages are Spark's own sort, so they agree on the total order
(NaN greatest, nulls where the window puts them) and the answer is the
naive plan's — which is what the DuckDB oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: str | None = None,
    rank_col: str = "rk",
) -> DataFrame:
    """Exact top-``k`` rows per group under a deterministic total
    order (``order_col`` asc/desc with nulls last, then ``tiebreak``
    ascending — required, ties would otherwise make "top k"
    ill-defined across engines). Output = input columns + ``rank_col``
    (1..k). The plan carries the map-side cut described in the module
    docstring."""
    if tiebreak is None:
        raise ValueError("tiebreak column is required for a deterministic order")
    if k < 1:
        raise ValueError("k must be >= 1")
    order = (
        F.col(order_col).desc_nulls_last()
        if descending
        else F.col(order_col).asc_nulls_last(),
        F.col(tiebreak).asc_nulls_last(),
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
