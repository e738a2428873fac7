"""Deterministic id assignment.

Reference analogs: tibble::rowid_to_column (R/deduplicaters.R:71,700,829),
group_by |> mutate(id = cur_group_id()) dense group ids ("dedupe_naive",
R/deduplicaters.R:208-223).

Determinism contract: never `monotonically_increasing_id` — ids feed the
recall gate and must be identical at any partition count (SURVEY.md §7).
`row_number` over a stable key is used for small/medium domains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stable_row_ids(df: DataFrame, order_cols: list[str], id_col: str = "id") -> DataFrame:
    """1-based dense row ids by a stable ordering key (P6)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(id_col, F.row_number().over(w).cast("long"))


def dense_group_ids(df: DataFrame, group_cols: list[str], id_col: str = "group_id") -> DataFrame:
    """Dense 1-based group ids: identical key tuple -> identical id (A1).

    Window-free for the distinct-key table only (tiny sort domain), then a
    broadcast-friendly join back — at scale the join shuffles on the key
    which is the same shuffle the downstream groupBy needs anyway.
    """
    keys = df.select(*group_cols).distinct()
    w = Window.orderBy(*[F.col(c) for c in group_cols])
    keyed = keys.withColumn(id_col, F.dense_rank().over(w).cast("long"))
    return df.join(keyed, on=group_cols, how="left")

