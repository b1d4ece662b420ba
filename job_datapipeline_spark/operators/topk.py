"""Grouped top-k, as ranked rows or as one row of k columns per group.

Re-expresses the populator's per-job ``Counter.most_common(10)`` + pivoted
DynamoDB rows (data_populator/populator.py:39-58): ``top_k_per_group`` is a
window ``row_number``, ``top_k_pivot`` one sorted-list aggregate.

Semantic fix over the reference (SURVEY.md §2.5 W1): ``most_common`` breaks
ties by insertion order, which is nondeterministic under parallelism. Here
ties always break by the value column ascending, so the result is stable
across partitionings and engines.

Scale shape: either form is a single shuffle on the group key; no
driver-side loop over groups (the reference iterates distinct groups in
Python — that dies at 100 TB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak_cols: Sequence[str] = (),
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the top-k rows per group, deterministically.

    Ordering: ``order_col`` (desc by default) then ``tiebreak_cols`` asc.
    Adds ``rank_col`` (1-based, bigint to match SQL row_number()).
    """
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    order += [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        .filter(F.col(rank_col) <= k)
    )


def top_k_pivot(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    """W2 (populator.py:55-58): per group, the values of the k rows with the
    highest ``order_col`` as columns ``top_skill_n_1 .. top_skill_n_k``;
    ties break by ``value_col`` ascending, the order of
    :func:`top_k_per_group`.

    One aggregate per group, ``slice(sort_array(collect_list(struct(-order,
    value))), 1, k)``, instead of a window sort, a rank filter and a pivot
    aggregate: one exchange on the group key and no sort. A group with fewer
    than k rows gets NULL trailing columns (``get`` is NULL past the end).
    The whole group's list is held in memory, so use it where the distinct
    values per group are bounded (tokens of a fixed vocabulary);
    ``order_col`` must be a non-null number, such as a count.
    """
    best = F.expr(
        f"slice(sort_array(collect_list(named_struct("
        f"'neg', -`{order_col}`, 'v', `{value_col}`))), 1, {k})"
    )
    return (
        df.groupBy(*group_cols)
        .agg(best.alias("best"))
        .selectExpr(*[f"`{c}`" for c in group_cols],
                    *[f"get(best, {i}).v AS top_skill_n_{i + 1}" for i in range(k)])
    )
