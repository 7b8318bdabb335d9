"""Ordered string aggregation: Spark keeps no row order inside a group,
so text assembled from many rows sorts explicitly before it joins."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ordered_join(order: str, value: str, sep: str) -> Column:
    """Aggregate: the group's `value`s as strings, joined by `sep` in
    ascending `order` (ties broken by `value`), the same under any
    partitioning."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct(order, value))),
                    lambda s: s[value].cast("string")),
        sep)
