"""Bounded driver collects: read at most ``max_rows + 1`` rows, so a
frame over its bound fails with a typed error instead of pulling a
corpus-sized result onto the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame


class CollectBoundExceeded(ValueError):
    """A driver collect found more rows than its bound allows."""


def bounded_collect(df: DataFrame, max_rows: int, what: str, bound: str) -> list:
    """``df``'s rows, at most ``max_rows`` of them. Raises
    :class:`CollectBoundExceeded` naming ``what`` and the ``bound``
    setting when there are more."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise CollectBoundExceeded(
            f"{what} has more than {bound}={max_rows} rows"
        )
    return rows
