"""Row counts observed in the write that lands a frame.

The reference's merge statements return the rows they touched; the
Spark analogue is a ``pyspark.sql.Observation`` riding the write's own
job, so learning a count costs no second pass over what was landed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed_write(df: DataFrame, write: Callable[[DataFrame], object]) -> int:
    """Run ``write`` on ``df`` with a ``count(*)`` observation attached
    and return the rows the write saw. ``write`` must run exactly one
    action over the frame it is given (a ``DataFrameWriter`` save or a
    helper wrapping one)."""
    return observed_counts(df, write, rows=F.lit(True))["rows"]


def observed_counts(
    df: DataFrame, write: Callable[[DataFrame], object], **where: Column
) -> dict[str, int]:
    """``observed_write`` with one named count per condition: the rows
    of ``df`` where each holds. ``write`` may narrow the frame before
    its one action (a filter before the save); the counts are of ``df``
    as given. Observe above any join the optimizer may drop: an
    observation under a join that AQE replaces by an empty relation
    never reports."""
    obs = Observation()
    write(df.observe(obs, *[F.count_if(c).alias(n) for n, c in where.items()]))
    return {n: obs.get[n] for n in where}
