"""Row counts observed in the write that lands a frame.

The reference's merge statements return the rows they touched; the
Spark analogue is a ``pyspark.sql.Observation`` riding the write's own
job, so learning a count costs no second pass over what was landed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_write(df: DataFrame, write: Callable[[DataFrame], object]) -> int:
    """Run ``write`` on ``df`` with a ``count(*)`` observation attached
    and return the rows the write saw. ``write`` must run exactly one
    action over the frame it is given (a ``DataFrameWriter`` save or a
    helper wrapping one)."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]
