"""Row counts observed in the write that lands a frame.

The reference's merge statements return the rows they touched; the
Spark analogue is a ``pyspark.sql.Observation`` riding the write's own
job, so learning a count costs no second pass over what was landed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from prefect_flow_arc_kg_postgres_etl_spark.sources import store


def observe(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Callable[[], dict]]:
    """Attach one ``Observation`` of the named aggregates to ``df``.
    Returns the observed frame and a function that returns
    ``{name: value}`` for the first action run over that frame; called
    before that action has finished, it waits for it. Observe above
    any join the optimizer may drop: an observation under a join that
    AQE replaces by an empty relation never reports. A frame observed
    once may appear twice in one plan (a clear-then-insert reads its
    batch for the keys and for the rows); both copies count the same
    rows and the observation reports that count."""
    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in aggs.items()])
    return observed, lambda: {n: obs.get[n] for n in aggs}


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
    as given."""
    observed, seen = observe(
        df, **{n: F.count_if(c) for n, c in where.items()}
    )
    write(observed)
    return seen()


def write_observed(
    df: DataFrame, table_path: str, watermark: str | None = None
) -> int:
    """Land ``df`` as the next version of the store table at
    ``table_path`` (``store.write_table``) and return the rows the
    write saw. With a ``watermark`` column, the same write observes
    ``max(watermark)`` and the version is landed with the summary
    ``{"max": {watermark: value}}``, which ``store.version_summary``
    reads back without a Spark job."""
    aggs = {"rows": F.count(F.lit(1))}
    if watermark is not None:
        aggs["max"] = F.max(watermark)
    observed, seen = observe(df, **aggs)
    store.write_table(
        observed,
        table_path,
        summary=(
            None if watermark is None
            else lambda: {"max": {watermark: seen()["max"]}}
        ),
    )
    return seen()["rows"]
