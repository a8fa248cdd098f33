"""Pipeline metrics instrumentation (reference §2.9: counters around
cleaning — operators/data_cleaning.py:31-34).

Spark-first equivalent: ``df.observe()`` named metrics, collected on the
driver when the action completes, with zero extra passes over the data.
``write_counted`` is how the batch pipeline counts every table it writes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def write_counted(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` on ``df`` and return the number of rows it wrote.

    The count is an ``observe()`` metric of the write action itself, so
    the output is never read back (a read-back ``count()`` costs a schema
    inference job plus a two-job count).
    """
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


@dataclass
class CleaningObservation:
    observation: Observation
    df: DataFrame

    @property
    def metrics(self) -> dict:
        return self.observation.get


def observe_cleaning(df: DataFrame, quality_col: str = "quality_score",
                     dup_col: str = "is_duplicate") -> CleaningObservation:
    """Attach the reference's cleaning gauges (records processed/flagged,
    duplicate rate, mean quality) as observe() metrics — free at action time."""
    obs = Observation("cleaning")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("records_total"),
        F.count(F.when(F.col(quality_col) < 100, 1)).alias("records_flagged"),
        F.avg(F.col(quality_col).cast("double")).alias("avg_quality_score"),
        F.avg(F.col(dup_col).cast("int")).alias("duplicate_rate"),
    )
    return CleaningObservation(obs, observed)

