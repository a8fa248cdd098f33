"""Pipeline metrics instrumentation (reference §2.9: Prometheus counters
around cleaning, LLM calls, and streaming — operators/data_cleaning.py:31-34,
kafka/streaming.py:20-22).

Spark-first equivalents:
- Batch: ``df.observe()`` named metrics — collected on the driver when the
  action completes, zero extra passes over the data. ``write_counted`` is
  how the batch pipeline counts every table it writes.
- Streaming: a ``StreamingQueryListener`` exposing per-batch row counts
  (the consumer-lag-style metrics the docx asks for).
Export to Prometheus is a driver-side concern (prometheus_client, not
bundled); these helpers produce the numbers.
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


class BatchProgressListener:
    """StreamingQueryListener collecting per-batch input row counts.

    Import-guarded so environments without the listener API degrade softly.
    """

    def __init__(self):
        self.batches: list[dict] = []
        try:
            from pyspark.sql.streaming import StreamingQueryListener
        except ImportError:  # pragma: no cover
            self.listener = None
            return

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                try:
                    duration = (p.durationMs or {}).get("triggerExecution")
                except Exception:
                    duration = None
                outer.batches.append(
                    {
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "sink": str(p.sink.description) if p.sink else None,
                        "batch_duration_seconds": (
                            duration / 1000.0 if duration is not None else None
                        ),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def attach(self, spark) -> None:
        if self.listener is not None:
            spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)

    @property
    def total_rows(self) -> int:
        return sum(b["num_input_rows"] for b in self.batches)
