"""P8: the reference's log taps, re-expressed as Spark observed metrics.

The reference LOG.info's every record at receive / parse / delayed-check
/ filter / notify / sink-insert (FlightEventAggregator.java:40, 61-69,
77, 82, 97, 120, 143, 162) and its QA strategy is grepping those logs
(readme.txt:88-89). Per-record driver-side logging is a scale
anti-pattern; the Spark-native equivalent is ``df.observe`` — metrics
are computed executor-side inside the existing codegen stage (zero
extra pass, zero shuffle) and surfaced per action (batch
``Observation``) or per micro-batch: the streaming fan-out
(streaming/job.py) taps every parsed micro-batch as ``parse_metrics``,
and readers take it straight off the query's progress
(``query.recentProgress[i].observedMetrics["parse_metrics"]``) — no
listener to register.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

def parse_metrics() -> tuple:
    """Aggregate expressions mirroring what the reference's log lines
    let an operator grep-count: events received, rejects (would-be
    crashes, quirk Q1), delayed flights seen (FEA:64-69,77).

    Built lazily — Column construction needs an active SparkContext.
    """
    return (
        F.count(F.lit(1)).alias("events_total"),
        F.sum(F.when(~F.col("_valid"), 1).otherwise(0)).alias("events_rejected"),
        F.sum(
            F.when(F.col("_valid") & (F.col("is_delayed") == 1), 1).otherwise(0)
        ).alias("events_delayed"),
    )


def observe_parse(parsed: DataFrame, observation: Observation | str) -> DataFrame:
    """Attach the parse-stage metrics to a parsed-events DataFrame.

    Pass an ``Observation`` for batch (read ``observation.get`` after an
    action) or a string name for streaming (read from each progress
    event's ``observedMetrics[name]``).
    """
    return parsed.observe(observation, *parse_metrics())
