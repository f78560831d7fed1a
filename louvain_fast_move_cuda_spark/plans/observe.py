"""One-job scalar reductions for the iterative operators.

Louvain (round and level scalars) and connected components (the star
round's set fingerprint) each need a few exact reductions per superstep,
and usually also need a lazy ``localCheckpoint`` materialized. Both come
from one noop write that observes the reductions while it scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


def observed(df: DataFrame, name: str, *metrics) -> dict:
    """Aggregate ``metrics`` over ``df`` in ONE map-only job.

    The metrics are observed (``DataFrame.observe``) while a noop write
    scans ``df`` — no aggregate exchange, so one job instead of a
    partial+final pair, and every lazy checkpoint under ``df``
    materializes inside it. The observing scan is the job's result stage,
    whose per-partition updates Spark merges exactly once even when a
    task is retried. Callers observe only merge-order-independent
    reductions (counts, XORs, sums of integer-valued float64), so the
    result cannot change a bit with the partitioning."""
    obs = Observation(name)
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get
