"""Hub-vertex skew handling (SURVEY.md §4 item 1).

The reference's dense GPU arrays make key skew irrelevant; in Spark a
power-law graph's groupBy/join on vertex id skews (a 10^6-degree hub puts
10^6 rows in one shuffle partition). Two mitigations are used by the
engine: AQE skew-join splitting (session.py enables it) and, for the
pre-aggregations whose keys skew (label propagation's per-(node, label)
vote sums), an explicit two-stage salted partial aggregation. Louvain's
per-(node, community) candidate sums need neither: they never leave the
``src`` partition (operators/louvain_arrow.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_sum_by_key(
    df: DataFrame,
    keys: list[str],
    value: str,
    out: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage sum: groupBy(keys + salt) partial-sum, then groupBy(keys).

    Equivalent to ``df.groupBy(keys).agg(sum(value))`` but splits a hot
    key across ``salt_buckets`` reducers in the first stage. (Spark
    already performs map-side partial aggregation; this helps when a
    single key's post-partial volume still skews — i.e. extremely many
    distinct map partitions all feeding one hub key.)
    """
    # deterministic salt: hash every column so the same row always lands in
    # the same bucket (safe across task retries, unlike rand/monotonic ids)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(out))


def skewed_degree_trigger(max_degree: float, total_degree: float, npart: int) -> bool:
    """True when one vertex's degree exceeds 4× the average
    shuffle-partition load — i.e. a single key would dominate a reducer.

    Uses weighted degree as the row-count proxy (unit edge weights make
    them equal; coarsened weights only overestimate, which is the safe
    direction). Scale-correct by construction: the trigger point grows
    with the cluster (npart) and the data (total_degree) together.
    """
    if npart <= 0 or total_degree <= 0:
        return False
    return max_degree > 4.0 * (total_degree / npart)
