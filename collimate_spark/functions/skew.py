"""Skew-handling and join-strategy utilities.

AQE's skew-join splitting (on by default in session.py) handles most skew
at runtime by splitting oversized shuffle partitions. ``salted_join``
covers the case AQE cannot: a broadcast-ineligible right side joined on a
key whose hot values overwhelm single tasks even after splitting — the
classic power-law key (user_id of a bot, null-ish defaults) at 100 TB.

Mechanics: left rows get a random salt in [0, n_salts); right rows are
replicated once per salt value; the join key becomes (key, salt), so a hot
key's rows spread over n_salts tasks. Cost: right side inflates n_salts× —
use only when the right side is the smaller (but not broadcastable) one.

``fits_broadcast`` is the size gate for the other lever: hint a broadcast
for a measured, data-sized side only while it fits under the session's
broadcast threshold, and leave the shuffle join beyond it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def fits_broadcast(spark: SparkSession, n_rows: int, row_bytes: int) -> bool:
    """True when ``n_rows`` rows of about ``row_bytes`` each fit under
    spark.sql.autoBroadcastJoinThreshold — Spark's own parsed value, so
    every form the conf accepts ('10485760', '10MB', '1g') reads the
    same; -1 (broadcast disabled) counts as 0 bytes."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return n_rows * row_bytes <= max(threshold, 0)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `left.on == right.on` with the hot-key salt pattern.
    Output columns = left ∪ (right − key), like df.join(right, on, how) —
    but ONLY for left-preserving joins: the right side is replicated
    n_salts times, so 'right'/'full'/'outer' would emit each unmatched
    right row n_salts times, and right-side semi/anti see salted phantom
    rows. Supported: inner, left, left_semi, left_anti.

    Salting uses a deterministic spread (pmod of a hash of the row's other
    content is ideal; rand() would break retry determinism) — here the
    monotonically_increasing_id of the left row, stable within a job.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports left-preserving joins only {sorted(allowed)}; "
            f"got {how!r} — right-side replication breaks right/full semantics"
        )
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = l_salted.join(r_salted, [on, "__salt"], how)
    return joined.drop("__salt")
