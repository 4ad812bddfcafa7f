"""B2 — stable turn ordering.

Reference analogue: pysql2neo4j pages each table with ``ORDER BY pk LIMIT
.. OFFSET ..`` [recon: rdbmsproc.py]; the Spark-native equivalent is a
window over (conv_id, turn_idx) that assigns a stable ordinal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_stable_order(df: DataFrame) -> DataFrame:
    """Attach ``turn_ord`` = row_number over (conv_id, turn_idx, ts).

    (conv_id, turn_idx) is unique by contract; ts breaks ties defensively
    if an upstream producer violates it. This is the anchor of the
    per-turn text-equality invariant [BASELINE.json:15]: any shuffle /
    input order yields identical (conv_id, turn_ord, text) rows —
    asserted in tests/test_invariants.py.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return df.withColumn("turn_ord", F.row_number().over(w))
