"""Order-preserving map-back (SURVEY §2.3 J1 + §2.6 W5).

Reference semantics (deduplication.py:64-95 with the mapping built
:24-61): every original input position re-attaches to the result
computed for its unique key, preserving input order. In Spark the
keep-first representative of each key is a min-id window
(``representative``, which the ``mapback_rep`` catalog query runs), and
order is restored by the carried input index (``with_input_idx``),
never by arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_input_idx(
    df: DataFrame, order_cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Explicit input index from a deterministic sort key (the reference's
    enumerate(); monotonically_increasing_id is partition-dependent so a
    semantic order column is required for cross-run determinism —
    ``order_cols`` must be a unique key).

    Scale shape: a plain ``Window.orderBy`` with no partition funnels the
    whole table through ONE reducer. Instead: range-repartition on the key
    (non-overlapping sorted ranges, partition id order == key order), rank
    within each partition, then add per-partition row-count offsets. The
    only unpartitioned window runs over the per-partition counts — one row
    per partition, never the data. localCheckpoint pins the (row -> _pid)
    mapping: the counts branch and the join probe would otherwise
    recompute it independently, and a nondeterministic upstream or
    divergent AQE decisions could hand the two subtrees different pids —
    silently wrong indices (the _two_level_offsets rule,
    operators/chunking.py)."""
    cols = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    base = parted.withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)
    local = base.withColumn(
        "_local",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)) - 1,
    )
    counts = base.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )  # over #partitions rows only — O(partitions), not O(rows)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("input_idx", (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_off")
    )


def representative(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """For every row, the id of its keep-first representative (min id per
    key — the insertion-order-first analog)."""
    w = Window.partitionBy(*key_cols)
    return df.withColumn("rep_id", F.min(id_col).over(w))
