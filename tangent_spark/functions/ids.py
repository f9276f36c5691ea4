"""Deterministic dense id assignment at scale.

id = global rank in sort order of a key column, computed without a
single-partition global window: range-partition on the key, rank
within each partition, add the exclusive prefix sum of partition
counts. Any sampled range boundaries give the same ids (ranges are
contiguous in key order), so results are reproducible across runs,
partitionings, and cluster sizes — unlike monotonically_increasing_id.

This replaces the reference's StringDictionary interning
(mathindexbase.h:146-178) for the cases where dense ints matter
(postings delta-encoding, expression ids)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(df: DataFrame, key: str, id_col: str, partitions: int | None = None) -> DataFrame:
    """Append id_col = rank of `key` (0-based, dense, deterministic).
    `key` values must be unique (dedupe first)."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    # count job and id job must see the same boundaries, so the ranged
    # rows are stored once. An eager local checkpoint, not persist(): the
    # returned frame is lazy, so no one could unpersist a cache entry,
    # while the ContextCleaner frees the checkpoint once it is unreachable.
    ranged = (
        df.repartitionByRange(p, key)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    if not counts:  # empty input: create_map() of zero entries won't analyze
        return ranged.drop("_pid").withColumn(id_col, F.lit(None).cast("long"))
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_col = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(key)
    out = ranged.withColumn(
        id_col, (off_col[F.col("_pid")] + F.row_number().over(w) - 1).cast("long")
    ).drop("_pid")
    return out
