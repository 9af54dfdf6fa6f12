"""Streaming rollup maintenance: Structured Streaming keeps the
router's pre-aggregates fresh as data lands.

The reference rebuilds its aggregate tables in a batch prepare step
(``prepare.py:138-144``); the Spark-first engine additionally maintains
them CONTINUOUSLY: a file-source stream of landed event parquet feeds
``prepare.refresh_rollups`` one micro-batch at a time via
``foreachBatch``. Because every stored measure is a sum-mergeable
partial (DECIMAL sums + long counts — ``prepare.rollup_frame``), the
merge is associative and the maintained rollup is BIT-identical to a
from-scratch rebuild no matter how the stream was chopped into batches
— which is exactly what lets the routed answer over a streamed-in
rollup hash-match the raw-scan oracle.

Delivery semantics: the file source's checkpoint gives at-least-once
replay of uncommitted batches; exactly-once comes from the PER-ROLLUP
batch marker committed INSIDE each rollup dir by the same atomic
rename that commits the folded data (``prepare.refresh_rollups``'s
``batch_id`` path, r7). A crash at ANY point — mid-fold, between the
swap and any bookkeeping, mid-multi-rollup — replays the batch, and
each rollup independently skips or re-folds exactly according to its
own committed marker. The agg_dir-level ``_last_batch`` file remains
as a cheap whole-batch fast path and a progress record; correctness
no longer depends on it.

The exactly-once ``foreachBatch`` runner, :func:`exactly_once_stream`,
takes the fold as its argument; the BM25 text index's streaming
maintenance (``textindex.streaming_text_index_maintenance``) runs on it
too.

Scale: each micro-batch shuffles |batch grain| + |rollup grain| rows —
delta-bounded, never the fact table; the stream never holds aggregate
state in memory (the rollup ON DISK is the state), so there is no
watermark and no state store to size.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from query_planner_optimizer_spark.operators.indexstore import write_atomic


def exactly_once_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    marker: str,
    fold: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start (and return) a ``readStream`` over the parquet landing dir
    whose ``foreachBatch`` calls ``fold(batch_df, batch_id)`` once per
    batch. ``marker`` records the last folded batch id, written
    atomically after the fold, so a restart that replays a batch the
    fold already applied (a crash between the fold and the checkpoint
    commit) skips it instead of folding it twice. With
    ``trigger(availableNow=True)`` the run is finite — callers
    ``awaitTermination`` on the returned query."""
    def _last() -> int:
        if not os.path.exists(marker):
            return -1
        with open(marker) as f:
            txt = f.read().strip()
        return int(txt) if txt else -1

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _last():
            return  # already folded + recorded: restart replay no-op
        fold(batch_df, batch_id)
        write_atomic(marker, str(batch_id))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(landing_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_rollup_maintenance(
    spark: SparkSession,
    landing_dir: str,
    agg_dir: str,
    checkpoint_dir: str,
    rollups: dict[str, dict],
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start (and return) the maintenance stream. Landing files must
    carry the rollup key columns (write them from an augmented frame —
    the derived time columns are ordinary columns on disk). Callers
    ``awaitTermination`` on the returned query; with
    ``trigger(availableNow=True)`` the run is finite."""
    from query_planner_optimizer_spark.prepare import refresh_rollups

    os.makedirs(agg_dir, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        refresh_rollups(spark, batch_df, agg_dir, rollups,
                        batch_id=batch_id)

    return exactly_once_stream(
        spark, landing_dir, schema, checkpoint_dir,
        os.path.join(agg_dir, "_last_batch"), fold, max_files_per_trigger)
