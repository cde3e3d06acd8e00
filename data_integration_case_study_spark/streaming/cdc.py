"""Streaming CDC apply: a change stream merged into a keyed parquet
snapshot, one micro-batch at a time.

This is the lake-format-agnostic MERGE INTO loop: each micro-batch is
applied with :func:`~data_integration_case_study_spark.operators.merge.
merge_upsert` (last-wins by version) and the new snapshot is committed
through :func:`~data_integration_case_study_spark.streaming.state.
drain_into` (stage, then swap; replayed batches skipped). On a
transactional table format (Delta/Iceberg/Hudi) the commit becomes the
format's own MERGE commit and this function shrinks to one line — the
dataflow (stream → keyed merge → snapshot) is identical, which is the
point of demonstrating it without the format dependency.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from data_integration_case_study_spark.operators.merge import merge_upsert
from data_integration_case_study_spark.streaming.state import drain_into


def run_streaming_merge(
    spark: SparkSession,
    source_dir: str,
    schema,
    target_dir: str,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
):
    """Drain ``source_dir`` as a stream and merge every micro-batch into
    the parquet snapshot at ``target_dir`` (availableNow trigger: process
    everything pending, then stop — the restartable batch-of-streams
    deployment shape)."""

    def update(batch_df, prev_dir, out_dir):
        if prev_dir is None:
            target = batch_df.limit(0)
        else:
            target = batch_df.sparkSession.read.parquet(prev_dir)
        merge_upsert(target, batch_df, keys, version_col).write.parquet(out_dir)

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return drain_into(stream, target_dir, checkpoint_dir, update)
