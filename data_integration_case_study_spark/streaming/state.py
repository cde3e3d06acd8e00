"""The one stateful foreachBatch loop: drain a stream into a directory of
state, one crash-safe commit per micro-batch.

Every streaming state keeper in the engine (CDC snapshot, IVM snapshot +
aggregate, the sketch tables) is the same loop: read the last committed
state, fold the micro-batch into it, write the result, commit. The
commit is :func:`~data_integration_case_study_spark.sources.sinks.
commit_dir` (stage, then swap), so a failed or crashed batch never
destroys the state it was folding into.

Exactly-once under checkpoint replay: each committed directory carries
an ``_APPLIED`` marker naming the checkpoint and the batch id it holds.
A batch the marker already covers is skipped, so additive folds (count
sums, signed deltas) never double-count, and a crash anywhere before
the commit leaves the old state and the old marker, so the replay
recomputes from a consistent starting point. A new checkpoint over
existing state applies all its batches. Spark's readers skip files
whose names start with ``_``, so the marker is invisible to them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from data_integration_case_study_spark.sources.sinks import (
    commit_dir,
    committed_dir,
)

_MARKER = "_APPLIED"


def _applied(state_dir: str) -> dict | None:
    d = committed_dir(state_dir)
    if d is None or not os.path.exists(os.path.join(d, _MARKER)):
        return None
    with open(os.path.join(d, _MARKER)) as f:
        return json.load(f)


def drain_into(stream: DataFrame, state_dir: str, checkpoint_dir: str, update):
    """Drain ``stream`` (availableNow: everything pending, then stop) and
    fold each micro-batch into the state at ``state_dir``.

    ``update(batch_df, prev_dir, out_dir)`` reads the committed state
    from ``prev_dir`` (None before the first commit) and writes the new
    state into the fresh directory ``out_dir``. Returns the started
    query; the caller awaits it."""
    checkpoint = os.path.abspath(checkpoint_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied = _applied(state_dir)
        if (
            applied is not None
            and applied["checkpoint"] == checkpoint
            and applied["batch_id"] >= batch_id
        ):
            return  # checkpoint replay of a batch already committed

        def write(out_dir: str) -> None:
            update(batch_df, committed_dir(state_dir), out_dir)
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, _MARKER), "w") as f:
                json.dump({"checkpoint": checkpoint, "batch_id": batch_id}, f)

        commit_dir(state_dir, write)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
