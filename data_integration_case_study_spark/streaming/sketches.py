"""Streaming sketch maintenance: bounded profiling state over a stream.

A continuously-ingesting pipeline wants "distinct users per event type,
so far" without keeping every user id in streaming state. Because the
sketches MERGE (KMV: union -> re-rank -> cut; count-min, AMS and
histogram counters add; HLL registers take the max; the weighted
reservoir re-cuts a top-k, operators/sketches), every maintenance loop
here is the same fold: sketch the incoming microbatch, merge it with
the persisted sketch table, write the result as the new state. State
on disk is bounded per group forever; the merged sketch equals the
sketch of all data seen (the merge property, proven in
tests/test_warehouse.py and re-proven stream-vs-batch in
tests/test_streaming.py).

The fold runs on :func:`~data_integration_case_study_spark.streaming.
state.drain_into`: the merge reads the committed state and writes a
fresh directory, which is then committed by a stage-then-swap rename,
so a failed batch leaves the previous sketch readable. The commit
carries the applied batch id, so a checkpoint replay is skipped — the
additive merges (count-min, AMS, histogram) would double-count it, and
the idempotent ones (KMV, HLL, reservoir) need no special case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_integration_case_study_spark.operators.sketches import (
    kmv_merge_sketches,
    kmv_sketch_rows,
)
from data_integration_case_study_spark.streaming.state import drain_into


def _fold(stream: DataFrame, state_path: str, checkpoint_dir: str, sketch, merge):
    """Maintain ``sketch(batch)`` merged into the state at ``state_path``
    with ``merge(prev_state, batch_sketch)``; returns the started query."""

    def update(batch_df: DataFrame, prev_dir, out_dir: str) -> None:
        state = sketch(batch_df)
        if prev_dir is not None:
            state = merge(batch_df.sparkSession.read.parquet(prev_dir), state)
        state.write.parquet(out_dir)

    return drain_into(stream, state_path, checkpoint_dir, update)


def streaming_kmv_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    k: int = 64,
):
    """Maintain a KMV sketch table at ``state_path`` from a streaming
    frame. Each microbatch: sketch the batch, merge with the persisted
    state, commit. Returns the started query (caller awaits/stops)."""
    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: kmv_sketch_rows(b, group_cols, value_col, k),
        lambda prev, new: kmv_merge_sketches(prev, new, group_cols, k),
    )


def streaming_cms_sketch(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
):
    """Maintain a count-min frequency grid at ``state_path`` from a
    streaming frame: sketch each microbatch, ADD it counter-wise into
    the persisted grid, commit. State is <= depth*width counter rows
    forever. Counter addition is not idempotent; the commit's batch-id
    marker is what keeps a checkpoint replay from double-counting."""
    from data_integration_case_study_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: cms_build(b, key_col, depth, width, seed),
        cms_merge,
    )


def streaming_hll_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    p: int = 8,
):
    """Maintain a HyperLogLog register table at ``state_path`` from a
    streaming frame — the third streaming sketch next to KMV and CMS:
    the merge is an element-wise MAX. State: <= 2^p rows per group
    forever."""
    from data_integration_case_study_spark.operators.sketches import (
        hll_merge_registers,
        hll_register_rows,
    )

    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: hll_register_rows(b, group_cols, value_col, p),
        lambda prev, new: hll_merge_registers(prev, new, group_cols),
    )


def streaming_ams_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    d: int = 9,
    seed: int = 1009,
):
    """Maintain per-group AMS F2 counters at ``state_path`` from a
    streaming frame — the fourth streaming sketch: like count-min the
    merge is ADDITIVE (sign sums add across batches). State: one wide
    row per group (d counters + n_rows) forever."""
    from data_integration_case_study_spark.operators.sketches import (
        ams_counters,
        ams_merge,
    )

    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: ams_counters(b, group_cols, value_col, d, seed),
        lambda prev, new: ams_merge(prev, new, group_cols, d),
    )


def streaming_weighted_reservoir(
    stream: DataFrame,
    id_col: str,
    weight_col: str,
    state_path: str,
    checkpoint_dir: str,
    k: int = 100,
):
    """Maintain an EXACT-SIZE-k weighted sample (Efraimidis-Spirakis)
    over a stream — bounded-state sampling to go with the bounded-state
    sketches above: each row's key is ln(u)/w with u the ROW-CONTENT
    hash draw (weighted_reservoir_sample's snapped-key formula, no RNG
    state), and the reservoir is simply the k largest keys seen so far.
    Top-k-by-pure-key MERGES (union -> re-cut), so the maintenance loop
    is the same foreachBatch compaction as the KMV sketch: key the
    microbatch, union with the persisted reservoir, keep the k largest.

    State on disk: <= k rows forever. The streamed reservoir equals the
    batch sample of all data seen — asserted stream-vs-batch in tests."""
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.functions.text import hash60

    def keyed(df: DataFrame) -> DataFrame:
        h = hash60(F.col(id_col).cast("string"))
        u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
        key = F.floor(
            (F.log(u) / F.col(weight_col)) * F.lit(float(1 << 40)) + F.lit(0.5)
        ).cast("long")
        return df.select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("double").alias("weight"),
            key.alias("key_scaled"),
        )

    def cut(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("key_scaled"), F.asc("id")).limit(k)

    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: cut(keyed(b)),
        lambda prev, new: cut(prev.unionByName(new).distinct()),
    )


def streaming_histogram_sketch(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    state_path: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    bins: int = 256,
):
    """Maintain per-group fixed-width histogram bin counters at
    ``state_path`` from a streaming frame — the quantile-serving
    streaming sketch: the persisted counters answer p50/p95/p99 at any
    moment via ``operators/sketches.histogram_estimate`` without ever
    sorting or retaining raw values. Like count-min and AMS the merge
    is ADDITIVE (bin counters sum across batches). State: <= bins rows
    per group forever."""
    from data_integration_case_study_spark.operators.sketches import (
        histogram_bin_counts,
        histogram_merge,
    )

    return _fold(
        stream, state_path, checkpoint_dir,
        lambda b: histogram_bin_counts(b, group_cols, value_col, lo, hi, bins),
        lambda prev, new: histogram_merge(prev, new, group_cols),
    )
