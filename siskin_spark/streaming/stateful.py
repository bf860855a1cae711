"""Streaming keep-first dedup (engine extension; the reference is
batch-only — SURVEY.md §2.10 — but a continuous harvest tail needs
streaming-native dedup).

:func:`streaming_dedup_native` is the streaming counterpart of the
batch snapshot/dedup family (operators/dedup.py): keep the FIRST
record seen per key across micro-batches. It is JVM
``dropDuplicates`` / ``dropDuplicatesWithinWatermark`` —
whole-stage-codegen, state in the JVM state store, zero Python in the
loop. The state store is checkpoint-persisted, so re-running an
availableNow pipeline never re-emits old keys — the incremental-harvest
semantics the reference gets from file memoization, with exactly-once
bookkeeping instead of mtime comparisons.

Scale notes: state is hash-partitioned by key across executors. The
exact form keeps one entry per key ever seen; the watermarked form
expires a key once the watermark passes its first sighting, so state
tracks the watermark window instead of the key universe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def streaming_dedup_native(
    stream: DataFrame,
    key_cols: Sequence[str],
    event_time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """JVM-native streaming keep-first dedup.

    Without a watermark: ``dropDuplicates(key_cols)`` — exact
    cross-batch dedup with UNBOUNDED state (use when the key universe
    is bounded, e.g. a DOI snapshot).

    With ``event_time_col`` + ``watermark`` (both or neither):
    ``dropDuplicatesWithinWatermark(key_cols)`` on the watermarked
    stream — state for a key expires once the watermark passes its
    first sighting, so state size tracks the watermark window instead
    of the key universe. That bounded-state behavior is the production
    configuration for an unbounded harvest tail at 100 TB: a duplicate
    arriving LATER than the watermark delay re-emits (by then it is a
    re-harvest, not a duplicate), which is the same trade late data
    gets everywhere else in the watermarked pipeline.
    """
    if (event_time_col is None) != (watermark is None):
        raise ValueError(
            "pass event_time_col and watermark together (bounded-state "
            "variant) or neither (exact unbounded-state variant)"
        )
    if event_time_col is None:
        return stream.dropDuplicates(list(key_cols))
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
