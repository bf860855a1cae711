"""Streaming semantic-dedup gate: `incremental_semdedup` as a
Structured Streaming sink (engine extension; the reference is
batch-only — SURVEY.md §2.10 — and its ingest tail is cron-shaped; a
continuous embedding feed needs the SAME daily-gate economics per
micro-batch).

``semdedup_gate_writer`` returns a ``foreachBatch`` function that, per
micro-batch: admits the batch against the persisted cell index
(functions/vectors.py:incremental_semdedup — chunked GEMM admit,
nprobe, SQ8 all apply unchanged), anti-joins the duplicate pairs off
(incremental_semdedup_keep), lands the survivors under a
batch-deterministic path, and appends them to the index under the
write-ahead ledger.

Exactly-once: Structured Streaming may REPLAY a micro-batch after a
failure (same ``batch_id``). Every side effect here is keyed on that
id — the survivors land at ``out_dir/gate_batch=<id>`` with
``mode=overwrite`` (the standard idempotent-foreachBatch pattern), and
the index append passes ``batch_id='stream-<id>'`` into the meta
ledger, so a replay overwrites the same files and no-ops the append
instead of double-placing vectors. The admit itself drops a hit on the
probe's own id, so a batch never pairs with its own indexed copy. Two
more rules keep a replay from judging the batch against an index the
first attempt did not see:

- A COMMITTED batch is skipped whole: its survivors are already landed
  and indexed, so the replay is a no-op that launches no Spark job and
  leaves the landed files untouched. Re-admitting would run against an
  index that later batches may have extended, and a multi-probe admit
  is not symmetric (this batch's probes can reach a later survivor
  whose own probes never reached this batch's cell), so the rewritten
  survivors could disagree with the copy the index holds.
- A CRASHED append (id still ``pending``, files possibly half-placed)
  is swept BEFORE the admit. The half-placed rows are this batch's
  own survivors under other ids, and the admit would compare the batch
  against them through the vs-index leg, which probes ``nprobe``
  cells, while the first attempt compared batch rows with each other
  only within their primary cell. Two survivors in neighbouring cells
  would then drop each other on the replay.

Both rules are pinned in ``tests/test_vectors.py``
(``test_streaming_semdedup_gate``,
``test_streaming_semdedup_gate_crash_replay_multiprobe``).

Concurrency contract: ONE streaming query per index_dir (micro-batches
within a query are already serial). The index meta ledger is
single-writer — see :mod:`siskin_spark.index_store`.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


def semdedup_gate_writer(
    index_dir: str,
    out_dir: str,
    *,
    threshold: float = 0.95,
    engine: str = "gemm",
    append: bool = True,
    nprobe: int = 1,
    batch_id_prefix: str = "stream",
    **admit_kwargs,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callable for
    ``stream.writeStream.foreachBatch(...)``. The batch frame must
    carry the index's id/vector columns (meta ``id_col``/``vec_col``,
    same contract as the batch admit). ``admit_kwargs`` pass through
    to :func:`~siskin_spark.functions.vectors.incremental_semdedup`
    (``batch_chunk_rows``, ``batch_budget_bytes``,
    ``max_batch_cell_rows``, ...).

    Scale: each micro-batch costs one batch-sized GEMM assignment +
    co-cell compares — the index never reshuffles, the driver/broadcast
    bound stays the admit CHUNK, and the survivors parquet write is
    partition-parallel. Backlog catch-up (``availableNow`` over a
    directory feed) and live tailing run the identical code path.
    """
    from siskin_spark import index_store
    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        incremental_semdedup_keep,
        semdedup_index_append,
    )

    def gate(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        meta = index_store.read_meta(index_dir, "semdedup")
        id_col = meta.get("id_col", "vec_id")
        ledger_id = f"{batch_id_prefix}-{int(batch_id)}"
        if append and index_store.committed(meta, ledger_id):
            # replay of a COMMITTED batch: survivors are already on
            # disk and in the index; re-admitting against a possibly
            # extended index could rewrite them differently
            return
        if append:
            # replay of a CRASHED append (files may be half-placed):
            # sweep them BEFORE the admit, so it sees the index the
            # first attempt saw — the multi-probe vs-index leg would
            # otherwise pair survivors across neighbouring cells. The
            # append retry sweeps too, but the gate ADMITS before it
            # appends. The append below recounts the stale histogram.
            index_store.sweep_pending(index_dir, "semdedup", meta, ledger_id)
        pairs = incremental_semdedup(
            spark,
            batch,
            index_dir,
            threshold=threshold,
            engine=engine,
            nprobe=nprobe,
            **admit_kwargs,
        )
        kept = incremental_semdedup_keep(batch, pairs, id_col=id_col)
        # batch-deterministic landing: a replay overwrites, never dups
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"gate_batch={int(batch_id)}")
        )
        if append:
            survivors = spark.read.parquet(
                os.path.join(out_dir, f"gate_batch={int(batch_id)}")
            )
            semdedup_index_append(survivors, index_dir, batch_id=ledger_id)

    return gate
