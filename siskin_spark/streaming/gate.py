"""The daily gate, written once for both persisted index families:
admit a batch against the index, keep its survivors, land them, and
append them to the index under the write-ahead ledger
(:mod:`siskin_spark.index_store`). ``neardup-batch``,
``semdedup-batch`` and the streaming sink all run :func:`gate_batch`;
the sink is an engine extension (the reference is batch-only —
SURVEY.md §2.10 — and its ingest tail is cron-shaped; a continuous
embedding feed needs the SAME daily-gate economics per micro-batch).

Per batch, in order: admit (``incremental_neardup`` /
``incremental_semdedup``), land the pairs when asked, keep
(``incremental_keep`` / ``incremental_semdedup_keep``), land the
survivors with ``mode=overwrite``, and append the re-read survivors
(``neardup_index_append`` / ``semdedup_index_append``) under the
batch id.

Replay contract (both families). A retried batch — a rerun daily
verb with the same ``--append-survivors`` id, or a micro-batch that
Structured Streaming replays after a failure — must converge to the
first attempt's survivors and exactly one indexed copy. Every side
effect is keyed on the batch: the survivors land at a
batch-deterministic path with ``mode=overwrite`` (the standard
idempotent-foreachBatch pattern), and the append passes the batch id
into the ledger. The admit itself drops a hit on the probe's own id,
so a batch never pairs with its own indexed copy. Two more rules keep
a replay from judging the batch against an index the first attempt
did not see:

- A COMMITTED batch is skipped whole: its survivors are already landed
  and indexed, so the replay is a no-op that launches no Spark job and
  leaves the landed files untouched. Re-admitting would run against an
  index that later batches may have extended, and a multi-probe admit
  is not symmetric (this batch's probes can reach a later survivor
  whose own probes never reached this batch's cell), so the rewritten
  survivors could disagree with the copy the index holds.
- A CRASHED append (id still ``pending``, files possibly half-placed)
  is swept BEFORE the admit. The half-placed rows are this batch's
  own survivors under other ids, so the admit would pair the batch
  with them through its vs-index leg and drop both sides of a
  batch-internal pair (near-dup), or two survivors in neighbouring
  cells (SemDeDup: the vs-index leg probes ``nprobe`` cells, while
  the first attempt compared batch rows with each other only within
  their primary cell). The append retry sweeps too, but the gate
  ADMITS before it appends.

Batch boundaries matter at SemDeDup ``nprobe > 1``, for the same
reason: two near-duplicates in neighbouring cells both survive when
they arrive in one batch (batch-internal pairs are compared within
the primary cell only) and lose the later one when they arrive in two
(the second batch's vs-index leg probes the first one's survivor).

Both rules and the boundary rule are pinned in ``tests/`` for each
caller (``test_streaming_semdedup_gate``,
``test_streaming_semdedup_gate_crash_replay_multiprobe``,
``test_semdedup_gate_batch_boundary``, ``test_gate_matches_by_hand``,
``test_append_replay_is_idempotent``, ``test_crash_replay_converges``,
``test_cli_daily_oneliner_append_survivors_and_compact``).

Concurrency contract: ONE gate per index_dir at a time (micro-batches
within a streaming query are already serial). The index meta ledger
is single-writer — see :mod:`siskin_spark.index_store`.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame

from siskin_spark import index_store
from siskin_spark.functions.vectors import (
    incremental_semdedup,
    incremental_semdedup_keep,
    semdedup_index_append,
)
from siskin_spark.operators.neardup import (
    incremental_keep,
    incremental_neardup,
    neardup_index_append,
)


def gate_batch(
    family: str,
    batch: DataFrame,
    index_dir: str,
    kept_path: str,
    *,
    batch_id: str | None = None,
    pairs_path: str | None = None,
    **admit,
) -> bool:
    """Run the daily gate for one batch of the ``family``
    (``'neardup'`` or ``'semdedup'``) index at ``index_dir`` under the
    replay contract of this module: survivors land at ``kept_path``,
    the admit's pairs at ``pairs_path`` when given, and with a
    ``batch_id`` the survivors are appended to the index under it
    (without one the index is left untouched). ``admit`` passes
    through to the family's admit (near-dup: ``id_col``, ``text_col``,
    ``threshold``; SemDeDup: ``threshold``, ``engine``, ``nprobe``,
    ...). Returns False when ``batch_id`` is already committed — the
    replay is skipped whole and nothing runs."""
    spark = batch.sparkSession
    meta = index_store.read_meta(index_dir, family)
    if batch_id is not None:
        if index_store.committed(meta, batch_id):
            return False
        index_store.sweep_pending(index_dir, family, meta, batch_id)
    if family == "neardup":
        id_col = admit.get("id_col", "doc_id")
        pairs = incremental_neardup(spark, batch, index_dir, **admit)
        keep = partial(incremental_keep, id_col=id_col)
        append = partial(
            neardup_index_append, index_dir=index_dir, id_col=id_col,
            text_col=admit.get("text_col", "text"),
        )
    else:
        pairs = incremental_semdedup(spark, batch, index_dir, **admit)
        keep = partial(incremental_semdedup_keep, id_col=meta["id_col"])
        append = partial(semdedup_index_append, index_dir=index_dir)
    if pairs_path is not None:
        pairs.write.mode("overwrite").parquet(pairs_path)
        pairs = spark.read.parquet(pairs_path)
    keep(batch, pairs).write.mode("overwrite").parquet(kept_path)
    if batch_id is not None:
        append(spark.read.parquet(kept_path), batch_id=batch_id)
    return True


def semdedup_gate_writer(
    index_dir: str, out_dir: str, *, append: bool = True, **admit
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callable for
    ``stream.writeStream.foreachBatch(...)``: micro-batch ``n`` runs
    :func:`gate_batch` with its survivors at ``out_dir/gate_batch=<n>``
    and ledger id ``stream-<queryId>-<n>`` (``append=False`` gates
    without touching the index). The query id is stored in the
    checkpoint, so a restarted query replays under the same ids, while
    a fresh checkpoint, which restarts ``n`` at 0, gets a new id and
    its batches are not mistaken for the old stream's committed ones.
    Give each checkpoint its own ``out_dir``: a fresh checkpoint's
    batch ``n`` overwrites the survivors an earlier stream landed at
    ``gate_batch=<n>`` (their indexed copies stay). Appending needs
    the query id, so outside ``foreachBatch`` the callable raises
    ValueError. The batch frame must carry the index's
    id/vector columns (meta ``id_col``/``vec_col``, same contract as
    the batch admit). ``admit`` passes through to
    :func:`~siskin_spark.functions.vectors.incremental_semdedup`
    (``threshold``, ``engine``, ``nprobe``, ``batch_chunk_rows``, ...).

    Scale: each micro-batch costs one batch-sized GEMM assignment +
    co-cell compares — the index never reshuffles, the driver/broadcast
    bound stays the admit CHUNK, and the survivors parquet write is
    partition-parallel. Backlog catch-up (``availableNow`` over a
    directory feed) and live tailing run the identical code path.
    """

    def gate(batch: DataFrame, batch_id: int) -> None:
        n = int(batch_id)
        ledger_id = None
        if append:
            sc = batch.sparkSession.sparkContext
            query_id = sc.getLocalProperty("sql.streaming.queryId")
            if query_id is None:
                raise ValueError(
                    "semdedup_gate_writer's callable appends under the "
                    "streaming query id and runs inside foreachBatch only"
                )
            ledger_id = f"stream-{query_id}-{n}"
        gate_batch(
            "semdedup", batch, index_dir,
            os.path.join(out_dir, f"gate_batch={n}"),
            batch_id=ledger_id, **admit,
        )

    return gate
