"""Ledgered store for the persisted near-dup and SemDeDup indexes: the
one module that knows the index ledger format and its replay rules.
The reference appends to immutable files and makes a retried task a
no-op once its output exists (SURVEY.md §0); this is that guarantee
for an index that daily batches extend in place.

On-disk format (one ``index_dir`` per index):

- The meta file: ``_neardup_index.json`` (near-dup: ``bands/``,
  ``shingles/``) or ``_semdedup_index.json`` (SemDeDup: ``cells/``,
  ``centroids/``). It holds ``version`` (1 is the only layout
  accepted — anything else fails loudly before any work), the
  family's build parameters, and the two ledger keys: ``pending``
  (batch ids whose placement has started) and ``appended`` (batch ids
  fully placed). Every meta write is tmp + rename, so a crash never
  leaves a truncated json that would brick the retry.
- A batch's part files: ``<table>/batch-<tag>-NNNNN.parquet``, where
  ``<tag>`` is the batch id with every character outside
  ``[A-Za-z0-9._-]`` replaced by ``_``.
- A batch's staging dir: ``_append_<tag>`` (SemDeDup) or
  ``_append_<table>_<tag>`` (near-dup).

Append and replay contract (:func:`append`):

1. A batch id already in ``appended`` is a no-op — no frame is even
   built.
2. Otherwise the id goes into ``pending`` (written BEFORE any file
   lands), then each table is staged with ``mode=overwrite``, its
   ``batch-<tag>-`` files from a crashed attempt are swept, and the
   staged parts move in under deterministic names
   (:func:`staged_append`).
3. One final meta write moves the id from ``pending`` to ``appended``;
   a family's commit hook (SemDeDup's cell histogram) rides the same
   write, so a ledger hit implies the hook's state covers the batch.

A crash at any point leaves the id pending, and replaying the same
call converges to exactly one copy of the batch in every table.
Compaction and removal rename the batch-prefixed files away, so they
refuse while any batch is pending or a staging dir is left
(:func:`guard`) — a replay after them would place the batch twice.
The ledger survives compaction and removal: a replayed append of a
removed batch still no-ops (removal is the newer fact; re-inserting
needs a new batch id).

Single writer: the ledger is a read-modify-write of the meta json, so
concurrent appends — or an append racing a compaction — can lose an
entry. Serialize all mutations of one index dir (appends, compactions,
removals, rebuilds) behind one scheduler slot; concurrent reads
(admits, searches) are fine against a quiesced index. File operations
are driver-local; they map 1:1 onto the Hadoop FileSystem API.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class _Family(NamedTuple):
    meta: str  # meta file name under index_dir
    tables: tuple[str, ...]  # tables an append places into
    staging: str  # staging dir name, formatted with table= and tag=


_FAMILIES = {
    "neardup": _Family(
        "_neardup_index.json", ("bands", "shingles"), "_append_{table}_{tag}"
    ),
    "semdedup": _Family("_semdedup_index.json", ("cells",), "_append_{tag}"),
}


def meta_path(index_dir: str, family: str) -> str:
    return os.path.join(index_dir, _FAMILIES[family].meta)


def read_meta(index_dir: str, family: str) -> dict:
    """Load the meta and check its layout version: an index from a
    different layout (or a missing meta) fails before any work."""
    with open(meta_path(index_dir, family)) as f:
        meta = json.load(f)
    if meta.get("version") != 1:
        raise ValueError(
            f"{family} index at {index_dir!r}: unsupported layout version "
            f"{meta.get('version')!r} (expected 1) — rebuild the index"
        )
    return meta


def write_meta(index_dir: str, family: str, meta: dict) -> None:
    """Crash-atomic meta write (tmp + rename)."""
    path = meta_path(index_dir, family)
    with open(path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(path + ".tmp", path)


def batch_tag(batch_id: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", batch_id)


def committed(meta: dict, batch_id: str) -> bool:
    return batch_id in meta.get("appended", [])


def append(
    index_dir: str,
    family: str,
    batch_id: str,
    tables: Callable[[dict], dict[str, tuple[DataFrame, str]]],
    on_commit: Callable[[dict], None] | None = None,
) -> None:
    """Place one batch into every table of the index under the ledger
    (see the module docstring). ``tables(meta)`` returns
    ``{table: (frame, cluster_col)}`` built from the index's own meta,
    so a batch can only ever be placed under the index's parameters;
    it is not called for a committed batch. ``on_commit(meta)`` may
    add to the meta before the final write."""
    meta = read_meta(index_dir, family)
    if committed(meta, batch_id):
        return
    frames = tables(meta)
    if batch_id not in meta.setdefault("pending", []):
        meta["pending"].append(batch_id)
        write_meta(index_dir, family, meta)
    tag = batch_tag(batch_id)
    for table, (df, cluster_col) in frames.items():
        staged_append(
            df, os.path.join(index_dir, table),
            staging_dir=os.path.join(
                index_dir, _FAMILIES[family].staging.format(table=table, tag=tag)
            ),
            prefix=f"batch-{tag}-", cluster_col=cluster_col,
        )
    meta["pending"].remove(batch_id)
    meta.setdefault("appended", []).append(batch_id)
    if on_commit is not None:
        on_commit(meta)
    write_meta(index_dir, family, meta)


def staged_append(
    df: DataFrame,
    dest_dir: str,
    staging_dir: str,
    prefix: str,
    cluster_col: str | None = None,
) -> None:
    """Idempotent parquet append: write ``df`` to ``staging_dir`` with
    ``mode=overwrite`` (a replayed attempt rewrites the stage, never
    doubles it), sweep any ``prefix``-named files a crashed earlier
    attempt left in ``dest_dir``, then move the staged parts in under
    deterministic ``prefix``-derived names. Replaying the whole
    sequence after a crash at ANY point converges to exactly one copy;
    the ledger in :func:`append` makes a completed one short-circuit."""
    rep = df.repartition(F.col(cluster_col)) if cluster_col else df
    rep.write.mode("overwrite").parquet(staging_dir)
    _sweep(dest_dir, prefix)
    parts = sorted(
        f for f in os.listdir(staging_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    for i, f in enumerate(parts):
        os.replace(
            os.path.join(staging_dir, f),
            os.path.join(dest_dir, f"{prefix}{i:05d}.parquet"),
        )
    shutil.rmtree(staging_dir, ignore_errors=True)


def _sweep(dest_dir: str, prefix: str) -> None:
    for f in os.listdir(dest_dir):
        if f.startswith(prefix):
            os.remove(os.path.join(dest_dir, f))


def sweep_pending(index_dir: str, family: str, meta: dict, batch_id: str) -> None:
    """Remove whatever a crashed append of a still-pending ``batch_id``
    placed: its ``batch-<tag>-`` part files in every table and its
    staging dirs. For a caller that must READ the index before it
    replays the append (the stream gate admits first, and must admit
    against the index the first attempt saw). No-op unless the
    batch is pending; the replayed :func:`append` places it again."""
    if batch_id not in meta.get("pending", []):
        return
    fam, tag = _FAMILIES[family], batch_tag(batch_id)
    for table in fam.tables:
        _sweep(os.path.join(index_dir, table), f"batch-{tag}-")
        shutil.rmtree(
            os.path.join(index_dir, fam.staging.format(table=table, tag=tag)),
            ignore_errors=True,
        )


def guard(index_dir: str, family: str) -> dict:
    """Read the meta for a compaction or removal, refusing while an
    append is in flight or crashed mid-placement. Either signal
    blocks: ``pending`` ids in the meta, or a leftover ``_append_*``
    staging dir (an attempt that crashed before its cleanup). Returns
    the meta."""
    meta = read_meta(index_dir, family)
    pending = meta.get("pending", [])
    staging = sorted(
        d for d in os.listdir(index_dir)
        if d.startswith("_append_") and os.path.isdir(os.path.join(index_dir, d))
    )
    if pending or staging:
        raise RuntimeError(
            f"index at {index_dir!r} has append(s) in flight or crashed "
            f"mid-placement (pending batch_ids: {pending!r}; staging "
            f"dirs: {staging!r}) — rewriting it now would erase the "
            f"batch-prefixed files their retries sweep, so a replay "
            f"would double-place the batch. Replay {family}_index_append "
            "for each named batch to completion (idempotent; clears the "
            "marker), then retry."
        )
    return meta
