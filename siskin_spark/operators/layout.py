"""Data-layout operators: target-size compaction and range-clustered
writes that turn parquet min/max footers into a data-skipping index.

Why this is an operator and not an ops script: at 100 TB the layout IS
the query plan. A time-window query over an events table laid out
randomly reads every file (each file's min/max spans the whole
timeline); the same table written ``repartitionByRange(event_time)``
+ sorted within partitions confines any window to the few files whose
footer range overlaps it — Spark's parquet reader drops the rest at
the row-group level from the pushed filter, before any IO beyond the
footer. The reference gets the equivalent effect from its date-stamped
artifact directories (one file tree per harvest date, e.g.
siskin/sources/crossref.py's daily slices); range layout is the
engine-native generalization to any orderable column.

``skipping_stats`` reads the same footers Spark's reader uses, so the
claimed skip is verifiable without inspecting executor metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from siskin_spark.session import plan_bytes


def _dir_parts(path: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    ]


def _files_for_target(total_bytes: int, target_file_mb: int) -> int:
    return max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))


#: ~512 TB at the default 128 MB target — generous for any real table,
#: far below the Int.MaxValue partition-count ceiling, and orders of
#: magnitude under the ~7e10 a stats-less plan's Long.MaxValue default
#: derives.
_MAX_DERIVED_FILES = 4_000_000


def write_range_layout(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int | None = None,
    target_file_mb: int = 128,
    sample_bytes_per_row: float | None = None,
) -> None:
    """Write ``df`` range-clustered on ``range_cols``: global range
    partitioning (sampled range boundaries — one extra pass Spark runs
    internally) plus a within-partition sort, so every output file owns
    a disjoint slice of the key space and its footer min/max is tight.

    ``n_files`` defaults from a size estimate: ``sample_bytes_per_row``
    times an exact count when given (one count job, no plan stats), else
    Catalyst's plan-level ``sizeInBytes`` divided by ``target_file_mb``
    (the estimate is pre-compression, so files land smaller than target
    — the safe side). Plan stats are only trustworthy for plans with
    real statistics (file scans, CBO-analyzed tables): stats-less plans
    default to ``spark.sql.defaultSizeInBytes`` (Long.MaxValue) and
    joins MULTIPLY child sizes, so a nonsense estimate would derive
    billions of files and break ``repartitionByRange`` (partition
    counts above Int.MaxValue). Derivations beyond
    ``_MAX_DERIVED_FILES`` are therefore rejected with instructions to
    pass ``n_files`` or ``sample_bytes_per_row`` explicitly. The
    within-partition sort costs nothing extra at scale:
    repartitionByRange already shuffles, and sorting the spill-merge
    output is how Spark materializes it anyway.
    """
    if n_files is None:
        if sample_bytes_per_row is not None:
            est = df.count() * sample_bytes_per_row
        else:
            est = plan_bytes(df)
        n_files = _files_for_target(int(est), target_file_mb)
        if n_files > _MAX_DERIVED_FILES:
            if sample_bytes_per_row is not None:
                # the estimate came from an exact count * the caller's
                # sample — re-suggesting sample_bytes_per_row would be
                # circular; a legitimately huge table needs n_files
                raise ValueError(
                    f"derived n_files={n_files} from count() * "
                    f"sample_bytes_per_row = {int(est)} bytes — beyond the "
                    f"{_MAX_DERIVED_FILES}-file sanity cap; pass n_files "
                    "explicitly (or raise target_file_mb) for a table this "
                    "large"
                )
            raise ValueError(
                f"derived n_files={n_files} from a {int(est)}-byte estimate — "
                "the plan has no real size statistics (Catalyst defaults "
                "stats-less plans to Long.MaxValue and multiplies across "
                "joins); pass n_files or sample_bytes_per_row explicitly"
            )
    cols = [F.col(c) for c in range_cols]
    (
        df.repartitionByRange(int(n_files), *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    cluster_by: list[str] | None = None,
    range_cluster: bool = False,
    row_group_mb: int | None = None,
) -> dict:
    """Rewrite a parquet directory into ``target_file_mb``-sized parts
    via write-aside + two renames. Cures the small-files problem every
    append-mode pipeline accumulates: a 1000-executor scan of 10M tiny
    files pays more in file-open/footer round-trips than in data, and
    driver-side listing alone can dominate. ``cluster_by`` keeps (or
    introduces) key clustering during the rewrite — hash clustering for
    join/agg keys; use :func:`write_range_layout` instead when the goal
    is range skipping.

    Consistency, stated honestly: each rename is atomic but the PAIR is
    not — between ``rename(path, old)`` and ``rename(tmp, path)`` the
    path briefly does not exist, and a reader that listed files before
    the swap can hit deleted parts mid-scan. The previous data is
    therefore KEPT at ``path + "__old"`` (removed only at the start of
    the next compaction): a crash inside the swap window is recoverable
    by renaming ``__old`` back, and a racing reader's retry window is
    the full inter-compaction gap rather than zero. True
    serve-while-compacting needs a manifest/snapshot layer (Delta/
    Iceberg); this is the strongest contract plain directory renames
    can give.

    Returns {files,bytes} before/after. Driver-local paths (mirrors
    the test environment); the rename dance maps 1:1 onto the Hadoop
    FileSystem API for cluster storage."""
    return rewrite_parquet(
        spark, path, target_file_mb=target_file_mb, cluster_by=cluster_by,
        range_cluster=range_cluster, row_group_mb=row_group_mb,
    )


def rewrite_parquet(
    spark: SparkSession,
    path: str,
    transform=None,
    target_file_mb: int = 128,
    cluster_by: list[str] | None = None,
    range_cluster: bool = False,
    row_group_mb: int | None = None,
) -> dict:
    """The write-aside + two-rename rewrite :func:`compact_parquet` is
    built on, generalized with an optional ``transform(df) -> df``
    applied during the rewrite — row-level deletes (index removals,
    retractions) ride the same one-rewrite cost and the same
    crash-recovery contract (previous data kept at ``path + "__old"``)
    as compaction, instead of needing a second mechanism. File count
    is sized from the PRE-transform bytes: for compaction that is the
    exact target math, for deletes it over-estimates by the deleted
    fraction (files land smaller than target — the safe side; a
    delete-heavy rewrite can pass ``target_file_mb`` accordingly).

    ``range_cluster=True`` lays ``cluster_by`` out as contiguous
    sorted RANGES (repartitionByRange + sortWithinPartitions) instead
    of hash partitions: hash clustering co-locates each key but mixes
    RANDOM keys per file, so every file's min/max spans ~the whole
    key domain and predicate pushdown skips nothing — range layout is
    what makes key-pruned scans (the semdedup index's cid reads) skip
    at row-group granularity. ``row_group_mb`` sets the parquet block
    size of the rewritten files: the row group IS the skip granule,
    so serving-read tables want it near the per-key byte size rather
    than the 128 MB scan-oriented default."""
    import shutil

    parts = _dir_parts(path)
    bytes_before = sum(os.path.getsize(p) for p in parts)
    n_files = _files_for_target(bytes_before, target_file_mb)
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    if cluster_by and range_cluster:
        cols = [F.col(c) for c in cluster_by]
        rep = df.repartitionByRange(int(n_files), *cols).sortWithinPartitions(
            *cols
        )
    elif cluster_by:
        rep = df.repartition(int(n_files), *[F.col(c) for c in cluster_by])
    else:
        rep = df.repartition(int(n_files))
    tmp, old = path + "__compacting", path + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    writer = rep.write.mode("overwrite")
    if row_group_mb is not None:
        writer = writer.option("parquet.block.size", row_group_mb << 20)
    writer.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    after = _dir_parts(path)
    return {
        "files_before": len(parts),
        "files_after": len(after),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(p) for p in after),
    }


def skipping_stats(path: str, column: str, lo, hi) -> dict:
    """How much of a parquet layout a ``lo <= column <= hi`` predicate
    can skip, computed from the SAME per-row-group min/max footer stats
    Spark's reader consults for pushed filters — so this certifies the
    skip a layout enables, independent of any engine's metrics.

    Returns files/row-groups/rows total vs needed (footer range
    overlaps [lo, hi]). A row group with no stats for ``column`` counts
    as needed (the reader must assume it matches)."""
    import pyarrow.parquet as pq

    files = rgs = rows = files_needed = rgs_needed = rows_needed = 0
    for part in _dir_parts(path):
        meta = pq.ParquetFile(part).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        if column not in idx:
            raise KeyError(f"{column} not in {part}")
        ci = idx[column]
        file_hit = False
        files += 1
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            rgs += 1
            rows += rg.num_rows
            st = rg.column(ci).statistics
            need = (
                st is None
                or not st.has_min_max
                or (st.min <= hi and st.max >= lo)
            )
            if need:
                rgs_needed += 1
                rows_needed += rg.num_rows
                file_hit = True
        files_needed += int(file_hit)
    return {
        "files": files,
        "files_needed": files_needed,
        "row_groups": rgs,
        "row_groups_needed": rgs_needed,
        "rows": rows,
        "rows_needed": rows_needed,
    }
