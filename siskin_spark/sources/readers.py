"""Parquet/ndjson/TSV readers with schema normalization.

The driver's synthetic ``events`` table stores TIMESTAMP(NANOS) which
the Spark parquet reader rejects; with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long
(nanos since epoch). :func:`read_table` restores a proper
``TimestampType`` (microsecond truncation — exactly what DuckDB's
TIMESTAMP_NS -> TIMESTAMP cast does, keeping oracle parity).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# columns known to be nanosecond timestamps in the driver's testdata
_NANO_TS_COLS = {"events": ("ts",)}

def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table, normalizing nano-timestamp columns.

    The scan DataFrame is memoized per (gateway epoch, session, path)
    via :mod:`siskin_spark.memo`: building a parquet scan reads the
    file footer for the schema (a driver-side JVM job), and repeated
    pipeline runs were paying ~0.1 s per table per run just re-deriving
    the same schema. Scan DataFrames are session-bound, so a stable
    session token (NOT ``id(spark)`` — address reuse) is folded into
    the key, plus the path's mtime so a rewritten parquet dir within
    one application is re-scanned instead of serving stale part
    files.

    Invalidation granularity: the mtime is the DIRECTORY's (or single
    file's) — a dir mtime changes on entry add/remove/rename, so an
    in-place rewrite of an existing part file (same name, e.g. via
    os.rename over it — the atomic-writer pattern DOES change the dir
    mtime; a raw open('r+b') patch does not) is not detected. That is
    the accepted trade-off for a stat-only check; callers mutating
    part files in place must bust the cache themselves. A new mtime
    SUPERSEDES older entries for the same (session, path) — they are
    evicted on insert rather than accumulating for the epoch's
    lifetime."""
    from siskin_spark.memo import memo, session_token

    def build() -> DataFrame:
        if name in _NANO_TS_COLS:
            # runtime-settable SQL conf; needed whatever session the
            # caller built
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for col in _NANO_TS_COLS.get(name, ()):
            if dict(df.dtypes).get(col) == "bigint":
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        return df

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:  # remote/nonexistent path: let the scan itself report
        mtime = None
    tok = session_token(spark)
    return memo(
        ("scan", tok, path, mtime),
        build,
        evict_prefix=("scan", tok, path),
    )


# F6 input magic check (reference workflows/ai.py:144-158: validate
# every input is zstd before concatenating — a truncated/mislabeled
# file corrupts the whole union silently otherwise)
MAGIC = {
    "zstd": b"\x28\xb5\x2f\xfd",
    "gzip": b"\x1f\x8b",
    "zip": b"PK",
    "parquet": b"PAR1",
    "xml": b"<?xml",
}


def validate_magic(spark: SparkSession, path_glob: str, fmt: str) -> int:
    """F6: assert every file under ``path_glob`` starts with the magic
    bytes of ``fmt`` (one of MAGIC). The check reads ONLY file heads
    via binaryFile + substring pushdown-ish projection in executors;
    raises ValueError listing offenders. Returns the file count."""
    magic = MAGIC[fmt]
    heads = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", F.substring("content", 1, len(magic)).alias("head"))
    )
    bad = [r["path"] for r in heads.filter(F.col("head") != magic).collect()]
    if bad:
        raise ValueError(
            f"input magic check failed: {len(bad)} file(s) are not {fmt}: "
            + ", ".join(sorted(bad)[:5])
        )
    return heads.count()


def read_ndjson(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Newline-delimited JSON reader (the reference's wire format;
    zstd-compressed ndjson reads transparently via the codec)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist hash-bucketed (and optionally sorted) — the co-located
    join layout (SURVEY.md §4: 'bucketing for co-located joins').

    Two tables bucketed the same way join with NO exchange: the scan
    itself satisfies the join's hashpartitioning requirement, so the
    shuffle cost is paid once at write time and amortized over every
    downstream join/aggregation on the bucket keys. The big-fact /
    big-fact joins of the reference (records x holdings, records x
    label-updates) are exactly this shape at 100 TB.
    """
    w = df.write.mode("overwrite").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
