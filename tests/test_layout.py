"""Layout operators: range-clustered writes enable footer-level data
skipping; compaction collapses small-file layers without changing
content (SURVEY.md §4 — partition strategy at 100 TB)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from siskin_spark.operators.layout import (
    compact_parquet,
    skipping_stats,
    write_range_layout,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def test_range_layout_enables_skipping(spark, events, tmp_path):
    """The same table, two layouts, one narrow time-window predicate:
    random layout needs ~every row group (each spans the timeline);
    range layout confines the window to a small fraction."""
    rnd = str(tmp_path / "events_random")
    rng = str(tmp_path / "events_range")
    # shuffle rows so the "bad" layout really interleaves the timeline
    events.orderBy(F.crc32(F.concat_ws("|", "event_id"))).repartition(
        8
    ).write.parquet(rnd)
    write_range_layout(events, rng, ["ts"], n_files=8)

    times = events.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    span = times["hi"] - times["lo"]
    lo = times["lo"] + span * 45 // 100
    hi = times["lo"] + span * 55 // 100  # middle 10% window

    bad = skipping_stats(rnd, "ts", lo, hi)
    good = skipping_stats(rng, "ts", lo, hi)
    assert bad["rows_needed"] == bad["rows"]  # no skip possible
    assert good["rows"] == bad["rows"]
    # range layout: only ~10% of rows live in overlapping row groups
    assert good["rows_needed"] <= good["rows"] * 0.35
    assert good["files_needed"] < good["files"]

    # and the layouts agree on the query answer
    n_rng = (
        spark.read.parquet(rng)
        .filter(F.col("ts").between(lo, hi))
        .count()
    )
    n_rnd = (
        spark.read.parquet(rnd)
        .filter(F.col("ts").between(lo, hi))
        .count()
    )
    assert n_rng == n_rnd > 0


def test_compact_parquet_preserves_content(spark, events, tmp_path):
    path = str(tmp_path / "shards")
    events.repartition(24).write.parquet(path)
    before_cnt = spark.read.parquet(path).count()
    before_sum = spark.read.parquet(path).agg(
        F.sum(F.crc32(F.col("event_id").cast("string")))
    ).first()[0]

    stats = compact_parquet(spark, path, target_file_mb=512)
    assert stats["files_before"] == 24
    assert stats["files_after"] == 1
    assert not os.path.exists(path + "__compacting")
    # the previous data is KEPT for crash recovery (a rename pair is
    # not atomic); the next compaction cleans it
    assert os.path.exists(path + "__old")
    assert spark.read.parquet(path + "__old").count() == before_cnt

    assert spark.read.parquet(path).count() == before_cnt
    after_sum = spark.read.parquet(path).agg(
        F.sum(F.crc32(F.col("event_id").cast("string")))
    ).first()[0]
    assert after_sum == before_sum

    compact_parquet(spark, path, target_file_mb=512)
    # second compaction rotated __old: it now holds the 1-file layout
    assert len([f for f in os.listdir(path + "__old")
                if f.endswith(".parquet")]) == 1


def test_write_range_layout_rejects_statsless_estimate(spark, tmp_path):
    """A plan with no real size statistics defaults to Long.MaxValue
    sizeInBytes — deriving n_files from it must raise, not launch a
    70-billion-partition shuffle."""
    import pytest

    base = spark.range(10).toDF("k")
    # RDD-backed plans carry no stats: sizeInBytes = Long.MaxValue
    df = spark.createDataFrame(base.rdd, base.schema)
    joined = df.crossJoin(spark.range(3).toDF("v"))  # stats multiply
    with pytest.raises(ValueError, match="n_files or sample_bytes_per_row"):
        write_range_layout(joined, str(tmp_path / "nope"), ["k"])
    # explicit sample_bytes_per_row skips plan stats and succeeds
    write_range_layout(
        joined, str(tmp_path / "ok"), ["k"], sample_bytes_per_row=16.0
    )
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 30


def test_compact_parquet_cluster_by_keeps_key_locality(spark, events, tmp_path):
    """cluster_by during compaction: every key lands in exactly one
    file (hash clustering), so downstream per-key reads touch one
    part."""
    path = str(tmp_path / "bykey")
    events.repartition(16).write.parquet(path)
    compact_parquet(spark, path, target_file_mb=1, cluster_by=["user_id"])
    df = spark.read.parquet(path).select(
        "user_id", F.input_file_name().alias("f")
    )
    spread = (
        df.groupBy("user_id")
        .agg(F.countDistinct("f").alias("nf"))
        .agg(F.max("nf"))
        .first()[0]
    )
    assert spread == 1


def test_staged_append_converges_after_partial_move(tmp_path, spark):
    """r11 staged_append: a crash that lands only SOME of the staged
    part files must converge to exactly one copy on retry — the sweep
    removes the partial placement before re-placing."""
    import os

    from pyspark.sql import functions as F

    from siskin_spark.index_store import staged_append

    dest = str(tmp_path / "dest")
    spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k")) \
        .write.parquet(dest)
    # 3 pinned partitions -> 3 staged part files (AQE would coalesce a
    # 20-row cluster_col shuffle to one file and there'd be no "partial"
    # to simulate)
    batch = spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    ).repartition(3)
    staged_append(batch, dest, str(tmp_path / "stage"), "batch-d1-")
    assert spark.read.parquet(dest).count() == 30
    # simulate the crash: delete ONE placed batch file (as if the move
    # died midway), then replay the whole append
    placed = sorted(f for f in os.listdir(dest) if f.startswith("batch-d1-"))
    assert len(placed) >= 2
    os.remove(os.path.join(dest, placed[0]))
    assert spark.read.parquet(dest).count() < 30
    staged_append(batch, dest, str(tmp_path / "stage"), "batch-d1-")
    assert spark.read.parquet(dest).count() == 30  # converged, not doubled
