"""Tests: Solr bulk sink batching/commit protocol, streaming keep-first
dedup including state persistence across availableNow restarts."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from siskin_spark.operators.export import solr_bulk_sink
from siskin_spark.streaming.stateful import streaming_dedup_native


def _file_transport(root: str):
    """Test transport: every POST lands as one file. A closure so
    cloudpickle ships it to executors by value (the test module itself
    is not importable from Python workers)."""

    def transport(url: str, payload: bytes) -> None:
        import os as _os
        import uuid as _uuid

        kind = "commit" if "commit=true" in url else "batch"
        path = _os.path.join(root, f"{kind}-{_uuid.uuid4().hex}.json")
        with open(path, "wb") as fh:
            fh.write(url.encode() + b"\n" + payload)

    return transport


def test_solr_bulk_sink_batches_and_commit(tmp_path, spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "n_chars")
        .repartition(4)
    )
    n = docs.count()
    out = tmp_path / "posts"
    out.mkdir()
    solr_bulk_sink(docs, "http://solr:8983/solr/biblio", batch_size=50,
                   transport=_file_transport(str(out)))

    batches = sorted(glob.glob(str(out / "batch-*.json")))
    commits = glob.glob(str(out / "commit-*.json"))
    assert len(commits) == 1  # one deferred commit, from the driver
    posted = []
    for p in batches:
        url, payload = open(p, "rb").read().split(b"\n", 1)
        assert url.endswith(b"/update")
        rows = json.loads(payload)
        assert 0 < len(rows) <= 50
        posted.extend(rows)
    # every doc posted exactly once
    assert len(posted) == n
    assert {r["doc_id"] for r in posted} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def _run_native_stream(spark, src, ckpt, dst, schema="k bigint, v string, ts timestamp", **kw):
    stream = spark.readStream.schema(schema).json(src)
    q = (
        streaming_dedup_native(stream, ["k"], **kw)
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def test_streaming_dedup_first_across_restarts(tmp_path, spark):
    """Keep-first on a stream with no event-time column at all: the
    exact variant needs only the key."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    dst = str(tmp_path / "out")
    os.makedirs(src)

    with open(os.path.join(src, "b1.json"), "w") as fh:
        for k, v in [(1, "a"), (2, "b"), (1, "dup-in-batch")]:
            fh.write(json.dumps({"k": k, "v": v}) + "\n")
    _run_native_stream(spark, src, ckpt, dst, schema="k bigint, v string")

    first = spark.read.parquet(dst)
    assert first.count() == 2  # in-batch duplicate of k=1 suppressed
    assert {r.k for r in first.collect()} == {1, 2}

    # second availableNow run: k=1/2 are in the state store -> only k=3 emits
    with open(os.path.join(src, "b2.json"), "w") as fh:
        for k, v in [(1, "late-dup"), (3, "c"), (2, "late-dup")]:
            fh.write(json.dumps({"k": k, "v": v}) + "\n")
    _run_native_stream(spark, src, ckpt, dst, schema="k bigint, v string")

    final = spark.read.parquet(dst)
    assert final.count() == 3
    assert {r.k for r in final.collect()} == {1, 2, 3}
    assert final.filter(F.col("k") == 3).collect()[0].v == "c"


def test_streaming_dedup_native_across_restarts(tmp_path, spark):
    """Cross-restart exactly-once keep-first: in-batch dups suppressed,
    state survives the checkpoint, only new keys emit on re-run, and a
    new key emits its own row."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    dst = str(tmp_path / "out")
    os.makedirs(src)

    with open(os.path.join(src, "b1.json"), "w") as fh:
        for k, v in [(1, "a"), (2, "b"), (1, "dup-in-batch")]:
            fh.write(json.dumps({"k": k, "v": v, "ts": "2024-01-01T00:00:00"}) + "\n")
    _run_native_stream(spark, src, ckpt, dst)
    first = spark.read.parquet(dst)
    assert first.count() == 2
    assert {r.k for r in first.collect()} == {1, 2}

    with open(os.path.join(src, "b2.json"), "w") as fh:
        for k, v in [(1, "late-dup"), (3, "c"), (2, "late-dup")]:
            fh.write(json.dumps({"k": k, "v": v, "ts": "2024-01-01T01:00:00"}) + "\n")
    _run_native_stream(spark, src, ckpt, dst)
    final = spark.read.parquet(dst)
    assert final.count() == 3
    assert {r.k for r in final.collect()} == {1, 2, 3}
    assert final.filter(F.col("k") == 3).collect()[0].v == "c"


def test_streaming_dedup_native_within_watermark(tmp_path, spark):
    """Bounded-state variant: dropDuplicatesWithinWatermark on the
    watermarked stream dedups within the delay window; the arg
    contract rejects a watermark without its event-time column."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as fh:
        for k, v, ts in [
            (1, "a", "2024-01-01T00:00:00"),
            (1, "dup-close", "2024-01-01T00:05:00"),
            (2, "b", "2024-01-01T00:10:00"),
        ]:
            fh.write(json.dumps({"k": k, "v": v, "ts": ts}) + "\n")
    ckpt, dst = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _run_native_stream(
        spark, src, ckpt, dst, event_time_col="ts", watermark="30 minutes"
    )
    got = spark.read.parquet(dst)
    assert got.count() == 2  # in-window duplicate of k=1 suppressed
    assert {r.k for r in got.collect()} == {1, 2}

    with pytest.raises(ValueError):
        streaming_dedup_native(
            spark.readStream.schema("k bigint, ts timestamp").json(src),
            ["k"],
            watermark="10 minutes",  # missing event_time_col
        )
