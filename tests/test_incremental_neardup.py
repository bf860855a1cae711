"""Incremental near-dup: dedup a new batch against a persisted
signature index without recomputing the corpus (SURVEY.md §7.5 scale
extension — the reference recomputes full-corpus artifacts per run;
a 100 TB corpus can't re-shingle everything to admit a daily batch)."""

from __future__ import annotations

import hashlib

import pytest

from siskin_spark.operators.neardup import (
    incremental_keep,
    incremental_neardup,
    neardup_index_append,
    neardup_index_build,
)

_VOCAB = [f"w{v}" for v in range(50)]


def _word(i: int, j: int) -> str:
    return _VOCAB[
        int.from_bytes(hashlib.md5(f"{i}-{j}".encode()).digest()[:4], "big") % 50
    ]


def _doc(i: int, n_words: int = 120) -> str:
    return " ".join(_word(i, j) for j in range(n_words))


def _near(i: int, n_words: int = 120) -> str:
    ws = [_word(i, j) for j in range(n_words)]
    ws[30] = "changed"
    return " ".join(ws)


@pytest.fixture()
def index_dir(tmp_path, spark):
    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(20)], "doc_id long, text string"
    )
    d = str(tmp_path / "ndidx")
    neardup_index_build(corpus, d)
    return d


def test_incremental_neardup_batch_vs_index_and_within(spark, index_dir):
    """One incremental call finds batch-vs-corpus dups (exact and
    near) AND batch-internal dups, touching only candidate corpus
    docs' shingles; survivors drop every duplicated new doc."""
    batch = spark.createDataFrame(
        [
            (100, _doc(3)),    # exact dup of corpus doc 3
            (101, _near(7)),   # near-dup (~0.97) of corpus doc 7
            (102, _doc(40)),   # unique vs corpus...
            (103, _doc(40)),   # ...but exact dup within the batch
            (104, _doc(41)),   # unique everywhere
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_id"], r["dup_of"]): r["jaccard"]
        for r in incremental_neardup(spark, batch, index_dir).collect()
    }
    assert pairs[(100, 3)] == 1.0
    assert pairs[(101, 7)] > 0.9
    assert pairs[(103, 102)] == 1.0  # batch-internal: larger id is the drop side
    assert not any(a == 104 or b == 104 for a, b in pairs)
    kept = {
        r["doc_id"]
        for r in incremental_keep(
            batch, incremental_neardup(spark, batch, index_dir)
        ).collect()
    }
    assert kept == {102, 104}  # 102 survives (smaller id), 103 drops


def test_incremental_equals_full_recompute(spark, index_dir):
    """Equivalence property: the incremental path over (index, batch)
    yields EXACTLY the full-recompute pipeline's verified pairs
    restricted to pairs touching a batch doc — same signatures, same
    banding, same verification, so the index shortcut changes cost,
    never results."""
    from pyspark.sql import functions as F

    from siskin_spark.operators.neardup import (
        exact_jaccard,
        lsh_candidates,
        shingle_table,
    )

    corpus_rows = [(i, _doc(i)) for i in range(20)]
    batch_rows = [(100, _doc(3)), (101, _near(7)), (102, _doc(40)), (103, _doc(40))]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    everything = spark.createDataFrame(
        corpus_rows + batch_rows, "doc_id long, text string"
    )

    inc = {
        frozenset((r["doc_id"], r["dup_of"]))
        for r in incremental_neardup(spark, batch, index_dir).collect()
    }

    sh = shingle_table(everything)
    cands = lsh_candidates(everything, shingles=sh)
    full = exact_jaccard(cands, sh, broadcast_candidates=False).filter(
        F.col("jaccard") >= 0.5
    )
    new_ids = {r[0] for r in batch_rows}
    full_touching_batch = {
        frozenset((r["id_a"], r["id_b"]))
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert inc == full_touching_batch


def test_incremental_plan_is_scale_safe(spark, index_dir):
    """Plan audit for the incremental path (same bar as
    test_plan_audit.py): the batch side BROADCASTS against the band
    index and the shingle store — no cartesian, no nested-loop join,
    no shuffle of either index table, no Python stage."""
    batch = spark.createDataFrame(
        [(100, _doc(3)), (101, _doc(40))], "doc_id long, text string"
    )
    df = incremental_neardup(spark, batch, index_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # batch bands vs index


def test_index_build_contents_pinned(spark, tmp_path):
    """The persisted index must hold EXACTLY the rows the
    minhash_table + sentinel-filter + shingle_table composition
    defines — same band rows, same shingle rows — including a
    shingle-less doc (too few tokens), which must appear in neither
    table. Pins the on-disk contract so any future build reshape
    (e.g. the fusion variants SCALE.md measured and rejected) can't
    silently change index contents."""
    from pyspark.sql import functions as F

    from siskin_spark.operators.neardup import (
        _family_sentinel,
        lsh_band_keys,
        minhash_table,
        shingle_table,
    )

    corpus = spark.createDataFrame(
        [(i, _doc(i)) for i in range(20)] + [(99, "just two")],
        "doc_id long, text string",
    )
    d2 = str(tmp_path / "ndidx2")
    neardup_index_build(corpus, d2)
    got_bands = {
        (r["doc_id"], r["band"])
        for r in spark.read.parquet(d2 + "/bands").collect()
    }
    got_sh = {
        (r["doc_id"], r["shingle"])
        for r in spark.read.parquet(d2 + "/shingles").collect()
    }

    sigs = minhash_table(corpus, hash_family="md5")
    want_bands = {
        (r["doc_id"], r["band"])
        for r in sigs.filter(
            F.element_at("signature", 1) != F.lit(_family_sentinel("md5"))
        )
        .select(
            "doc_id",
            F.explode(lsh_band_keys(F.col("signature"), 4, 4)).alias("band"),
        )
        .collect()
    }
    want_sh = {
        (r["doc_id"], r["shingle"])
        for r in shingle_table(corpus).collect()
    }
    assert got_bands == want_bands
    assert got_sh == want_sh
    assert not any(d == 99 for d, _ in got_bands)  # shingle-less doc excluded


def test_index_append_and_param_guard(spark, index_dir, tmp_path):
    """Appending batch survivors makes them visible to the NEXT batch.
    Banding params always come from the index meta, so an append
    under different ones has no entry point."""
    survivors = spark.createDataFrame(
        [(102, _doc(40))], "doc_id long, text string"
    )
    neardup_index_append(survivors, index_dir, batch_id="day-1")
    next_batch = spark.createDataFrame(
        [(200, _doc(40))], "doc_id long, text string"
    )
    pairs = {
        (r["doc_id"], r["dup_of"])
        for r in incremental_neardup(spark, next_batch, index_dir).collect()
    }
    assert (200, 102) in pairs  # dup of the APPENDED doc is caught

    import inspect

    params = inspect.signature(neardup_index_append).parameters
    assert not {"n", "k", "bands", "hash_family"} & set(params)


def test_index_compact_preserves_results(spark, index_dir):
    """Compaction after several appends collapses the per-append file
    layers into the size-targeted layout and changes NOTHING about
    query results — same pairs, same jaccard values."""
    import os

    from siskin_spark.operators.neardup import neardup_index_compact

    for i in range(3):  # three append layers of unique docs
        neardup_index_append(
            spark.createDataFrame(
                [(300 + i, _doc(60 + i))], "doc_id long, text string"
            ),
            index_dir,
            batch_id=f"day-{i}",
        )
    batch = spark.createDataFrame(
        [(400, _doc(3)), (401, _doc(61)), (402, _doc(90))],
        "doc_id long, text string",
    )
    before = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in incremental_neardup(spark, batch, index_dir).collect()
    }
    assert {(a, b) for a, b, _ in before} == {(400, 3), (401, 301)}

    stats = neardup_index_compact(spark, index_dir, target_file_mb=128)
    for table in ("bands", "shingles"):
        assert stats[table]["files_after"] == 1  # tiny index -> one file
        assert stats[table]["files_after"] < stats[table]["files_before"]
        assert not os.path.exists(
            os.path.join(index_dir, table + "__compacting")
        )
        # the pre-compaction layout is KEPT for crash recovery (removed
        # by the next compaction) — a rename pair is not atomic
        assert os.path.exists(os.path.join(index_dir, table + "__old"))

    after = {
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in incremental_neardup(spark, batch, index_dir).collect()
    }
    assert after == before


def test_index_remove(spark, index_dir):
    """r12 retraction path (neardup sibling): removed docs stop
    matching (bands AND shingles — no ghost text in exact-Jaccard
    unions), other docs keep matching, the replay ledger survives so
    the removed batch's replay no-ops, and a pending append blocks the
    rewrite."""
    import json
    import os

    import pytest

    from siskin_spark.index_store import meta_path
    from siskin_spark.operators.neardup import neardup_index_remove

    def _index_meta_path(d):
        return meta_path(d, "neardup")

    b = spark.createDataFrame([(200, _doc(60))], "doc_id long, text string")
    neardup_index_append(b, index_dir, batch_id="day-5")
    probe = spark.createDataFrame(
        [(300, _doc(3)), (301, _doc(60)), (302, _doc(7))],
        "doc_id long, text string",
    )

    def targets():
        return {r["dup_of"] for r in incremental_neardup(
            spark, probe, index_dir, threshold=0.9).collect()}

    assert targets() == {3, 200, 7}

    meta = json.load(open(_index_meta_path(index_dir)))
    meta["pending"] = ["day-6"]
    json.dump(meta, open(_index_meta_path(index_dir), "w"))
    with pytest.raises(RuntimeError, match="day-6"):
        neardup_index_remove(
            spark.createDataFrame([(3,)], "doc_id long"), index_dir
        )
    meta["pending"] = []
    json.dump(meta, open(_index_meta_path(index_dir), "w"))

    stats = neardup_index_remove(
        spark.createDataFrame([(3,), (200,)], "doc_id long"), index_dir
    )
    assert stats["docs_removed"] == 2
    assert targets() == {7}  # removed docs gone, others intact
    for table in ("bands", "shingles"):
        assert spark.read.parquet(
            os.path.join(index_dir, table)
        ).filter("doc_id in (3, 200)").count() == 0
    meta = json.load(open(_index_meta_path(index_dir)))
    assert meta["appended"] == ["day-5"]
    neardup_index_append(b, index_dir, batch_id="day-5")  # replay no-ops
    assert spark.read.parquet(
        os.path.join(index_dir, "shingles")
    ).filter("doc_id = 200").count() == 0


def test_neardup_index_search(spark, index_dir):
    """The lexical serving twin: top-k most-similar indexed docs per
    query by exact Jaccard over band candidates — identity hit at
    rank 1 jaccard 1.0, the near-dup ranks its base first,
    exclude_self drops the identity, min_jaccard trims, k bounds."""
    from siskin_spark.operators.neardup import neardup_index_search

    queries = spark.createDataFrame(
        [
            (200, _doc(3)),    # exact content of corpus doc 3
            (201, _near(7)),   # near-dup of corpus doc 7
            (202, "zz qq xx"), # shares no shingle with anything
        ],
        "doc_id long, text string",
    )
    got = neardup_index_search(spark, queries, index_dir, k=3)
    rows = got.collect()
    assert got.columns == ["query_id", "neighbor_id", "jaccard", "rank"]
    by_qr = {(r["query_id"], r["rank"]): r for r in rows}
    assert by_qr[(200, 1)]["neighbor_id"] == 3
    assert by_qr[(200, 1)]["jaccard"] == 1.0
    assert by_qr[(201, 1)]["neighbor_id"] == 7
    assert 0.9 < by_qr[(201, 1)]["jaccard"] < 1.0
    assert all(r["rank"] <= 3 for r in rows)
    # the no-overlap query has no candidates at all
    assert not [r for r in rows if r["query_id"] == 202]

    # min_jaccard trims incidental band collisions
    trimmed = neardup_index_search(
        spark, queries, index_dir, k=3, min_jaccard=0.5
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in trimmed} == {
        (200, 3), (201, 7),
    }

    # querying an INDEXED doc by its own id: query text wins the
    # shingle namespace, the identity hit is rank 1 — and
    # exclude_self drops exactly that row
    selfq = spark.createDataFrame(
        [(3, _doc(3))], "doc_id long, text string"
    )
    with_self = neardup_index_search(spark, selfq, index_dir, k=1).collect()
    assert with_self[0]["neighbor_id"] == 3
    no_self = neardup_index_search(
        spark, selfq, index_dir, k=5, exclude_self=True
    ).collect()
    assert all(r["neighbor_id"] != 3 for r in no_self)

    # validation
    with pytest.raises(ValueError):
        neardup_index_search(spark, queries, index_dir, k=0)


def test_neardup_search_cli(capsys, tmp_path, spark, index_dir):
    from siskin_spark.cli import main

    q_path = str(tmp_path / "nq")
    spark.createDataFrame(
        [(300, _doc(5))], "doc_id long, text string"
    ).write.parquet(q_path)
    out = str(tmp_path / "nout")
    assert main([
        "neardup-search", q_path, index_dir, out, "--k", "2",
        "--min-jaccard", "0.3",
    ]) == 0
    assert "neighbor row(s)" in capsys.readouterr().out
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[(300, 1)] == 5


def test_rrf_cli(capsys, tmp_path, spark):
    """The rrf verb fuses two ranking parquet tables (the outputs of
    the search verbs) into one hybrid list."""
    from siskin_spark.cli import main

    a = str(tmp_path / "rank_a")
    b = str(tmp_path / "rank_b")
    spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rank int"
    ).write.parquet(a)
    spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, neighbor_id long, rank int"
    ).write.parquet(b)
    out = str(tmp_path / "fused")
    assert main(["rrf", a, b, out, "--topk", "2"]) == 0
    assert "fused 2 ranking(s)" in capsys.readouterr().out
    got = {
        r["rank"]: r["neighbor_id"] for r in spark.read.parquet(out).collect()
    }
    # 11 appears in both lists -> fused rank 1; 10 (rank 1 in one
    # list) beats 12 (rank 2 in one list)
    assert got == {1: 11, 2: 10}
