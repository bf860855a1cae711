"""The ledgered index store (siskin_spark/index_store.py), driven
through both index families on tiny indexes: crash-injected replays
converge to exactly one copy, rewrites refuse while an append is
pending, the ledger survives compaction and removal, a foreign layout
version fails loudly, and an index dir left mid-append in the on-disk
format replays and then compacts; the replays hold when the batch
goes through the whole daily gate (streaming/gate.py:gate_batch), and
the gate gives the results of its steps run by hand. Both families'
search and admit run one probe path, so they agree: the admit's
vs-index pairs at a threshold are the search hits at or over it."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pytest

from siskin_spark import index_store
from siskin_spark.functions import vectors as V
from siskin_spark.operators import neardup as N
from siskin_spark.streaming.gate import gate_batch

_VOCAB = [f"w{v}" for v in range(50)]
_DIM = 16


def _doc(i: int, n_words: int = 120) -> str:
    return " ".join(
        _VOCAB[int.from_bytes(hashlib.md5(f"{i}-{j}".encode()).digest()[:4], "big") % 50]
        for j in range(n_words)
    )


def _unit(rng) -> list[float]:
    w = rng.normal(size=_DIM)
    return [float(x) for x in w / np.linalg.norm(w)]


class _NearDup:
    name = "neardup"
    tables = ("bands", "shingles")
    stale_staging = "_append_bands_stale"

    def build(self, spark, d):
        corpus = spark.createDataFrame(
            [(i, _doc(i)) for i in range(20)], "doc_id long, text string"
        )
        N.neardup_index_build(corpus, d)

    def batch(self, spark):
        return spark.createDataFrame([(200, _doc(60))], "doc_id long, text string")

    def day(self, spark):
        """A novel doc, its copy and a copy of indexed doc 3."""
        return spark.createDataFrame(
            [(200, _doc(60)), (201, _doc(60)), (202, _doc(3))],
            "doc_id long, text string",
        )

    def by_hand(self, spark, d, b, pairs_path, kept_path, batch_id, **admit):
        pairs = N.incremental_neardup(spark, b, d, **admit)
        pairs.write.parquet(pairs_path)
        N.incremental_keep(b, spark.read.parquet(pairs_path)).write.parquet(kept_path)
        N.neardup_index_append(spark.read.parquet(kept_path), d, batch_id=batch_id)

    def append(self, df, d, batch_id):
        N.neardup_index_append(df, d, batch_id=batch_id)

    def frames(self, spark, d, df):
        meta = index_store.read_meta(d, self.name)
        banded, sh = N._index_frames(
            df, "doc_id", "text",
            meta["n"], meta["k"], meta["bands"], meta["hash_family"],
        )
        return {"bands": banded, "shingles": sh}

    def hits(self, spark, d):
        probe = spark.createDataFrame([(300, _doc(60))], "doc_id long, text string")
        return [
            (r["doc_id"], r["dup_of"], r["jaccard"])
            for r in N.incremental_neardup(spark, probe, d, threshold=0.9).collect()
        ]

    expected_hits = [(300, 200, 1.0)]

    def admit(self, spark, d):
        return N.incremental_neardup(spark, self.batch(spark), d)

    def compact(self, spark, d):
        return N.neardup_index_compact(spark, d)

    def remove(self, spark, d, ids):
        return N.neardup_index_remove(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"), d
        )

    batch_ids = [200]


class _SemDedup:
    name = "semdedup"
    tables = ("cells",)
    stale_staging = "_append_stale"

    def build(self, spark, d):
        rng = np.random.default_rng(61)
        corpus = spark.createDataFrame(
            [(i, _unit(rng)) for i in range(80)],
            "vec_id long, embedding array<float>",
        )
        V.semdedup_index_build(corpus, d, k=3, sample=80, iters=5, seed=3)

    def _w(self):
        return _unit(np.random.default_rng(8))

    def batch(self, spark):
        return spark.createDataFrame(
            [(700, self._w())], "vec_id long, embedding array<float>"
        )

    def day(self, spark):
        """A novel vector, its copy and a copy of indexed vector 0."""
        return spark.createDataFrame(
            [(700, self._w()), (701, self._w()),
             (702, _unit(np.random.default_rng(61)))],
            "vec_id long, embedding array<float>",
        )

    def by_hand(self, spark, d, b, pairs_path, kept_path, batch_id, **admit):
        pairs = V.incremental_semdedup(spark, b, d, **admit)
        pairs.write.parquet(pairs_path)
        V.incremental_semdedup_keep(b, spark.read.parquet(pairs_path)).write.parquet(
            kept_path
        )
        V.semdedup_index_append(spark.read.parquet(kept_path), d, batch_id=batch_id)

    def append(self, df, d, batch_id):
        V.semdedup_index_append(df, d, batch_id=batch_id)

    def frames(self, spark, d, df):
        meta = index_store.read_meta(d, self.name)
        cents = spark.read.parquet(os.path.join(d, "centroids"))
        return {"cells": V._sem_assign(df, cents, meta["id_col"], meta["vec_col"])}

    def hits(self, spark, d):
        probe = spark.createDataFrame(
            [(800, self._w())], "vec_id long, embedding array<float>"
        )
        return [
            (r["vec_id"], r["dup_of"])
            for r in V.incremental_semdedup(spark, probe, d).collect()
            if r["dup_of"] == 700
        ]

    expected_hits = [(800, 700)]

    def admit(self, spark, d):
        return V.incremental_semdedup(spark, self.batch(spark), d)

    def compact(self, spark, d):
        return V.semdedup_index_compact(spark, d)

    def remove(self, spark, d, ids):
        return V.semdedup_index_remove(
            spark.createDataFrame([(i,) for i in ids], "vec_id long"), d
        )

    batch_ids = [700]


FAMILIES = {"neardup": _NearDup(), "semdedup": _SemDedup()}


@pytest.fixture(params=sorted(FAMILIES))
def fam(request):
    return FAMILIES[request.param]


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """One freshly built index per family (tests mutate copies), with
    the per-table row counts after exactly one copy of the batch."""
    root = tmp_path_factory.mktemp("pristine")
    out = {}
    for name, fam in FAMILIES.items():
        d = str(root / name)
        fam.build(spark, d)
        frames = fam.frames(spark, d, fam.batch(spark))
        out[name] = d, tuple(
            n + frames[t].count() for n, t in zip(_rows(spark, d, fam), fam.tables)
        )
    return out


def _index(pristine, tmp_path, fam):
    """A fresh copy of the family's index and its one-copy row counts."""
    d = str(tmp_path / f"{fam.name}_idx")
    shutil.copytree(pristine[fam.name][0], d)
    return d, pristine[fam.name][1]


def _rows(spark, d, fam):
    return tuple(
        spark.read.parquet(os.path.join(d, t)).count() for t in fam.tables
    )


def _meta(d, fam) -> dict:
    with open(index_store.meta_path(d, fam.name)) as f:
        return json.load(f)


def _set_meta(d, fam, **keys) -> None:
    meta = _meta(d, fam)
    meta.update(keys)
    with open(index_store.meta_path(d, fam.name), "w") as f:
        json.dump(meta, f)


def _staging_dirs(d):
    return [x for x in os.listdir(d) if x.startswith("_append_")]


def _placer(fam, via, tmp_path):
    """Place a batch under a batch id: the index append alone, or the
    whole daily gate (admit -> keep -> land -> append)."""
    if via == "append":
        return fam.append
    kept = str(tmp_path / "kept")
    return lambda b, d, batch_id: gate_batch(fam.name, b, d, kept, batch_id=batch_id)


_VIA = [
    pytest.param(name, via, id=name if via == "append" else f"{name}-{via}")
    for via in ("append", "gate")
    for name in sorted(FAMILIES)
]


@pytest.mark.parametrize("family,via", _VIA)
def test_append_replay_is_idempotent(spark, pristine, tmp_path, family, via):
    """A replayed batch id is a no-op in every table — the happy replay
    (ledger hit), the lost-ledger replay (files placed, meta entry
    lost: swept and re-placed) and the replay after compaction —
    whether the append runs alone or inside the daily gate, whose
    committed replay also leaves the landed survivors untouched. A
    doubled batch would inflate exact-Jaccard union sizes (near-dup)
    or the pair lists and histogram (SemDeDup). Remove-then-replay is
    pinned per family in test_index_remove / test_semdedup_index_remove."""
    fam = FAMILIES[family]
    d, n1 = _index(pristine, tmp_path, fam)
    b = fam.batch(spark)
    place = _placer(fam, via, tmp_path)
    place(b, d, "2026-08-16")
    assert _rows(spark, d, fam) == n1
    landed = sorted(os.listdir(tmp_path / "kept")) if via == "gate" else None
    # happy replay: the ledger short-circuits
    place(b, d, "2026-08-16")
    assert _rows(spark, d, fam) == n1
    if via == "gate":
        assert sorted(os.listdir(tmp_path / "kept")) == landed
    # lost-ledger replay: swept + re-placed, never doubled
    assert _meta(d, fam)["appended"] == ["2026-08-16"]
    _set_meta(d, fam, appended=[])
    place(b, d, "2026-08-16")
    assert _rows(spark, d, fam) == n1
    # the appended batch is live, and matches exactly once
    assert fam.hits(spark, d) == fam.expected_hits
    # compaction keeps the ledger: a compacted batch still no-ops
    fam.compact(spark, d)
    place(b, d, "2026-08-16")
    assert _rows(spark, d, fam) == n1


_CRASHES = [
    ("neardup", "staged_append", 0),  # after the pending mark
    ("neardup", "staged_append", 1),  # between the two table placements
    ("neardup", "write_meta", 1),  # before finalize
    ("semdedup", "staged_append", 0),
    ("semdedup", "write_meta", 1),
]


@pytest.mark.parametrize(
    "family,step,call,via",
    [pytest.param(f, s, c, "append", id=f"{f}-{s}-{c}") for f, s, c in _CRASHES]
    + [pytest.param(f, s, c, "gate", id=f"{f}-{s}-{c}-gate") for f, s, c in _CRASHES],
)
def test_crash_replay_converges(
    spark, pristine, tmp_path, monkeypatch, family, step, call, via
):
    """A crash injected at each step of the append — run alone or
    inside the daily gate — leaves the batch pending (so rewrites
    refuse); the replay converges to exactly one copy of the batch in
    every table and clears every marker."""
    fam = FAMILIES[family]
    d, want = _index(pristine, tmp_path, fam)
    b = fam.batch(spark)
    place = _placer(fam, via, tmp_path)

    real, calls = getattr(index_store, step), []

    def crashing(*args, **kwargs):
        calls.append(1)
        if len(calls) == call + 1:
            raise RuntimeError("injected crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(index_store, step, crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        place(b, d, "day-1")
    monkeypatch.undo()

    assert _meta(d, fam)["pending"] == ["day-1"]
    with pytest.raises(RuntimeError, match="day-1"):
        fam.compact(spark, d)
    place(b, d, "day-1")
    assert _rows(spark, d, fam) == want
    meta = _meta(d, fam)
    assert meta["appended"] == ["day-1"] and meta["pending"] == []
    assert _staging_dirs(d) == []


def test_rewrites_refuse_while_pending(spark, pristine, tmp_path, fam):
    """Compaction and removal between an append's file placement and
    its ledger write would erase the batch-prefixed names the retry
    sweeps, double-placing the batch: the pending mark and, as an
    independent signal, a leftover staging dir both make them refuse
    until the replay converges."""
    d, counts = _index(pristine, tmp_path, fam)
    b = fam.batch(spark)
    fam.append(b, d, "day-3")
    meta = _meta(d, fam)
    assert meta["appended"] == ["day-3"] and meta["pending"] == []
    if fam.name == "semdedup":
        assert counts == (81,)

    # crash window: files placed, ledger write lost
    _set_meta(d, fam, appended=[], pending=["day-3"])
    with pytest.raises(RuntimeError, match="day-3"):
        fam.compact(spark, d)
    with pytest.raises(RuntimeError, match="day-3"):
        fam.remove(spark, d, fam.batch_ids)
    # the replay converges and clears the marker; compaction proceeds
    fam.append(b, d, "day-3")
    assert _rows(spark, d, fam) == counts
    meta = _meta(d, fam)
    assert meta["appended"] == ["day-3"] and meta["pending"] == []
    stats = fam.compact(spark, d)
    assert _rows(spark, d, fam) == counts
    if fam.name == "semdedup":
        assert stats["bytes_after"] > 0

    # a leftover staging dir blocks on its own
    os.makedirs(os.path.join(d, fam.stale_staging))
    with pytest.raises(RuntimeError, match=fam.stale_staging):
        fam.compact(spark, d)
    with pytest.raises(RuntimeError, match=fam.stale_staging):
        fam.remove(spark, d, fam.batch_ids)
    os.rmdir(os.path.join(d, fam.stale_staging))
    fam.compact(spark, d)


def test_foreign_layout_version_fails_loudly(spark, pristine, tmp_path, fam):
    """A meta from another layout version fails before any work, on
    the read path and on every mutation, in both families."""
    d, _ = _index(pristine, tmp_path, fam)
    _set_meta(d, fam, version=2)
    before = {t: sorted(os.listdir(os.path.join(d, t))) for t in fam.tables}
    for run in (
        lambda: fam.admit(spark, d),
        lambda: fam.append(fam.batch(spark), d, "day-1"),
        lambda: fam.compact(spark, d),
        lambda: fam.remove(spark, d, fam.batch_ids),
    ):
        with pytest.raises(ValueError, match="layout version 2"):
            run()
    assert {t: sorted(os.listdir(os.path.join(d, t))) for t in fam.tables} == before


def test_mid_append_dir_replays_then_compacts(spark, pristine, tmp_path, fam):
    """An index dir left mid-append, written here file by file in the
    on-disk format (pending mark, the last table's staging dir, and
    two ``batch-<tag>-`` parts in the first table — one of them a
    stray copy), replays to exactly one copy and then compacts."""
    d, want = _index(pristine, tmp_path, fam)
    b = fam.batch(spark)
    frames = fam.frames(spark, d, b)
    batch_id, tag = "2026-08-16 run/1", "2026-08-16_run_1"

    first, last = fam.tables[0], fam.tables[-1]
    scratch = str(tmp_path / "scratch")
    frames[first].coalesce(1).write.parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
    for i in range(2):
        shutil.copy(
            os.path.join(scratch, part),
            os.path.join(d, first, f"batch-{tag}-{i:05d}.parquet"),
        )
    staging = f"_append_{tag}" if fam.name == "semdedup" else f"_append_{last}_{tag}"
    frames[last].write.parquet(os.path.join(d, staging))
    _set_meta(d, fam, pending=[batch_id])

    with pytest.raises(RuntimeError, match=staging):
        fam.compact(spark, d)
    fam.append(b, d, batch_id)
    assert _rows(spark, d, fam) == want
    assert _staging_dirs(d) == []
    meta = _meta(d, fam)
    assert meta["appended"] == [batch_id] and meta["pending"] == []
    assert sorted(
        f for f in os.listdir(os.path.join(d, first)) if f.startswith("batch-")
    )[0] == f"batch-{tag}-00000.parquet"
    fam.compact(spark, d)
    assert _rows(spark, d, fam) == want


_GATE_CASES = [pytest.param("neardup", {}, id="neardup")] + [
    pytest.param("semdedup", {"engine": engine, "nprobe": npb},
                 id=f"semdedup-{engine}-{npb}")
    for engine in ("expr", "gemm")
    for npb in (1, 2)
]


@pytest.mark.parametrize("family,admit", _GATE_CASES)
def test_gate_matches_by_hand(spark, pristine, tmp_path, family, admit):
    """``gate_batch`` is admit -> land pairs -> keep -> land survivors
    -> append, nothing more: on copies of one index and one batch (an
    index duplicate, a batch-internal duplicate and a novel row) it
    lands the same pairs and survivors and leaves the same part files,
    rows, meta, histogram and ledger as the steps run by hand."""
    fam = FAMILIES[family]
    b = fam.day(spark)
    runs = {}
    for how in ("gate", "hand"):
        d = str(tmp_path / how / "idx")
        shutil.copytree(pristine[family][0], d)
        pairs, kept = str(tmp_path / how / "pairs"), str(tmp_path / how / "kept")
        if how == "gate":
            assert gate_batch(family, b, d, kept, batch_id="day-1",
                              pairs_path=pairs, **admit)
        else:
            fam.by_hand(spark, d, b, pairs, kept, "day-1", **admit)
        runs[how] = (
            [sorted(spark.read.parquet(p).collect()) for p in (pairs, kept)],
            {t: sorted(os.listdir(os.path.join(d, t))) for t in fam.tables},
            {t: sorted(spark.read.parquet(os.path.join(d, t)).collect())
             for t in fam.tables},
            _meta(d, fam),
        )
    assert runs["gate"] == runs["hand"]
    landed = runs["gate"][0]
    assert landed[0] and len(landed[1]) == 1  # the novel row alone survives


@pytest.mark.parametrize("verb", ["neardup-index", "semdedup-index"])
def test_cli_append_requires_batch_id(capsys, verb):
    """``--append`` without ``--batch-id`` is a usage error, raised
    before any Spark work."""
    from siskin_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main([verb, "in.parquet", "idx", "--append"])
    assert exc.value.code == 2
    assert "--append requires --batch-id" in capsys.readouterr().err


def _perturb(i: int, m: int) -> str:
    """Doc i with m of its 120 words replaced: Jaccard to doc i falls
    with m, so a threshold keeps some candidates and drops others."""
    words = _doc(i).split()
    for j in range(m):
        words[(j * 120) // m] = f"x{i}-{j}"
    return " ".join(words)


@pytest.fixture(scope="module")
def sem_probe_index(spark, tmp_path_factory):
    """A 48-cell SemDeDup index over 600 vectors and a batch of noisy
    copies of one indexed vector from every EVEN cid, so the batch
    touches a scattered cid set of more than 10 cells."""
    rng = np.random.default_rng(71)
    d = str(tmp_path_factory.mktemp("probe") / "sem")
    V.semdedup_index_build(
        spark.createDataFrame(
            [(i, _unit(rng)) for i in range(600)],
            "vec_id long, embedding array<float>",
        ),
        d, k=48, sample=600, iters=5, seed=3,
    )
    first = {}
    for r in spark.read.parquet(os.path.join(d, "cells")).collect():
        if r["cid"] % 2 == 0 and r["vec_id"] < first.get(r["cid"], (1 << 62, None))[0]:
            first[r["cid"]] = (r["vec_id"], r["embedding"])
    rows = []
    for j, (vid, v) in enumerate(sorted(first.values())):
        # noise 0.05..0.2 per dim: cosine to the original ~0.98..0.78
        w = np.array(v) + 0.05 * (1 + j % 4) * rng.normal(size=_DIM)
        rows.append((10_000 + vid, [float(x) for x in w]))
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return d, batch


def _pushed(plan: str) -> str:
    """The pushed filters of every scan in ``plan`` (the plan string
    truncates long ones, but an In or Or leads its filter)."""
    return " ".join(re.findall(r"PushedFilters: \[(.*?), ReadSchema", plan))


_AGREE_CASES = [
    pytest.param("semdedup", engine, npb, id=f"semdedup-{engine}-{npb}")
    for engine in ("expr", "gemm")
    for npb in (1, 2)
] + [pytest.param("neardup", None, None, id="neardup")]


@pytest.mark.parametrize("family,engine,nprobe", _AGREE_CASES)
def test_search_and_admit_agree(
    spark, tmp_path, monkeypatch, sem_probe_index, family, engine, nprobe
):
    """Search is the admit with a top-k: on one index and one batch,
    the admit's vs-index pairs at threshold t are exactly the search
    hits scoring >= t (exclude_self, a k no candidate list reaches,
    the same engine and nprobe; min_jaccard=t for near-dup). On
    SemDeDup a scattered touched-cid set of more than 10 cids reaches
    the cells scan as a range-OR pushed filter, never an In, on the
    search and on the chunked admit."""
    if family == "neardup":
        d = str(tmp_path / "nd")
        N.neardup_index_build(
            spark.createDataFrame(
                [(i, _doc(i)) for i in range(30)], "doc_id long, text string"
            ),
            d,
        )
        batch = spark.createDataFrame(
            [(500 + i, _perturb(i, m)) for i, m in enumerate((0, 2, 6, 12, 24, 40))],
            "doc_id long, text string",
        )
        t = 0.8
        admit = {
            (r["doc_id"], r["dup_of"]): r["jaccard"]
            for r in N.incremental_neardup(spark, batch, d, threshold=t).collect()
            if r["dup_of"] < 500
        }
        hits = {
            (r["query_id"], r["neighbor_id"]): r["jaccard"]
            for r in N.neardup_index_search(
                spark, batch, d, k=100, min_jaccard=t, exclude_self=True
            ).collect()
        }
        assert admit == hits
        # the threshold did real work: some candidates fell below it
        loose = N.neardup_index_search(spark, batch, d, k=100, exclude_self=True)
        assert 0 < len(admit) < loose.count()
        return

    d, batch = sem_probe_index
    calls = []
    kernel = V._co_cell_gemm

    def spy(spark_, pdf, cells, *args):
        calls.append(
            (sorted({int(c) for c in pdf["cid"]}),
             _pushed(cells._jdf.queryExecution().executedPlan().toString()))
        )
        return kernel(spark_, pdf, cells, *args)

    monkeypatch.setattr(V, "_co_cell_gemm", spy)
    t = 0.9
    admit = {
        (r["vec_id"], r["dup_of"]): r["cos_sim"]
        for r in V.incremental_semdedup(
            spark, batch, d, threshold=t, engine=engine, nprobe=nprobe,
            batch_chunk_rows=16,
        ).collect()
        if r["dup_of"] < 10_000
    }
    admit_calls, calls[:] = list(calls), []
    search = V.semdedup_index_search(
        spark, batch, d, k=600, nprobe=nprobe, exclude_self=True, engine=engine
    )
    hits = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in search.collect()
        if r["cos_sim"] >= t
    }
    assert set(admit) == set(hits) and admit
    for p in admit:
        assert abs(admit[p] - hits[p]) < 1e-12
    # the threshold did real work: some noisy copies score below it
    assert len(admit) < batch.count() * nprobe

    def scattered(cids):
        return len(cids) > 10 and cids[-1] - cids[0] + 1 > len(cids)

    if engine == "gemm":
        assert len(admit_calls) > 1  # chunked
        search_calls = calls
    else:
        assert not admit_calls and not calls
        touched = sorted({
            r["cid"]
            for r in V._sem_assign(
                batch, spark.read.parquet(os.path.join(d, "centroids")),
                "vec_id", "embedding", nprobe,
            ).collect()
        })
        search_calls = [
            (touched, _pushed(search._jdf.queryExecution().executedPlan().toString()))
        ]
    checked = (admit_calls, search_calls) if engine == "gemm" else (search_calls,)
    for recorded in checked:
        assert any(scattered(cids) for cids, _ in recorded), recorded
        for cids, pushed in recorded:
            assert "In(cid" not in pushed, pushed
            if scattered(cids):
                assert "Or(" in pushed, pushed
