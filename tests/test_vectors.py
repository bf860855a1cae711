"""§7.5 embedding near-dup: planted-pair recall tests for the banded
sign-LSH prefilter + exact-cosine pipeline (ADVICE r2: the driver-side
oracle check was vacuous on fixture data — these tests feed vectors
with KNOWN near-dup pairs above and decoys below the threshold)."""

from __future__ import annotations

import contextlib
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from siskin_spark import index_store
from siskin_spark.functions.vectors import embedding_neardup_pairs, lsh_band_keys

DIM = 64


def _sem_meta_path(index_dir: str) -> str:
    return index_store.meta_path(index_dir, "semdedup")


def _mk_embeddings(spark):
    """40 base vectors; ids 1000+i are near-dups of i for i < 10
    (cos ~0.999); ids 2000+i are decoys of i for i < 5 (cos well
    below 0.95). Deterministic seed — the test is stable."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    expected = set()
    for i in range(10):
        near = base[i] + 0.01 * rng.normal(size=DIM)  # cos ≈ 0.997
        cos = float(
            near @ base[i] / (np.linalg.norm(near) * np.linalg.norm(base[i]))
        )
        assert cos > 0.99
        rows.append((1000 + i, [float(x) for x in near]))
        expected.add((i, 1000 + i))
    decoys = set()
    for i in range(5):
        far = base[i] + 1.2 * rng.normal(size=DIM)  # cos ≈ 0.5-0.7
        cos = float(far @ base[i] / (np.linalg.norm(far) * np.linalg.norm(base[i])))
        assert cos < 0.9
        rows.append((2000 + i, [float(x) for x in far]))
        decoys.add((i, 2000 + i))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    return df, expected, decoys


def test_neardup_planted_pair_recall(spark):
    emb, expected, decoys = _mk_embeddings(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    # every planted near-dup pair survives the LSH prefilter AND the
    # exact cosine — this is the recall the driver check can't see
    missing = expected - got
    assert not missing, f"LSH missed planted pairs: {missing}"
    assert not (decoys & got), "below-threshold decoys leaked through"


def test_neardup_threshold_is_exact_not_lsh(spark):
    """Candidates that collide in a band but sit below the cosine
    threshold must be filtered by the exact check."""
    emb, _, _ = _mk_embeddings(spark)
    loose = embedding_neardup_pairs(emb, threshold=-1.0)  # every band-mate
    strict = embedding_neardup_pairs(emb, threshold=0.95)
    n_loose, n_strict = loose.count(), strict.count()
    assert n_loose > n_strict  # the threshold does real work
    assert strict.filter(F.col("cos_sim") < 0.95).count() == 0


def test_band_keys_scale_invariant(spark):
    """Sign projections are invariant under positive scaling — the
    property the driver-side planted pairs rely on."""
    emb, _, _ = _mk_embeddings(spark)
    keys = emb.select(
        "vec_id",
        lsh_band_keys(F.col("embedding")).alias("k1"),
        lsh_band_keys(
            F.transform(F.col("embedding"), lambda x: x * F.lit(2.0))
        ).alias("k2"),
    )
    assert keys.filter(F.col("k1") != F.col("k2")).count() == 0


def test_ivf_nprobe_recall_ladder(spark):
    """nprobe=n_cells IVF == brute force exactly (exhaustive probing);
    nprobe=2 recall >= nprobe=1 recall vs the brute-force truth."""
    from siskin_spark.functions.vectors import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )

    df, _, _ = _mk_embeddings(spark)
    centroids = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assigned = ivf_assign(df, centroids)
    brute = {tuple(r) for r in brute_force_topk(df, df, k=3).collect()}
    truth = {(p, n) for p, n, _, _ in brute}

    def topk(nprobe):
        got = {
            tuple(r)
            for r in ivf_topk(
                ivf_assign(df, centroids, nprobe=nprobe), assigned, k=3
            ).collect()
        }
        assert all(p != n for p, n, _, _ in got)  # no self-neighbors
        return got

    def recall(got):
        return len({(p, n) for p, n, _, _ in got} & truth) / len(truth)

    exhaustive = topk(4)
    assert recall(topk(1)) <= recall(topk(2)) <= recall(exhaustive)
    # exhaustive probing == brute force, row for row (scores and ranks)
    assert exhaustive == brute


_CELL_VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 0.0]),  # zero vector: scores 0 everywhere
    (4, [-1.0, 0.0, 0.0]),  # beats no real centroid: the zero one wins
    (5, [1.0, 1.0, 0.0]),  # three-way exact tie (cids 3, 5, 9)
]
_CELL_CENTS = [
    (9, [1.0, 0.0, 0.0]),
    (3, [1.0, 0.0, 0.0]),  # duplicate of 9: exact tie -> smaller cid
    (5, [0.0, 1.0, 0.0]),
    (7, [0.0, 0.0, 0.0]),  # zero centroid: scores 0 against everything
]
# every vector's cells, nearest first
_CELL_ORDER = {
    1: [3, 9, 5, 7],
    2: [5, 3, 7, 9],
    3: [3, 5, 7, 9],
    4: [5, 7, 3, 9],
    5: [3, 5, 9, 7],
}


def _assign_cells(spark, engine, vecs, cents, nprobe):
    """(vec_id, cid, rank) set of one engine; rank 0 when nprobe=1
    (no rank column then)."""
    from siskin_spark.functions.vectors import (
        _sem_assign_local,
        ivf_assign,
        ivf_assign_gemm,
        norm,
    )

    if engine == "expr":
        out = ivf_assign(vecs, cents, nprobe=nprobe)
    elif engine == "gemm":
        out = ivf_assign_gemm(vecs, cents, nprobe=nprobe)
    else:
        out, cell_rows = _sem_assign_local(
            spark, vecs, cents, "vec_id", "embedding", nprobe
        )
    rows = out.collect()
    if engine == "gemm_driver":
        # the touched-cid -> probe-row counts ride the driver collect
        assert cell_rows == dict(Counter(r["cid"] for r in rows))
        # the driver path's norm column is the JVM norm() fold, bit for
        # bit (the oracle-checked prenormed cosines read it)
        want = {
            r["vec_id"]: r["n"]
            for r in vecs.select("vec_id", norm(F.col("embedding")).alias("n"))
            .collect()
        }
        assert {r["vec_id"]: r["norm"] for r in rows} == want
    assert ("rank" in out.columns) == (nprobe > 1)
    return {(r["vec_id"], r["cid"], r["rank"] if nprobe > 1 else 0) for r in rows}


@pytest.fixture(scope="module")
def planted_cells(spark):
    """The planted corpus, its six planted centroids, and the
    expression engine's cells on it per nprobe, computed once per n
    for the module (deterministic, so test order changes nothing)."""
    df, _, _ = _mk_embeddings(spark)
    planted = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    ref: dict = {}

    def expr_cells(n):
        if n not in ref:
            ref[n] = _assign_cells(spark, "expr", df, planted, n)
        return ref[n]

    return df, planted, expr_cells


@pytest.mark.parametrize("nprobe", [1, 2, pytest.param(None, id="k")])
@pytest.mark.parametrize("engine", ["expr", "gemm", "gemm_driver"])
def test_cell_assignment_engines_agree(spark, planted_cells, engine, nprobe):
    """One cell-assignment semantics for the expression engine
    (ivf_assign), the GEMM engine (ivf_assign_gemm) and the GEMM
    kernel's driver path: the same (vector, cid, rank) set at
    nprobe 1, 2 and k — an exact tie goes to the smaller cid, a
    zero-norm vector or centroid scores 0 against every cell, and
    ranks run nearest first. On the planted corpus every engine
    agrees with the expression engine cell for cell. A NULL vector
    has no cell: every engine refuses it, naming the vector column."""
    vecs = spark.createDataFrame(_CELL_VECS, "vec_id int, embedding array<float>")
    cents = spark.createDataFrame(_CELL_CENTS, "cid int, cv array<float>")
    n = nprobe or len(_CELL_CENTS)
    want = {
        (v, c, r) for v, cells in _CELL_ORDER.items() for r, c in enumerate(cells[:n])
    }
    assert _assign_cells(spark, engine, vecs, cents, n) == want

    with_null = vecs.unionByName(
        spark.createDataFrame([(6, None)], "vec_id int, embedding array<float>")
    )
    with pytest.raises(Exception, match="embedding is NULL"):
        _assign_cells(spark, engine, with_null, cents, n)

    if engine != "expr":
        df, planted, expr_cells = planted_cells
        n = nprobe or 6
        assert _assign_cells(spark, engine, df, planted, n) == expr_cells(n)


def test_ivf_assign_multiprobe_plan_has_no_window_or_shuffle(spark):
    """ivf_assign(nprobe>1) ranks cells inside the row's projection
    (sorted slice of the one scored array, then an explode): no
    window, no hash shuffle, no nested-loop join over probe x k rows."""
    from siskin_spark.functions.vectors import ivf_assign

    df, _, _ = _mk_embeddings(spark)
    cents = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = ivf_assign(df, cents, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    with pytest.raises(ValueError, match="nprobe"):
        ivf_assign(df, cents, nprobe=0)


def test_ivf_assign_rowlocal_matches_maxby_and_plan_shape(spark):
    """r14: ivf_assign's row-local argmax over the broadcast centroid
    list must (a) agree with the former crossJoin+max_by shape row for
    row — including exact ties (duplicate centroids -> smaller cid) —
    and (b) plan with NO shuffle Exchange, NO SortAggregate and NO
    BroadcastNestedLoopJoin (the non-foldable constant join key must
    survive optimization as a real equi-join). The reference shape
    has no zero-norm guard, so this corpus holds no zero vector; the
    zero-norm rule is pinned by test_cell_assignment_engines_agree."""
    from pyspark.sql import functions as F

    from siskin_spark.functions.vectors import (
        _cosine_prenormed,
        as_double,
        ivf_assign,
        norm,
    )

    df, _, _ = _mk_embeddings(spark)
    cents = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    # duplicate centroid under a larger cid forces an exact tie
    cents = cents.unionByName(
        df.filter(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 99).alias("cid"),
            F.col("embedding").alias("cv"),
        )
    )
    out = ivf_assign(df, cents)
    got = {(r.vec_id, r.cid) for r in out.collect()}
    # reference: the former explode + max_by(struct(csim, -cid)) shape
    nc = cents.select(
        "cid", as_double(F.col("cv")).alias("_cvd"), norm("cv").alias("_cn")
    )
    scored = (
        df.withColumns(
            {"_vd": as_double(F.col("embedding")), "_vn": norm("embedding")}
        )
        .crossJoin(F.broadcast(nc))
        .withColumn(
            "_csim",
            _cosine_prenormed(
                F.col("_vd"), F.col("_cvd"), F.col("_vn"), F.col("_cn")
            ),
        )
    )
    ref = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("vec_id", "cid"),
                F.struct(F.col("_csim"), (-F.col("cid")).alias("_nc")),
            ).alias("_w")
        )
        .select(F.col("_w.vec_id").alias("vec_id"), F.col("_w.cid").alias("cid"))
    )
    want = {(r.vec_id, r.cid) for r in ref.collect()}
    assert got == want
    assert (0, 0) in got  # vector 0 ties its duplicate centroid 99 -> 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    # empty centroid input still yields an empty assignment (the old
    # crossJoin shape's behavior)
    empty = cents.filter(F.lit(False))
    assert ivf_assign(df, empty).count() == 0


def test_ivf_fit_centroids_spherical(spark):
    """Fitted centroids: k rows, unit-norm, deterministic across runs,
    and usable as a drop-in for the assignment paths."""
    import numpy as np

    from siskin_spark.functions.vectors import ivf_assign_gemm, ivf_fit_centroids

    df, _, _ = _mk_embeddings(spark)
    c1 = ivf_fit_centroids(df, k=4, sample=100, iters=5)
    c2 = ivf_fit_centroids(df, k=4, sample=100, iters=5)
    rows1 = sorted((r.cid, tuple(r.cv)) for r in c1.collect())
    rows2 = sorted((r.cid, tuple(r.cv)) for r in c2.collect())
    assert rows1 == rows2  # seeded determinism
    assert len(rows1) == 4
    for _, cv in rows1:
        assert abs(float(np.linalg.norm(cv)) - 1.0) < 1e-5
    assigned = ivf_assign_gemm(df, c1)
    cells = {r.cid for r in assigned.select("cid").distinct().collect()}
    assert cells <= {0, 1, 2, 3} and len(cells) >= 2


def test_semantic_dedup_matches_within_cell_reference(spark):
    """SemDeDup pairs must equal the numpy within-cell all-pairs
    reference computed from the SAME centroid assignment: near-dup
    pairs land in the same k-means cell (their cosine to every
    centroid is nearly identical) and are found; decoys score below
    threshold; keep drops exactly the larger ids of found pairs."""
    from siskin_spark.functions.vectors import (
        ivf_fit_centroids,
        semantic_dedup_pairs,
    )
    from siskin_spark.operators.neardup import keep_canonical

    df, expected, decoys = _mk_embeddings(spark)
    cents = ivf_fit_centroids(df, k=4, sample=1000, seed=7)

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(df, cents, threshold=0.95).collect()
    }
    # numpy reference: same assignment (argmax cosine vs the fitted
    # centroids), all pairs within each cell, exact cosine
    C = np.array(
        [r["cv"] for r in sorted(cents.collect(), key=lambda r: r["cid"])],
        dtype=np.float64,
    )
    rows = df.collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cell = np.argmax(Xn @ Cn.T, axis=1)
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = ids[i], ids[j]
            if a < b and cell[i] == cell[j]:
                cos = float(Xn[i] @ Xn[j])
                if cos >= 0.95:
                    want[(a, b)] = cos
    assert set(got) == set(want)
    for p, c in got.items():
        assert abs(c - want[p]) < 1e-5
    # every planted near-dup pair is recovered (same cell, cos ~0.997)
    assert expected <= set(got)
    assert not (decoys & set(got))

    pairs = semantic_dedup_pairs(df, cents, threshold=0.95)
    kept = {r["vec_id"] for r in keep_canonical(df, pairs, id_col="vec_id").collect()}
    assert kept == set(ids) - {b for _, b in got}


def _hot_cell_fixture(spark, n_hot=150, n_cold=20, n_dups=15, seed=3):
    """Axis-vector centroids (e0, e1) + a corpus where ~90% of vectors
    land in cell 0 — the degenerate k-means outcome the r8 verdict
    flagged (template pages / dense paraphrase clusters). ``n_dups``
    planted near-dup pairs live inside the hot cell."""
    rng = np.random.default_rng(seed)
    vecs = []
    for i in range(n_hot):
        v = 0.9 * np.eye(DIM)[0] + 0.35 * rng.normal(size=DIM)
        vecs.append((i, v / np.linalg.norm(v)))
    for i in range(n_dups):  # planted dups of the first n_dups hot vectors
        v = vecs[i][1] + 0.005 * rng.normal(size=DIM)
        vecs.append((10_000 + i, v / np.linalg.norm(v)))
    for i in range(n_cold):
        v = 0.9 * np.eye(DIM)[1] + 0.35 * rng.normal(size=DIM)
        vecs.append((20_000 + i, v / np.linalg.norm(v)))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [float(x) for x in np.eye(DIM)[0]]),
         (1, [float(x) for x in np.eye(DIM)[1]])],
        "cid int, cv array<float>",
    )
    ids = [i for i, _ in vecs]
    X = np.array([v for _, v in vecs], dtype=np.float64)
    cell = np.argmax(X[:, :2], axis=1)  # argmax dot with e0/e1, tie->0
    return df, cents, ids, X, cell


def _reference_pairs(ids, X, cell, threshold, sub=None):
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
            if cell[i] != cell[j]:
                continue
            if sub is not None and sub[ids[i]] != sub[ids[j]]:
                continue
            cos = float(X[i] @ X[j] / (np.linalg.norm(X[i]) * np.linalg.norm(X[j])))
            if cos >= threshold:
                want[(a, b)] = cos
    return want


def test_semantic_dedup_hot_cell_split_bounds_pairs(spark):
    """r8 verdict #1: one cell holding ~90% of the corpus must be split
    into bounded sub-cells by the seeded secondary hash (the
    sample-starved fallback: subcentroid_sample=0 leaves nothing to
    fit) — found pairs are exactly the same-sub-cell reference pairs,
    and no join group exceeds the guard bound (+ binomial slack)."""
    from siskin_spark.functions.vectors import semantic_dedup_pairs

    df, cents, ids, X, cell = _hot_cell_fixture(spark)
    max_rows, thr = 40, 0.95

    # sub-cell assignment exactly as the operator computes it
    n_sub = -(-int((cell == 0).sum()) // max_rows)
    sub_rows = spark.createDataFrame(
        [(int(i),) for i in ids], "id long"
    ).select(
        "id",
        F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(11)), F.lit(n_sub))
        .alias("s"),
    ).collect()
    sub_of = {r["id"]: (r["s"] if cell[ids.index(r["id"])] == 0 else 0)
              for r in sub_rows}

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(
            df, cents, threshold=thr, max_cell_rows=max_rows,
            subcentroid_sample=0,
        ).collect()
    }
    want = _reference_pairs(ids, X, cell, thr, sub=sub_of)
    assert set(got) == set(want)
    for p, c in got.items():
        assert abs(c - want[p]) < 1e-6
    # the split actually bounded the groups: no (cell, sub) group holds
    # the whole hot cell; sizes stay near max_rows (binomial slack)
    from collections import Counter

    sizes = Counter((cell[k], sub_of[ids[k]]) for k in range(len(ids)))
    hot_total = sum(n for (c, _), n in sizes.items() if c == 0)
    assert max(n for (c, _), n in sizes.items() if c == 0) < hot_total
    mean = hot_total / n_sub
    assert max(sizes.values()) <= mean + 6 * mean ** 0.5

    # planted dups that share a sub-cell are recovered
    recovered = {(i, 10_000 + i) for i in range(15)
                 if sub_of[i] == sub_of[10_000 + i]} & set(want)
    assert recovered <= set(got)


def test_semantic_dedup_guard_noop_on_balanced_cells(spark):
    """Equality to the unguarded form when no cell exceeds the bound:
    the guard must be a pure no-op (same pairs, same cosines)."""
    from siskin_spark.functions.vectors import semantic_dedup_pairs

    df, expected, _ = _mk_embeddings(spark)
    from siskin_spark.functions.vectors import ivf_fit_centroids

    cents = ivf_fit_centroids(df, k=4, sample=1000, seed=7)
    unguarded = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(
            df, cents, threshold=0.95, max_cell_rows=None
        ).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(
            df, cents, threshold=0.95, max_cell_rows=1000
        ).collect()
    }
    assert guarded == unguarded and expected <= set(guarded)


def test_semantic_dedup_hot_cell_raise_mode(spark):
    """hot_cell='raise' refuses with the cell histogram instead of
    silently launching the quadratic join."""
    import pytest

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    df, cents, *_ = _hot_cell_fixture(spark)
    with pytest.raises(ValueError, match="Heaviest cells"):
        semantic_dedup_pairs(
            df, cents, threshold=0.95, max_cell_rows=40, hot_cell="raise"
        ).collect()
    # the two modes are the whole contract: anything else refuses
    with pytest.raises(ValueError, match="'subcentroid' or 'raise'"):
        semantic_dedup_pairs(df, cents, hot_cell="hash")


def test_semantic_dedup_subcentroid_recovers_planted_dups(spark):
    """r9 verdict #1: the default sub-centroid split must recover the
    planted near-dup pairs inside the hot cell — the exact pairs the
    random-hash split loses at rate 1 - 1/n_subs (pair members land in
    the same sub-cell only by coin flip; near-identical vectors land
    on the same NEAREST SUB-CENTROID by construction). Also pins that
    found pairs remain a subset of the true same-cell pairs (the
    split can only drop, never invent)."""
    from siskin_spark.functions.vectors import semantic_dedup_pairs

    df, cents, ids, X, cell = _hot_cell_fixture(spark)
    max_rows, thr = 40, 0.95
    planted = {(i, 10_000 + i) for i in range(15)}
    unguarded = _reference_pairs(ids, X, cell, thr)
    assert planted <= set(unguarded)

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(
            df, cents, threshold=thr, max_cell_rows=max_rows
        ).collect()
    }
    # nearly every planted pair survives the sub-centroid split (the
    # residual loss is true Voronoi-boundary straddles — 2 of 15 on
    # this seeded blob — versus ~1 - 1/n_subs = 80% expected loss for
    # the hash split); deterministic: seeded fit, hash-filtered sample
    assert len(planted & set(got)) >= 13
    # never invents pairs, cosines exact vs the numpy reference
    assert set(got) <= set(unguarded)
    for p, c in got.items():
        assert abs(c - unguarded[p]) < 1e-6

    # the hash split on the SAME input (the sample-starved fallback)
    # loses planted pairs (the measured r9 recall hole this mode exists
    # to close) — if this ever starts passing, the fixture stopped
    # stressing the split
    hash_got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, cents, threshold=thr, max_cell_rows=max_rows,
            subcentroid_sample=0,
        ).collect()
    }
    assert len(planted & hash_got) < len(planted)
    assert len(planted & set(got)) > len(planted & hash_got)


def test_semantic_dedup_subcentroid_residual_guard(spark):
    """A cell of IDENTICAL vectors defeats any geometric split (every
    member collapses onto one sub-centroid); the residual seeded-hash
    split must still bound the join groups — pair count drops well
    below all-pairs while every found pair is an exact duplicate, and
    the GEMM engine (whose memory bound the residual IS) agrees with
    the expression engine on the same input."""
    import numpy as np

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    rng = np.random.default_rng(5)
    base = rng.normal(size=DIM)
    base = base / np.linalg.norm(base)
    rows = [(i, [float(x) for x in base]) for i in range(120)]
    cold = rng.normal(size=DIM)
    rows += [(1000 + i, [float(x) for x in cold / np.linalg.norm(cold)])
             for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in -base])],
        "cid int, cv array<float>",
    )
    max_rows = 40
    got = semantic_dedup_pairs(
        df, cents, threshold=0.999, max_cell_rows=max_rows
    ).collect()
    all_pairs = 120 * 119 // 2
    # the residual split engaged: far fewer than all-pairs, but the
    # sub-groups still pair internally (ceil(120/40)=3 hash groups of
    # ~40 -> ~3 * C(40,2) pairs, binomial slack either way)
    assert 0 < len(got) < 0.6 * all_pairs
    assert all(abs(r["cos_sim"] - 1.0) < 1e-9 for r in got)
    gemm = semantic_dedup_pairs(
        df, cents, threshold=0.999, max_cell_rows=max_rows, engine="gemm"
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in gemm} == {
        (r["id_a"], r["id_b"]) for r in got
    }


def test_semantic_dedup_zero_vector_no_pairs(spark):
    """ADVICE r9: an all-zero embedding must pair with NOTHING in both
    engines. The expr path's raw cosine is 0/0 = NaN, and Spark orders
    NaN greater than any value — without the guard `cos_sim >=
    threshold` passes and keep_canonical would falsely drop co-cell
    docs; the GEMM path substitutes norm 1 (cos 0). Both must agree."""
    import numpy as np

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    rng = np.random.default_rng(13)
    v0 = rng.normal(size=DIM)
    v0 = v0 / np.linalg.norm(v0)
    rows = [(0, [float(x) for x in v0]), (1, [float(x) for x in v0]),
            (2, [0.0] * DIM), (3, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in v0])], "cid int, cv array<float>"
    )
    for engine in ("expr", "gemm"):
        got = {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                df, cents, threshold=0.95, max_cell_rows=1000, engine=engine
            ).collect()
        }
        assert got == {(0, 1)}, f"engine={engine}: zero vectors must not pair"


def test_semantic_dedup_gemm_engine_matches_expr(spark):
    """engine='gemm' (the 100 TB scale family) finds the same pair set
    as the oracle-exact expression path, guarded and unguarded, with
    cosines equal to float tolerance."""
    import pytest

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    df, cents, *_ = _hot_cell_fixture(spark)
    # guard-inactive (bound far above any cell) and guard-active
    for max_rows in (10**9, 40):
        expr = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in semantic_dedup_pairs(
                df, cents, threshold=0.95, max_cell_rows=max_rows
            ).collect()
        }
        gemm = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in semantic_dedup_pairs(
                df, cents, threshold=0.95, max_cell_rows=max_rows,
                engine="gemm",
            ).collect()
        }
        assert set(gemm) == set(expr)
        for p in expr:
            assert abs(gemm[p] - expr[p]) < 1e-9
        assert expr, "fixture must produce pairs"
    # the GEMM engine's memory bound IS the guard: disabling it raises
    with pytest.raises(ValueError, match="max_cell_rows"):
        semantic_dedup_pairs(
            df, cents, threshold=0.95, max_cell_rows=None, engine="gemm"
        )


def test_semantic_dedup_gemm_string_ids(spark):
    """The GEMM pair engine must keep id_a < id_b and the declared id
    type for STRING keys too (pandas sort + utf8 ordering match
    Spark's binary string comparison for well-formed text)."""
    import numpy as np

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    rng = np.random.default_rng(9)
    base = rng.normal(size=(30, 16))
    rows = [(f"doc-{i:03d}", [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(f"dup-{i:03d}", [float(x) for x in base[i]]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in np.eye(16)[0]]),
         (1, [float(x) for x in np.eye(16)[1]])],
        "cid int, cv array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, cents, threshold=0.999, engine="gemm", max_cell_rows=100
        ).collect()
    }
    assert got == {(f"doc-{i:03d}", f"dup-{i:03d}") for i in range(4)}


def test_semantic_dedup_residual_remap_never_merges_groups(spark):
    """Review r10: the residual remap was `_sub * 1e6 + hash` — an
    oversize sub-cell with index 0 remapped onto {0..ns2-1}, COLLIDING
    with the untouched sub-cells of the same cid and merging join
    groups past max_cell_rows (the bound the residual guard exists to
    enforce). The +1 offset keeps the two id spaces disjoint. Fixture:
    one hot cell holding 120 identical vectors (collapse onto one
    sub-centroid -> oversize -> residual split) plus 35 clustered
    far-away rows (their own sub-cells); threshold=-1 makes EVERY
    within-group pair visible, so pair components ARE the join groups."""
    import numpy as np

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=DIM)
    base = base / np.linalg.norm(base)
    other = rng.normal(size=DIM)
    other -= (other @ base) * base  # orthogonal to base
    other = other / np.linalg.norm(other)
    rows = [(i, [float(x) for x in base]) for i in range(120)]
    for i in range(35):
        v = other + 0.05 * rng.normal(size=DIM)
        rows.append((500 + i, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # ONE catch-all cell so everything lands in a single hot cid
    cents = spark.createDataFrame(
        [(0, [float(x) for x in base])], "cid int, cv array<float>"
    )
    pairs = semantic_dedup_pairs(
        df, cents, threshold=-1.0, max_cell_rows=40
    ).collect()
    # no join group may mix the two populations: a base-vs-other pair
    # is visible as cos ~ 0 at this threshold
    cross = [
        r for r in pairs
        if (r["id_a"] < 500) != (r["id_b"] < 500)
    ]
    assert cross == []
    # and every group stays bounded: pair components = join groups
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import Counter

    sizes = Counter(find(n) for n in parent)
    assert max(sizes.values()) <= 60, sizes.most_common(5)


def test_semantic_dedup_subcentroid_zero_vector_hot_cell(spark):
    """Review r10: a hot cell full of all-zero embeddings (near-zero
    junk IS the typical degenerate cell) must not produce NaN
    sub-centroids — unguarded, `m / norm(m)` yields a NaN row and
    argmax treats NaN as maximal, collapsing the whole cell onto one
    sub-cell. With the guard the zero rows still split (residual
    hash), pair with nothing at a positive threshold, and the real
    vectors in the same cell keep pairing normally."""
    import numpy as np

    from siskin_spark.functions.vectors import semantic_dedup_pairs

    rng = np.random.default_rng(3)
    v = rng.normal(size=DIM)
    v = v / np.linalg.norm(v)
    rows = [(i, [0.0] * DIM) for i in range(120)]
    rows += [(500 + i, [float(x) for x in v]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [float(x) for x in v])], "cid int, cv array<float>"
    )
    got = semantic_dedup_pairs(
        df, cents, threshold=0.5, max_cell_rows=40
    ).collect()
    # zero vectors pair with NOTHING (cos forced to 0 < 0.5); the ten
    # identical real vectors pair among themselves wherever the split
    # put them (same nearest sub-centroid -> same group)
    ids = {(r["id_a"], r["id_b"]) for r in got}
    assert all(a >= 500 and b >= 500 for a, b in ids)
    assert len(ids) > 0
    assert all(not np.isnan(r["cos_sim"]) for r in got)


# ---------------------------------------------------------------------------
# incremental semantic dedup (persisted cell index)


def _sem_corpus(spark, n=400, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, DIM))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return rows, X


def test_incremental_semdedup_matches_full_recompute(tmp_path, spark):
    """The incremental path (batch GEMM-assign + co-cell join against
    the persisted cells) must find EXACTLY the pairs a full
    semantic_dedup_pairs over (index + batch) finds that touch a
    batch id — same centroids, same threshold, orientation
    normalized."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        incremental_semdedup_keep,
        semantic_dedup_pairs,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 400)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx")
    semdedup_index_build(corpus, idx_dir, k=8, sample=400, iters=6, seed=3)

    rng = np.random.default_rng(99)
    batch_rows = []
    # exact dup of index vec 7, near-dup of 123, novel vecs, and a
    # batch-internal exact pair (2000, 2001)
    batch_rows.append((1000, [float(x) for x in X[7]]))
    v = X[123] + 0.05 * rng.normal(size=DIM)
    batch_rows.append((1001, [float(x) for x in v / np.linalg.norm(v)]))
    for j in range(20):
        w = rng.normal(size=DIM)
        batch_rows.append((1100 + j, [float(x) for x in w / np.linalg.norm(w)]))
    u = rng.normal(size=DIM)
    u = u / np.linalg.norm(u)
    batch_rows.append((2000, [float(x) for x in u]))
    batch_rows.append((2001, [float(x) for x in u]))
    batch = spark.createDataFrame(batch_rows, "vec_id long, embedding array<float>")

    got = incremental_semdedup(spark, batch, idx_dir, threshold=0.9)
    got_pairs = {(r["vec_id"], r["dup_of"]): r["cos_sim"] for r in got.collect()}
    # the no-collect expr engine finds the identical pair set
    expr_pairs = {
        (r["vec_id"], r["dup_of"]): r["cos_sim"]
        for r in incremental_semdedup(
            spark, batch, idx_dir, threshold=0.9, engine="expr"
        ).collect()
    }
    assert set(expr_pairs) == set(got_pairs)
    for p, c in expr_pairs.items():
        assert abs(c - got_pairs[p]) < 1e-12

    # full recompute under the SAME frozen centroids
    cents = spark.read.parquet(idx_dir + "/centroids")
    full = semantic_dedup_pairs(
        corpus.unionByName(batch), cents, threshold=0.9, max_cell_rows=None
    ).collect()
    batch_ids = {r[0] for r in batch_rows}
    want = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a in batch_ids or b in batch_ids:
            # orientation: batch id first; batch-internal -> larger first
            drop, keep = (b, a) if b in batch_ids else (a, b)
            want[(drop, keep)] = r["cos_sim"]
    assert set(got_pairs) == set(want)
    for p, c in got_pairs.items():
        assert abs(c - want[p]) < 1e-12
    # the planted relations are all present
    assert (1000, 7) in got_pairs and (2001, 2000) in got_pairs
    assert any(p == (1001, 123) for p in got_pairs)
    # keep: drops exactly the flagged batch vectors
    kept = {
        r["vec_id"]
        for r in incremental_semdedup_keep(batch, got).collect()
    }
    assert kept == batch_ids - {p[0] for p in got_pairs}


def test_incremental_semdedup_append_and_guard(tmp_path, spark):
    """Survivors appended under the frozen centroids are visible to the
    next batch; the index-side hot-cell guard raises with the cell
    histogram instead of launching a skewed join."""
    import numpy as np

    import pytest as _pytest

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        incremental_semdedup_keep,
        semdedup_index_append,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 200, seed=21)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx2")
    semdedup_index_build(corpus, idx_dir, k=4, sample=200, iters=6, seed=3)

    rng = np.random.default_rng(5)
    w = rng.normal(size=DIM)
    w = w / np.linalg.norm(w)
    b1 = spark.createDataFrame(
        [(500, [float(x) for x in w])], "vec_id long, embedding array<float>"
    )
    p1 = incremental_semdedup(spark, b1, idx_dir, threshold=0.95)
    surv = incremental_semdedup_keep(b1, p1)
    assert surv.count() == 1  # novel vector survives
    semdedup_index_append(surv, idx_dir, batch_id="day-1")

    # second batch: an exact copy of the appended vector must now hit
    b2 = spark.createDataFrame(
        [(600, [float(x) for x in w])], "vec_id long, embedding array<float>"
    )
    p2 = {(r["vec_id"], r["dup_of"]) for r in
          incremental_semdedup(spark, b2, idx_dir, threshold=0.95).collect()}
    assert (600, 500) in p2

    # guard: every index cell has <= 200 rows; a 1-row bound trips on
    # whatever cell the batch touches
    with _pytest.raises(ValueError, match="max_batch_cell_rows"):
        incremental_semdedup(
            spark, b2, idx_dir, threshold=0.95, max_batch_cell_rows=1
        )


def test_incremental_semdedup_tiling_and_meta_version(tmp_path, spark):
    """Review r10: sim tiles must be bounded by sim_buffer_bytes on the
    BATCH-cell dimension too (max_batch_cell_rows bounds only the
    index side) — a tiny buffer forces many tiles and the pair set
    must not change. Also: the meta version gate refuses a foreign
    layout loudly."""
    import json

    import pytest as _pytest

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 150, seed=31)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx3")
    semdedup_index_build(corpus, idx_dir, k=4, sample=150, iters=5, seed=3)
    # batch = copies of 30 corpus vectors plus one internal dup pair
    batch_rows = [(900 + i, [float(x) for x in X[i * 4]]) for i in range(30)]
    batch_rows += [(2000, [float(x) for x in X[0]]), (2001, [float(x) for x in X[0]])]
    batch = spark.createDataFrame(batch_rows, "vec_id long, embedding array<float>")

    big = {(r["vec_id"], r["dup_of"]): r["cos_sim"] for r in
           incremental_semdedup(spark, batch, idx_dir, threshold=0.95).collect()}
    tiny = {(r["vec_id"], r["dup_of"]): r["cos_sim"] for r in
            incremental_semdedup(
                spark, batch, idx_dir, threshold=0.95, sim_buffer_bytes=256
            ).collect()}
    # identical PAIR SET; cosines may wiggle a couple ulp because the
    # tile size changes the BLAS blocking (summation order)
    assert set(big) == set(tiny)
    for p in big:
        assert abs(big[p] - tiny[p]) < 1e-12
    assert len(big) >= 30  # every planted copy + the internal pair found

    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert "cell_counts" in meta and sum(meta["cell_counts"].values()) == 150
    meta["version"] = 99
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))
    with _pytest.raises(ValueError, match="layout version"):
        incremental_semdedup(spark, batch, idx_dir)


def test_incremental_semdedup_guard_fallback_and_dup_ids(tmp_path, spark):
    """Review r10 (3rd pass): (a) an index whose meta predates the
    cell-counts histogram must still GUARD — one live count of the
    touched cells, never a silent 'count 0' bypass; (b) a batch
    carrying the same vec_id twice (re-ingested file) must not emit a
    self-pair — a (42, 42) pair would make keep drop BOTH copies,
    where the expr engine's strict > keeps one."""
    import json

    import numpy as np
    import pytest as _pytest

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        incremental_semdedup_keep,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 120, seed=41)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx4")
    semdedup_index_build(corpus, idx_dir, k=3, sample=120, iters=5, seed=3)
    # simulate a pre-histogram index
    meta = json.load(open(_sem_meta_path(idx_dir)))
    del meta["cell_counts"]
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))

    rng = np.random.default_rng(9)
    w = rng.normal(size=DIM)
    w = w / np.linalg.norm(w)
    dup_batch = spark.createDataFrame(
        [(42, [float(x) for x in w]), (42, [float(x) for x in w]),
         (50, [float(x) for x in X[3]])],
        "vec_id long, embedding array<float>",
    )
    # (a) live-count fallback still enforces the bound
    for eng in ("gemm", "expr"):
        with _pytest.raises(ValueError, match="max_batch_cell_rows"):
            incremental_semdedup(
                spark, dup_batch, idx_dir, max_batch_cell_rows=10, engine=eng
            )
    # (b) no self-pairs; keep retains one copy of the duplicated id
    pairs = incremental_semdedup(spark, dup_batch, idx_dir, threshold=0.95)
    got = [(r["vec_id"], r["dup_of"]) for r in pairs.collect()]
    assert all(a != b for a, b in got)
    kept = [r["vec_id"] for r in
            incremental_semdedup_keep(dup_batch, pairs).collect()]
    # 50 is a planted copy of an index vector -> dropped; 42 keeps at
    # least one row (self-pairs would have dropped both)
    assert 42 in kept and 50 not in kept


def test_incremental_semdedup_chunked_matches_unchunked(tmp_path, spark):
    """Round 11: the gemm admit must give the SAME pair set whether the
    Arrow-collected batch runs as one packed broadcast or as many
    cid-sorted chunks (batch_chunk_rows straddling the batch, and the
    byte-budget auto-derivation forced tiny) — chunking bounds driver/
    executor memory, never results. Chunk boundaries land mid-cell on
    purpose: a cid straddling two chunks is the correctness edge (its
    index rows are scanned by both chunks but against disjoint batch
    rows, so no pair may duplicate or drop)."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 300, seed=51)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx5")
    semdedup_index_build(corpus, idx_dir, k=6, sample=300, iters=6, seed=3)

    rng = np.random.default_rng(77)
    batch_rows = [(900 + i, [float(x) for x in X[i * 3]]) for i in range(40)]
    for j in range(50):
        w = rng.normal(size=DIM)
        batch_rows.append(
            (1500 + j, [float(x) for x in w / np.linalg.norm(w)])
        )
    u = rng.normal(size=DIM)
    u = u / np.linalg.norm(u)
    batch_rows += [(3000, [float(x) for x in u]), (3001, [float(x) for x in u])]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>"
    )

    def pairs(**kw):
        return {
            (r["vec_id"], r["dup_of"]): r["cos_sim"]
            for r in incremental_semdedup(
                spark, batch, idx_dir, threshold=0.95, **kw
            ).collect()
        }

    one = pairs()  # 92 rows, default budget -> single chunk
    chunked = pairs(batch_chunk_rows=17)  # 6 chunks, boundaries mid-cell
    assert set(one) == set(chunked)
    for p in one:
        assert abs(one[p] - chunked[p]) < 1e-12
    # byte-budget derivation: 17 rows x DIM x 8B budget -> same chunking
    budget = pairs(batch_budget_bytes=17 * DIM * 8)
    assert set(budget) == set(one)
    # r12 per-range collect: a chunk smaller than every cell's batch
    # rows forces the heavy-cid path (each cid its own range, collected
    # whole, sliced locally into several sub-chunk broadcasts)
    assert set(pairs(batch_chunk_rows=5)) == set(one)
    assert len(one) >= 40  # every planted copy + the internal pair


def test_semdedup_index_compact(tmp_path, spark):
    """Round 11: N daily appends leave N file generations; compaction
    re-packs cells/ into few cid-clustered files with IDENTICAL
    incremental results, a surviving replay ledger, and a refreshed
    histogram."""
    import json

    import numpy as np

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_append,
        semdedup_index_build,
        semdedup_index_compact,
    )

    rows, _ = _sem_corpus(spark, 100, seed=71)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx7")
    semdedup_index_build(corpus, idx_dir, k=3, sample=100, iters=5, seed=3)

    rng = np.random.default_rng(12)
    probes = []
    for d in range(4):
        batch_rows = []
        for j in range(5):
            w = rng.normal(size=DIM)
            w = w / np.linalg.norm(w)
            batch_rows.append((1000 + 10 * d + j, [float(x) for x in w]))
        probes.append(batch_rows[0])
        bdf = spark.createDataFrame(
            batch_rows, "vec_id long, embedding array<float>"
        )
        semdedup_index_append(bdf, idx_dir, batch_id=f"day-{d}")

    probe = spark.createDataFrame(
        [(9000 + i, v) for i, (_, v) in enumerate(probes)],
        "vec_id long, embedding array<float>",
    )
    before = {(r["vec_id"], r["dup_of"]) for r in
              incremental_semdedup(spark, probe, idx_dir).collect()}
    assert len(before) >= 4  # each day's appended vector is findable

    stats = semdedup_index_compact(spark, idx_dir, target_file_mb=128)
    assert stats["files_after"] < stats["files_before"]
    assert stats["bytes_after"] > 0
    after = {(r["vec_id"], r["dup_of"]) for r in
             incremental_semdedup(spark, probe, idx_dir).collect()}
    assert after == before
    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert meta["appended"] == [f"day-{d}" for d in range(4)]
    assert sum(meta["cell_counts"].values()) == 120
    # replay of a compacted-away batch still no-ops off the ledger
    bdf = spark.createDataFrame(
        [(1000, probes[0][1])], "vec_id long, embedding array<float>"
    )
    semdedup_index_append(bdf, idx_dir, batch_id="day-0")
    assert spark.read.parquet(idx_dir + "/cells").count() == 120


def test_semdedup_index_drift(tmp_path, spark):
    """r12 drift gauge: a batch drawn from the index's own
    distribution scores ~the index sample's centroid fit (drift ~0);
    a batch from a DIFFERENT distribution (random directions vs the
    index's tight clusters) scores materially lower — the refit
    signal every 'frozen centroids, rebuild on drift' docstring
    defers to."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_drift,
    )

    rng = np.random.default_rng(13)
    # 3 tight clusters: center + small noise, unit-normalized
    centers = rng.normal(size=(3, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(300):
        v = centers[i % 3] + 0.03 * rng.normal(size=DIM)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx_drift")
    semdedup_index_build(corpus, idx_dir, k=3, sample=300, iters=8, seed=3)

    same = []
    for j in range(60):
        v = centers[j % 3] + 0.03 * rng.normal(size=DIM)
        same.append((900 + j, [float(x) for x in v / np.linalg.norm(v)]))
    same_df = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    got = semdedup_index_drift(same_df, idx_dir)
    assert got["index"]["n"] > 0 and got["batch"]["n"] == 60
    assert got["index"]["mean"] > 0.9  # tight clusters fit their cells
    assert abs(got["drift"]) < 0.05  # same distribution: no drift

    shifted = [
        (950 + j, [float(x) for x in w / np.linalg.norm(w)])
        for j, w in enumerate(rng.normal(size=(60, DIM)))
    ]
    got2 = semdedup_index_drift(
        spark.createDataFrame(shifted, "vec_id long, embedding array<float>"),
        idx_dir,
    )
    assert got2["drift"] > 0.3  # random directions: far from every cell
    assert got2["batch"]["p10"] < got["batch"]["p10"]

    # determinism: the hash-sampled index side returns the same stats
    assert semdedup_index_drift(same_df, idx_dir) == got


def test_semdedup_index_remove(tmp_path, spark):
    """r12 retraction path: removed vectors stop matching admits, the
    rewrite preserves results for everything else, the replay ledger
    survives (a replayed append of a removed batch no-ops — removal is
    the newer fact), the histogram recounts, and removal refuses while
    an append is pending (compaction-class mutation)."""
    import json

    import numpy as np
    import pytest

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_append,
        semdedup_index_build,
        semdedup_index_remove,
    )

    rows, X = _sem_corpus(spark, 100, seed=81)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "semidx_rm")
    semdedup_index_build(corpus, idx_dir, k=3, sample=100, iters=5, seed=3)
    rng = np.random.default_rng(4)
    w = rng.normal(size=DIM)
    w = w / np.linalg.norm(w)
    semdedup_index_append(
        spark.createDataFrame(
            [(700, [float(x) for x in w])],
            "vec_id long, embedding array<float>",
        ),
        idx_dir, batch_id="day-1",
    )

    probe = spark.createDataFrame(
        [(800, [float(x) for x in w]), (801, [float(x) for x in X[5]])],
        "vec_id long, embedding array<float>",
    )

    def hit_targets():
        return {r["dup_of"] for r in
                incremental_semdedup(spark, probe, idx_dir).collect()}

    before = hit_targets()
    assert 700 in before and 5 in before  # both targets live pre-removal

    # pending append blocks removal (same interleaving hazard as compact)
    meta = json.load(open(_sem_meta_path(idx_dir)))
    meta["pending"] = ["day-2"]
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))
    with pytest.raises(RuntimeError, match="day-2"):
        semdedup_index_remove(
            spark.createDataFrame([(700,)], "vec_id long"), idx_dir
        )
    meta["pending"] = []
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))

    # wrong-shape ids frame is a loud error
    with pytest.raises(ValueError, match="id column"):
        semdedup_index_remove(
            spark.createDataFrame([(700, 1)], "vec_id long, x int"), idx_dir
        )

    stats = semdedup_index_remove(
        spark.createDataFrame([(700,), (5,)], "vec_id long"), idx_dir
    )
    assert stats["rows_removed"] == 2
    cells = spark.read.parquet(idx_dir + "/cells")
    assert cells.count() == 99
    assert cells.filter(F.col("vec_id").isin([700, 5])).count() == 0
    after = hit_targets()
    assert 700 not in after and 5 not in after
    # everything else still matches exactly as before
    assert after == before - {700, 5}
    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert sum(meta["cell_counts"].values()) == 99
    assert meta["appended"] == ["day-1"]  # ledger survives...
    semdedup_index_append(  # ...so the removed batch's replay no-ops
        spark.createDataFrame(
            [(700, [float(x) for x in w])],
            "vec_id long, embedding array<float>",
        ),
        idx_dir, batch_id="day-1",
    )
    assert spark.read.parquet(idx_dir + "/cells").count() == 99


def test_incremental_semdedup_chunked_768dim_budget(tmp_path, spark):
    """The byte-budget chunk derivation must adapt to the embedding
    width: at 768-dim (realistic sentence-embedding width, 12x the
    synthetic 64) the same byte budget yields 12x fewer rows per
    chunk, and the chunked admit still equals the unchunked one."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    dim = 768
    rng = np.random.default_rng(83)
    X = rng.normal(size=(160, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(160)],
        "vec_id long, embedding array<float>",
    )
    idx_dir = str(tmp_path / "semidx768")
    semdedup_index_build(corpus, idx_dir, k=4, sample=160, iters=4, seed=3)

    batch_rows = [(900 + i, [float(x) for x in X[i * 2]]) for i in range(30)]
    for j in range(30):
        w = rng.normal(size=dim)
        batch_rows.append((1500 + j, [float(x) for x in w / np.linalg.norm(w)]))
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>"
    )

    def pairs(**kw):
        return {
            (r["vec_id"], r["dup_of"]): r["cos_sim"]
            for r in incremental_semdedup(
                spark, batch, idx_dir, threshold=0.95, **kw
            ).collect()
        }

    one = pairs()
    # 13 rows/chunk at 768-dim (13*768*8 B budget) -> 5 chunks; the
    # same budget at 64-dim would be 156 rows -> one chunk
    budget = 13 * dim * 8
    assert max(1, budget // (8 * dim)) == 13
    chunked = pairs(batch_budget_bytes=budget)
    assert set(one) == set(chunked) and len(one) >= 30
    for p in one:
        assert abs(one[p] - chunked[p]) < 1e-12


def test_semdedup_index_int8_store(tmp_path, spark):
    """r11 SQ8 storage: an int8-quantized index is ~4x smaller, the
    gemm admit finds the same pair set (quantization shifts cosines
    by ~1e-3, far from a 0.9 threshold on this corpus), the expr
    engine refuses it loudly, appends inherit the store, and a
    zero-norm vector keeps its no-pair contract."""
    import json
    import os

    import numpy as np
    import pytest as _pytest

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_append,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 200, seed=91)
    rows = rows + [(500, [0.0] * DIM)]  # zero-norm row rides along
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    f32_dir, q8_dir = str(tmp_path / "f32"), str(tmp_path / "q8")
    semdedup_index_build(corpus, f32_dir, k=4, sample=200, iters=5, seed=3)
    semdedup_index_build(
        corpus, q8_dir, k=4, sample=200, iters=5, seed=3, store="int8"
    )
    assert json.load(open(_sem_meta_path(q8_dir)))["store"] == "int8"
    size = lambda d: sum(  # noqa: E731
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(d, "cells")) for f in fs
        if f.endswith(".parquet")
    )
    assert size(q8_dir) < size(f32_dir) * 0.55  # ~4x on data + overhead
    cells = spark.read.parquet(q8_dir + "/cells")
    assert dict(cells.dtypes)["embedding"] == "array<tinyint>"

    rng = np.random.default_rng(19)
    batch_rows = [(900, [float(x) for x in X[7]])]  # exact dup of 7
    for j in range(20):
        w = rng.normal(size=DIM)
        batch_rows.append((1000 + j, [float(x) for x in w / np.linalg.norm(w)]))
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>"
    )

    def pairs(d):
        return {
            (r["vec_id"], r["dup_of"]): r["cos_sim"]
            for r in incremental_semdedup(
                spark, batch, d, threshold=0.9
            ).collect()
        }

    pf, pq = pairs(f32_dir), pairs(q8_dir)
    assert set(pf) == set(pq) and (900, 7) in pq
    # composition: the chunked path over the quantized index is the
    # same pair set (shared gemm code, co-pinned here)
    q8_chunked = {
        (r["vec_id"], r["dup_of"])
        for r in incremental_semdedup(
            spark, batch, q8_dir, threshold=0.9, batch_chunk_rows=5
        ).collect()
    }
    assert q8_chunked == set(pq)
    for p in pf:
        assert abs(pf[p] - pq[p]) < 0.01  # SQ8 error bound
    assert pq[(900, 7)] > 0.999
    assert not any(d == 500 for _, d in pq)  # zero vector never pairs

    with _pytest.raises(ValueError, match="int8-quantized"):
        incremental_semdedup(spark, batch, q8_dir, engine="expr")

    # append inherits the quantized store; a copy of the appended
    # vector hits it and the schema stays tinyint
    w = rng.normal(size=DIM)
    w = w / np.linalg.norm(w)
    semdedup_index_append(
        spark.createDataFrame(
            [(700, [float(x) for x in w])], "vec_id long, embedding array<float>"
        ),
        q8_dir, batch_id="q8-day",
    )
    assert dict(
        spark.read.parquet(q8_dir + "/cells").dtypes
    )["embedding"] == "array<tinyint>"
    probe = spark.createDataFrame(
        [(800, [float(x) for x in w])], "vec_id long, embedding array<float>"
    )
    hits = {(r["vec_id"], r["dup_of"]) for r in
            incremental_semdedup(spark, probe, q8_dir, threshold=0.95).collect()}
    assert (800, 700) in hits


def test_sq8_quantization_error_bound(spark):
    """The int8 store's documented accuracy claim, measured: over
    random unit-vector pairs, |cos(q8(a), b) - cos(a, b)| is ~1.5e-3
    median / under ~1e-2 at the observed tail, and DIMENSION-
    INDEPENDENT (measured 64/256/768: medians 1.5e-3..1.7e-3) — the
    error that decides whether a threshold-adjacent pair flips. Pure
    numpy mirror of the engine math (quantize like _sem_quantize_q8,
    renormalize like the gemm emit), so the bound is pinned against
    the same arithmetic."""
    import numpy as np

    rng = np.random.default_rng(7)
    A = rng.normal(size=(300, DIM))
    A = A / np.linalg.norm(A, axis=1, keepdims=True)
    B = rng.normal(size=(300, DIM))
    B = B / np.linalg.norm(B, axis=1, keepdims=True)
    Q = np.round(A * 127.0)  # _sem_quantize_q8 on unit vectors
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)  # gemm renormalize
    err = np.abs(np.sum(Qn * B, axis=1) - np.sum(A * B, axis=1))
    assert err.max() < 1.2e-2
    assert np.median(err) < 2.5e-3
    # near-duplicate pairs (the regime SemDeDup thresholds live in):
    # perturb A slightly and check the quantized cosine tracks
    P = A + 0.05 * rng.normal(size=A.shape)
    P = P / np.linalg.norm(P, axis=1, keepdims=True)
    err_nd = np.abs(np.sum(Qn * P, axis=1) - np.sum(A * P, axis=1))
    assert err_nd.max() < 1.2e-2


def test_incremental_semdedup_nprobe_boundary_recovery(tmp_path, spark):
    """r11 nprobe: a true near-dup pair straddling a centroid boundary
    (cos ~0.999, different primary cells) is invisible at nprobe=1 and
    found at nprobe=2 — on both engines and on the chunked path; at
    nprobe=k the vs-index compare equals numpy brute force."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    e0, e1 = np.zeros(DIM), np.zeros(DIM)
    e0[0], e1[1] = 1.0, 1.0
    cents = spark.createDataFrame(
        [(0, [float(x) for x in e0]), (1, [float(x) for x in e1])],
        "cid int, cv array<float>",
    )
    # index: a vector leaning into cell 1, plus filler in both cells
    rng = np.random.default_rng(37)
    iv = e0 + 1.05 * e1
    iv = iv / np.linalg.norm(iv)
    rows = [(10, [float(x) for x in iv])]
    for j in range(20):
        w = rng.normal(size=DIM) * 0.1
        w[j % 2] += 2.0  # cell j%2
        rows.append((100 + j, [float(x) for x in w / np.linalg.norm(w)]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "npidx")
    semdedup_index_build(corpus, idx_dir, centroids=cents)

    # ADVICE r12: caller-supplied centroids must not self-describe with
    # the bypassed fit knobs — the meta records the ACTUAL cell count
    # and marks the source instead of the default k=256/sample/iters
    import json


    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert meta["k"] == 2 and meta["centroids"] == "caller"
    assert "sample" not in meta and "iters" not in meta

    # batch: the boundary partner, leaning into cell 0
    bv = 1.05 * e0 + e1
    bv = bv / np.linalg.norm(bv)
    batch = spark.createDataFrame(
        [(900, [float(x) for x in bv])], "vec_id long, embedding array<float>"
    )
    true_cos = float(np.dot(iv, bv))
    assert true_cos > 0.99  # genuinely a near-dup

    def pairs(**kw):
        return {
            (r["vec_id"], r["dup_of"]): r["cos_sim"]
            for r in incremental_semdedup(
                spark, batch, idx_dir, threshold=0.95, **kw
            ).collect()
        }

    assert (900, 10) not in pairs()  # the nprobe=1 miss class
    for kw in (
        {"nprobe": 2},
        {"nprobe": 2, "engine": "expr"},
        {"nprobe": 2, "batch_chunk_rows": 1},
    ):
        got = pairs(**kw)
        assert (900, 10) in got, kw
        # engine sees float32-cast embeddings; ~1e-7 relative
        assert abs(got[(900, 10)] - true_cos) < 1e-6, kw

    # nprobe >= k: exhaustive vs-index == numpy brute force
    X = np.array([r[1] for r in rows])
    brute = {
        (900, rows[m][0])
        for m in range(len(rows))
        if float(np.dot(X[m], bv)) >= 0.95
    }
    got_all = pairs(nprobe=2)  # k=2 cells, so nprobe=2 IS exhaustive
    assert set(got_all) == brute


def test_streaming_semdedup_gate(tmp_path, spark):
    """streaming/gate.py: the daily-gate admit as a foreachBatch sink —
    two micro-batches stream through, cross-batch duplicates are
    caught via the index append, and both replay shapes (committed
    ledger hit, crashed half-placement) converge to the first
    attempt's survivors and exactly one indexed copy."""
    import json
    import os

    import numpy as np

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
    )
    from siskin_spark.streaming.gate import semdedup_gate_writer

    rows, X = _sem_corpus(spark, 120, seed=61)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "gateidx")
    semdedup_index_build(corpus, idx_dir, k=3, sample=120, iters=5, seed=3)

    rng = np.random.default_rng(9)
    w1 = rng.normal(size=DIM)
    w1 /= np.linalg.norm(w1)
    w2 = rng.normal(size=DIM)
    w2 /= np.linalg.norm(w2)
    schema = "vec_id long, embedding array<float>"
    b0 = [(700, [float(x) for x in X[0]]), (701, [float(x) for x in w1])]
    b1 = [(702, [float(x) for x in w1]), (703, [float(x) for x in w2])]

    out_dir = str(tmp_path / "gated")
    gate = semdedup_gate_writer(idx_dir, out_dir, threshold=0.95)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_feed(spark, tmp_path, "feed", [b0, b1]))
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    def survivors(bid):
        return {
            r["vec_id"]
            for r in spark.read.parquet(f"{out_dir}/gate_batch={bid}").collect()
        }

    # batch 0: 700 dups corpus vec 0; batch 1: 702 dups INDEXED 701 —
    # the cross-batch catch only works because batch 0's survivors
    # were appended before batch 1 admitted
    assert survivors(0) == {701}
    assert survivors(1) == {703}
    cells = lambda: spark.read.parquet(idx_dir + "/cells").count()  # noqa: E731
    assert cells() == 122
    meta = json.load(open(_sem_meta_path(idx_dir)))
    ids = [f"stream-{q.id}-0", f"stream-{q.id}-1"]
    assert meta["appended"] == ids
    assert meta.get("pending", []) == []

    # committed replay: same batch id arrives again -> pure no-op, the
    # landed files are not even rewritten
    landed = lambda: sorted(os.listdir(f"{out_dir}/gate_batch=1"))  # noqa: E731
    before = landed()
    with _in_stream(spark, q.id):
        gate(spark.createDataFrame(b1, schema), 1)
    assert survivors(1) == {703} and cells() == 122
    assert landed() == before

    # crashed replay: ledger lost the commit (write-ahead 'pending'
    # remains) while the files ARE placed — the replay must land the
    # same survivors and leave one indexed copy of the batch
    meta["appended"] = ids[:1]
    meta["pending"] = ids[1:]
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))
    with _in_stream(spark, q.id):
        gate(spark.createDataFrame(b1, schema), 1)
    assert survivors(1) == {703} and cells() == 122
    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert meta["appended"] == ids
    assert meta.get("pending", []) == []


@contextlib.contextmanager
def _in_stream(spark, query_id: str):
    """Call a ``semdedup_gate_writer`` callable as ``foreachBatch``
    does: with the streaming query id set on this thread."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", query_id)
    try:
        yield
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def _feed(spark, tmp_path, name: str, batches) -> str:
    """A parquet feed directory holding one file per batch, in order."""
    import shutil

    feed = tmp_path / name
    feed.mkdir()
    for i, data in enumerate(batches):
        staging = tmp_path / f"{name}-stage{i}"
        spark.createDataFrame(data, "vec_id long, embedding array<float>").coalesce(
            1
        ).write.parquet(str(staging))
        part = next(p for p in staging.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), str(feed / f"f{i}.parquet"))
    return str(feed)


def test_streaming_semdedup_gate_checkpoint_reset(tmp_path, spark):
    """A fresh checkpoint restarts the micro-batch number at 0. The
    ledger id carries the query id, which lives in the checkpoint, so
    two streams on fresh checkpoints over one index both land and index
    their batch 0, while a query restarted on its checkpoint keeps its
    id and replaying its batch 0 stays a no-op. Outside a stream the
    callable refuses to append."""
    import json
    import os

    from siskin_spark.functions.vectors import semdedup_index_build
    from siskin_spark.streaming.gate import semdedup_gate_writer

    rows, X = _sem_corpus(spark, 120, seed=61)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "resetidx")
    semdedup_index_build(corpus, idx_dir, k=3, sample=120, iters=5, seed=3)
    rng = np.random.default_rng(12)
    fresh = [rng.normal(size=DIM) for _ in range(2)]
    a, b = [[(600 + i, [float(x) for x in v / np.linalg.norm(v)])] for i, v in enumerate(fresh)]
    schema = "vec_id long, embedding array<float>"

    def run(feed, ckpt, out_dir):
        gate = semdedup_gate_writer(idx_dir, out_dir, threshold=0.95)
        q = (
            spark.readStream.schema(schema).parquet(feed)
            .writeStream.foreachBatch(gate)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return q, gate

    out_a, out_b = str(tmp_path / "out-a"), str(tmp_path / "out-b")
    qa, gate_a = run(_feed(spark, tmp_path, "feed-a", [a]), "ckpt-a", out_a)
    qb, _ = run(_feed(spark, tmp_path, "feed-b", [b]), "ckpt-b", out_b)
    assert qa.id != qb.id
    for out_dir, want in ((out_a, {600}), (out_b, {601})):
        landed = spark.read.parquet(f"{out_dir}/gate_batch=0").collect()
        assert {r["vec_id"] for r in landed} == want
    cells = lambda: spark.read.parquet(idx_dir + "/cells")  # noqa: E731
    assert {r["vec_id"] for r in cells().filter("vec_id >= 600").collect()} == {600, 601}
    meta = json.load(open(_sem_meta_path(idx_dir)))
    assert meta["appended"] == [f"stream-{qa.id}-0", f"stream-{qb.id}-0"]

    # restart on checkpoint a: same query id; its batch 0 replayed is a no-op
    qa2, _ = run(str(tmp_path / "feed-a"), "ckpt-a", out_a)
    assert qa2.id == qa.id
    before = sorted(os.listdir(f"{out_a}/gate_batch=0")), cells().count()
    with _in_stream(spark, qa.id):
        gate_a(spark.createDataFrame(a, schema), 0)
    assert (sorted(os.listdir(f"{out_a}/gate_batch=0")), cells().count()) == before

    with pytest.raises(ValueError, match="foreachBatch"):
        gate_a(spark.createDataFrame(a, schema), 0)


def _boundary_pair_index(spark, tmp_path):
    """A 2-cell index (centroids e0, e1; two tight clusters of 20 far
    from the pair) and two near-duplicate vectors 800 and 801
    (cos 0.98) on either side of the e0/e1 cell boundary. Returns the
    index dir and the pair's rows."""
    import numpy as np

    from siskin_spark.functions.vectors import semdedup_index_build

    e = np.eye(DIM)
    rng = np.random.default_rng(4)
    corpus = []
    for c in (0, 1):
        for i in range(20):
            v = e[c] + 0.05 * rng.normal(size=DIM)
            corpus.append((100 * c + i, [float(x) for x in v / np.linalg.norm(v)]))
    idx_dir = str(tmp_path / "mpidx")
    semdedup_index_build(
        spark.createDataFrame(corpus, "vec_id long, embedding array<float>"),
        idx_dir,
        centroids=spark.createDataFrame(
            [(c, [float(x) for x in e[c]]) for c in (0, 1)], "cid int, cv array<float>"
        ),
    )
    x, y = 0.55 * e[0] + 0.45 * e[1], 0.45 * e[0] + 0.55 * e[1]
    return idx_dir, [
        (800, [float(v) for v in x / np.linalg.norm(x)]),
        (801, [float(v) for v in y / np.linalg.norm(y)]),
    ]


@pytest.mark.parametrize("caller", ["stream", "cli"])
def test_streaming_semdedup_gate_crash_replay_multiprobe(tmp_path, spark, caller):
    """A crashed append's half-placed survivors are swept BEFORE the
    replay admits, by the stream writer and by ``semdedup-batch
    --nprobe 2 --append-survivors`` alike: with nprobe=2 the vs-index
    leg reaches the neighbouring cell, while batch-internal pairs stay
    primary-cell only, so two near-duplicate survivors on either side
    of a cell boundary would otherwise drop each other on the replay."""
    import json

    from siskin_spark.cli import main
    from siskin_spark.streaming.gate import semdedup_gate_writer

    idx_dir, rows = _boundary_pair_index(spark, tmp_path)
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out_dir = str(tmp_path / "mpout")
    if caller == "stream":
        query_id = "0b7e2c1d-query"
        ledger_id, kept = f"stream-{query_id}-0", f"{out_dir}/gate_batch=0"
        gate = semdedup_gate_writer(idx_dir, out_dir, threshold=0.95, nprobe=2)

        def run():
            with _in_stream(spark, query_id):
                gate(batch, 0)
    else:
        ledger_id, kept = "day-0", f"{out_dir}/kept"
        b_path = str(tmp_path / "mpbatch")
        batch.write.parquet(b_path)
        argv = ["semdedup-batch", b_path, idx_dir, out_dir, "--threshold", "0.95",
                "--nprobe", "2", "--append-survivors", ledger_id]
        run = lambda: main(argv)  # noqa: E731

    def survivors():
        return {r["vec_id"] for r in spark.read.parquet(kept).collect()}

    run()
    # different primary cells, so the first attempt keeps both
    placed = spark.read.parquet(idx_dir + "/cells").filter("vec_id >= 800")
    assert {r["cid"] for r in placed.collect()} == {0, 1}
    assert survivors() == {800, 801}

    meta = json.load(open(_sem_meta_path(idx_dir)))
    meta["appended"], meta["pending"] = [], [ledger_id]
    json.dump(meta, open(_sem_meta_path(idx_dir), "w"))
    run()
    assert survivors() == {800, 801}
    assert spark.read.parquet(idx_dir + "/cells").count() == 42


def test_semdedup_gate_batch_boundary(tmp_path, spark):
    """At nprobe > 1 the batch boundary decides a cell-boundary pair:
    arriving in one batch, both near-duplicates survive (batch-internal
    pairs are compared within the primary cell only); arriving in two
    batches, in either order, the later one meets the indexed earlier
    one through the multi-probe vs-index leg and is dropped."""
    import shutil

    from siskin_spark.streaming.gate import gate_batch

    base, rows = _boundary_pair_index(spark, tmp_path)
    schema = "vec_id long, embedding array<float>"
    arrivals = {
        "together": [rows],
        "800-first": [rows[:1], rows[1:]],
        "801-first": [rows[1:], rows[:1]],
    }
    got = {}
    for name, batches in arrivals.items():
        idx_dir = str(tmp_path / name)
        shutil.copytree(base, idx_dir)
        got[name] = set()
        for i, b in enumerate(batches):
            kept = str(tmp_path / f"{name}-kept{i}")
            gate_batch(
                "semdedup", spark.createDataFrame(b, schema), idx_dir, kept,
                batch_id=f"day-{i}", threshold=0.95, nprobe=2,
            )
            got[name] |= {r["vec_id"] for r in spark.read.parquet(kept).collect()}
    assert got == {"together": {800, 801}, "800-first": {800}, "801-first": {801}}


def test_semdedup_index_search(tmp_path, spark):
    """Retrieval from the persisted index: exhaustive (nprobe =
    n_cells) equals numpy brute force over the stored vectors; an
    int8 index returns an exact-duplicate query's stored copy at
    rank 1; exclude_self drops the identity hit."""
    import numpy as np

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    rows, X = _sem_corpus(spark, 150, seed=17)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "searchidx")
    semdedup_index_build(corpus, idx_dir, k=3, sample=150, iters=5, seed=3)

    qrng = np.random.default_rng(5)
    Q = qrng.normal(size=(8, DIM))
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    queries = spark.createDataFrame(
        [(1000 + i, [float(x) for x in Q[i]]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )

    # exhaustive: nprobe covers every cell -> numpy brute-force truth.
    # the stored vectors are float32; recompute the truth from the
    # values as STORED, like the search does
    stored = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(idx_dir + "/cells").collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in semdedup_index_search(
            spark, queries, idx_dir, k=4, nprobe=3
        ).collect()
    }
    for qi in range(8):
        q = Q[qi]
        sims = sorted(
            (
                (float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v))), -vid)
                for vid, v in stored.items()
            ),
            reverse=True,
        )
        for rk in range(4):
            assert got[(1000 + qi, rk + 1)] == -sims[rk][1]

    # nprobe=1 returns <= k rows per query, all from the probed cell —
    # and every returned pair matches the exhaustive score
    pruned = semdedup_index_search(spark, queries, idx_dir, k=4, nprobe=1)
    per_q = (
        pruned.groupBy("query_id").count().collect()
    )
    assert all(r["count"] <= 4 for r in per_q)

    # int8 index: an exact copy of an indexed vector retrieves its
    # stored (quantized) copy at rank 1
    idx8 = str(tmp_path / "searchidx8")
    semdedup_index_build(corpus, idx8, k=3, sample=150, iters=5, seed=3, store="int8")
    dupq = spark.createDataFrame(
        [(2000, [float(x) for x in X[7]])], "vec_id long, embedding array<float>"
    )
    top = semdedup_index_search(spark, dupq, idx8, k=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 7
    assert top[0]["cos_sim"] > 0.999  # quantized direction, ~1e-3 bound

    # exclude_self: querying an INDEXED vector by its own id
    selfq = corpus.filter(F.col("vec_id") == 7)
    with_self = semdedup_index_search(spark, selfq, idx_dir, k=1).collect()
    assert with_self[0]["neighbor_id"] == 7
    no_self = semdedup_index_search(
        spark, selfq, idx_dir, k=1, exclude_self=True
    ).collect()
    assert no_self[0]["neighbor_id"] != 7

    # cid pruning (default on) changes the SCAN, never the answer:
    # byte-identical results vs prune_cells=False at nprobe 1 and 2,
    # and the pruned plan pushes the cid predicate into the parquet
    # scan of cells/ (the broadcast equi-join alone would read the
    # whole index — r12 verdict's serving-scale weak)
    for npb in (1, 2):
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        a = sorted(
            semdedup_index_search(
                spark, queries, idx_dir, k=4, nprobe=npb
            ).collect(),
            key=key,
        )
        b = sorted(
            semdedup_index_search(
                spark, queries, idx_dir, k=4, nprobe=npb, prune_cells=False
            ).collect(),
            key=key,
        )
        assert [
            (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in a
        ] == [
            (r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in b
        ]
    plan = (
        semdedup_index_search(spark, queries, idx_dir, k=4, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the cells scan carries a pushed cid predicate (an OR of
    # contiguous-cid ranges / equalities — isin would degrade to one
    # wide [min,max] range past the parquet In threshold); the
    # unpruned form has no cid filter at all on its corpus-side scan
    import re

    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any(
        ("EqualTo(cid" in p) or ("GreaterThanOrEqual(cid" in p)
        for p in pushed
    ), plan
    plan_un = (
        semdedup_index_search(
            spark, queries, idx_dir, k=4, nprobe=1, prune_cells=False
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # (IsNotNull(cid) from the join key is fine — no VALUE predicate)
    pushed_un = "".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan_un))
    assert "EqualTo(cid" not in pushed_un, plan_un
    assert "GreaterThanOrEqual(cid" not in pushed_un, plan_un


def test_semdedup_index_search_driver_assign(tmp_path, spark):
    """driver_assign=True (one Arrow collect + the numpy kernel on
    the driver) is BYTE-identical to the distributed assignment path —
    ids, ranks AND cos_sim doubles (the driver-computed fold norms
    feed the prenormed cosines, so a single ulp of drift would show) —
    including nprobe 1/2, an empty query frame, and the cid predicate
    still pushed into the cells scan. The fast path must also remove
    the Python stage from the plan. (Zero-norm QUERIES are out of
    scope either way: the search's prenormed cosine divides by the
    query norm on both paths — ANSI raises; the admit is the
    zero-safe surface.)"""
    import re

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    rows, X = _sem_corpus(spark, 150, seed=23)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "daidx")
    semdedup_index_build(corpus, idx_dir, k=3, sample=150, iters=5, seed=3)

    qrng = np.random.default_rng(9)
    Q = qrng.normal(size=(6, DIM))
    qrows = [(1000 + i, [float(x) for x in Q[i]]) for i in range(6)]
    queries = spark.createDataFrame(
        qrows, "vec_id long, embedding array<float>"
    )
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])  # noqa: E731
    for npb in (1, 2):
        a = sorted(
            semdedup_index_search(
                spark, queries, idx_dir, k=3, nprobe=npb
            ).collect(),
            key=key,
        )
        b = sorted(
            semdedup_index_search(
                spark, queries, idx_dir, k=3, nprobe=npb, driver_assign=True
            ).collect(),
            key=key,
        )
        assert a == b  # Row equality: exact doubles, not approx

    fast = semdedup_index_search(
        spark, queries, idx_dir, k=3, nprobe=2, driver_assign=True
    )
    plan = fast._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in plan, plan
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any(
        ("EqualTo(cid" in p) or ("GreaterThanOrEqual(cid" in p)
        for p in pushed
    ), plan

    empty = queries.filter(F.col("vec_id") < 0)
    assert (
        semdedup_index_search(
            spark, empty, idx_dir, k=3, driver_assign=True
        ).count()
        == 0
    )


def test_semdedup_search_gemm_engine_matches_expr(tmp_path, spark):
    """engine='gemm' (the batch-serving BLAS path) returns the SAME
    ranking as the expr engine — ties included — on float32 and int8
    indexes, with and without exclude_self; cosine values agree to
    float64 GEMM precision. The driver-residency guard refuses
    over-budget probe collects."""
    import numpy as np
    import pytest

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    rows, X = _sem_corpus(spark, 150, seed=29)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qrng = np.random.default_rng(11)
    Q = qrng.normal(size=(6, DIM))
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    queries = spark.createDataFrame(
        [(2000 + i, [float(x) for x in Q[i]]) for i in range(6)],
        "vec_id long, embedding array<float>",
    ).unionByName(
        # an exact copy of an indexed vector: the identity hit at
        # cos == 1.0 plus any duplicate-tie neighbors exercise the
        # tie-break agreement between the engines
        corpus.filter(F.col("vec_id") == 5).select(
            (F.col("vec_id") + 3000).alias("vec_id"), "embedding"
        )
    )
    for store in ("float32", "int8"):
        idx = str(tmp_path / f"gidx_{store}")
        semdedup_index_build(
            corpus, idx, k=3, sample=150, iters=5, seed=3, store=store
        )
        for xself in (False, True):
            key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
            e = {
                key(r): (r["neighbor_id"], r["cos_sim"])
                for r in semdedup_index_search(
                    spark, queries, idx, k=4, nprobe=2, exclude_self=xself
                ).collect()
            }
            g = {
                key(r): (r["neighbor_id"], r["cos_sim"])
                for r in semdedup_index_search(
                    spark, queries, idx, k=4, nprobe=2, exclude_self=xself,
                    engine="gemm",
                ).collect()
            }
            assert set(e) == set(g)
            for kq in e:
                assert e[kq][0] == g[kq][0], (store, xself, kq, e[kq], g[kq])
                assert abs(e[kq][1] - g[kq][1]) < 1e-9
    with pytest.raises(ValueError, match="gemm_budget_bytes"):
        semdedup_index_search(
            spark, queries, str(tmp_path / "gidx_float32"), k=2,
            engine="gemm", gemm_budget_bytes=8,
        )
    with pytest.raises(ValueError, match="engine"):
        semdedup_index_search(
            spark, queries, str(tmp_path / "gidx_float32"), k=2,
            engine="nope",
        )


def test_index_artifact_memo_rotates_on_mutation(tmp_path, spark):
    """The per-meta-version artifact memo (r13: _index_artifacts) must
    never serve a mutated index: a search after an append sees the
    appended vector, and the memo entry for the old meta version is
    gone. Also pins that repeated reads reuse ONE entry (the memo's
    whole point) and that the centroid matrix rides the entry."""
    import numpy as np

    from siskin_spark.functions import vectors as V
    from siskin_spark.functions.vectors import (
        semdedup_index_append,
        semdedup_index_build,
        semdedup_index_search,
    )

    rows, X = _sem_corpus(spark, 120, seed=23)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "memoidx")
    semdedup_index_build(corpus, idx_dir, k=3, sample=120, iters=5, seed=3)

    # a query that is an exact copy of a vector NOT yet in the index
    rng = np.random.default_rng(41)
    nv = rng.normal(size=DIM)
    nv = nv / np.linalg.norm(nv)
    new_vec = [float(x) for x in nv]
    q = spark.createDataFrame(
        [(5000, new_vec)], "vec_id long, embedding array<float>"
    )

    before = semdedup_index_search(spark, q, idx_dir, k=1, nprobe=3).collect()
    keys_before = {k for k in V._INDEX_ARTIFACTS if k[1].endswith("memoidx")}
    assert len(keys_before) == 1
    ent = V._INDEX_ARTIFACTS[next(iter(keys_before))]
    assert "matrix" in ent  # the k-row collect happened once, on entry

    # repeated search: same entry object, no new key
    semdedup_index_search(spark, q, idx_dir, k=1, nprobe=3).collect()
    assert {k for k in V._INDEX_ARTIFACTS if k[1].endswith("memoidx")} == keys_before
    assert V._INDEX_ARTIFACTS[next(iter(keys_before))] is ent

    # mutate: append the query vector itself as a new index row
    newrow = spark.createDataFrame(
        [(999, new_vec)], "vec_id long, embedding array<float>"
    )
    semdedup_index_append(newrow, idx_dir, batch_id="memo-probe")

    after = semdedup_index_search(spark, q, idx_dir, k=1, nprobe=3).collect()
    keys_after = {k for k in V._INDEX_ARTIFACTS if k[1].endswith("memoidx")}
    assert len(keys_after) == 1 and keys_after != keys_before  # rotated
    assert after[0]["neighbor_id"] == 999 and after[0]["cos_sim"] > 0.999
    assert before[0]["neighbor_id"] != 999


def test_incremental_semdedup_driver_assign_equal(tmp_path, spark):
    """driver_assign=True (r13: driver-side batch assignment for the
    expr admit) returns EXACTLY the distributed path's pairs — ids and
    cosine values — at nprobe 1 and 2."""
    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    rows, X = _sem_corpus(spark, 160, seed=29)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx_dir = str(tmp_path / "drvidx")
    semdedup_index_build(corpus, idx_dir, k=4, sample=160, iters=5, seed=3)

    brows, _ = _sem_corpus(spark, 60, seed=31)
    batch = spark.createDataFrame(
        [(vid + 10_000, v) for vid, v in brows],
        "vec_id long, embedding array<float>",
    )
    for npb in (1, 2):
        base = sorted(
            (r["vec_id"], r["dup_of"], r["cos_sim"])
            for r in incremental_semdedup(
                spark, batch, idx_dir, threshold=0.2, engine="expr",
                nprobe=npb,
            ).collect()
        )
        drv = sorted(
            (r["vec_id"], r["dup_of"], r["cos_sim"])
            for r in incremental_semdedup(
                spark, batch, idx_dir, threshold=0.2, engine="expr",
                nprobe=npb, driver_assign=True,
            ).collect()
        )
        assert base == drv and len(base) > 0
