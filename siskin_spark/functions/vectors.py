"""Vector similarity search over embedding columns (array<float>)
(SURVEY.md §7.5: brute-force cosine top-k baseline + LSH/IVF-bucketed
scale path).

Numeric design: elements are cast float->double (exact), then dot
products fold left-to-right — both Spark's ``aggregate`` and DuckDB's
list reductions accumulate sequentially, so results are bit-identical
and oracle-checkable without tolerances.

Scale path: at 100 TB the index side is bucketed (sign-LSH or IVF via
k-means centroids) and the probe side broadcasts; a probe only scans
its bucket. Brute force remains the recall oracle on samples.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from siskin_spark import index_store
from siskin_spark.session import arrow_pinned


def _parallel(df: DataFrame, key: str) -> DataFrame:
    """Vector scoring is CPU-bound (sequential-fold dot products); a
    small parquet input arrives as one split and would pin the whole
    scan side to one core. Repartition up to core count; no-op at real
    scale where the scan already yields enough splits.

    The small/large decision uses Catalyst's optimized-plan size
    estimate — a driver-only lookup. (``df.rdd.getNumPartitions()``
    would answer exactly, but under AQE converting to an RDD
    materializes upstream shuffle stages: a hidden 1-2 s job per
    call.) If the estimate is at least cores x maxPartitionBytes the
    scan already splits to core count and the shuffle is skipped;
    below that a repartition of so little data costs microseconds."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    m = re.fullmatch(r"(\d+)\s*([kmg]?)b?", raw.strip().lower())
    max_split = int(m.group(1)) * units.get(m.group(2), 1) if m else 128 << 20
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size < cores * max_split:
        return df.repartition(cores, F.col(key))
    return df


def _memo_col(name: str, build):
    """Memoize a pure Column expression per JVM gateway epoch: the HOF
    cosine trees cost ~40 ms of Py4J round-trips each to construct, and
    the per-pass admit/search builders re-derive the SAME expression
    over fixed column names on every call (r13 opt, guide §5 driver).
    Only valid for expressions built from column NAMES (no captured
    DataFrame references) — a Column is an immutable JVM expression
    tree, freely reusable across plans within one gateway."""
    from siskin_spark.memo import gateway_epoch, memo

    return memo(("vec_col", gateway_epoch(), name), build)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def as_double(vec: Column) -> Column:
    """Stage a float vector as float64 ONCE per row. float->double is
    exact (every float32 is representable), so downstream fold math is
    bit-identical — but the cast moves out of the per-PAIR cosine into
    the per-ROW projection: a row joined against P candidates paid
    2·dim·P casts inside :func:`dot`'s zip_with; staged, it pays dim
    casts once and SimplifyCasts removes the now-no-op casts in the
    fold (r14 opt, guide §2.3 narrower per-pair work; measured −34% on
    the brute scored leg, bit-identical on all 600K pairs)."""
    return F.transform(vec, lambda x: x.cast("double"))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed once per row instead of once per
    pair: a pair costs one fold (the dot) instead of three. Same fold
    order and operations as :func:`cosine`, so results are
    bit-identical — the oracle contract is unchanged."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    probes: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    Plan: broadcast the (small) probe set against the index — a map-side
    nested loop, no shuffle of the index — then a per-probe top-k window.
    Ties broken by neighbor id for determinism.
    Returns (probe_id, neighbor_id, cos_sim, rank); self-matches excluded.
    Exact and index-free: the right pick to ~1M index vectors; beyond
    that use the IVF or sign-LSH paths below (README.md "Operator
    selection at scale" has the decision table).
    """
    p = probes.select(*_memo_cols(("bf_p", id_col, vec_col), lambda: [
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("_pv"),
        norm(F.col(vec_col)).alias("_pn"),
    ]))
    i = _parallel(index, id_col).select(*_memo_cols(("bf_i", id_col, vec_col), lambda: [
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_iv"),
        norm(F.col(vec_col)).alias("_in"),
    ]))
    scored = broadcast(p).crossJoin(i).filter(
        F.col("probe_id") != F.col("neighbor_id")
    ).select(*_memo_cols(("pair_cos",), lambda: [
        F.col("probe_id"),
        F.col("neighbor_id"),
        _cosine_prenormed(
            F.col("_pv"), F.col("_iv"), F.col("_pn"), F.col("_in")
        ).alias("cos_sim"),
    ]))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def plane_weights(plane: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane, md5-seeded per plane.

    Shared by the Spark expressions AND the generated oracle SQL (both
    inline these as literal constants), so the two engines always agree.
    md5 rather than an affine parity: ``(i*a + d*b) % 2`` with odd a, b
    degenerates to ``(i+d) % 2`` — every plane a copy or negation of
    plane 0 — whereas independent hash bits give genuinely independent
    hyperplanes (the recall math of sign-LSH assumes that)."""
    import hashlib

    h = hashlib.md5(f"plane:{plane}".encode()).digest()
    need = (dim + 7) // 8
    while len(h) < need:
        h += hashlib.md5(h).digest()
    return [1.0 if (h[d // 8] >> (d % 8)) & 1 else -1.0 for d in range(dim)]


def _memo_cols(key: tuple, build) -> list[Column]:
    """Memoize a pure select list per JVM gateway epoch
    (:mod:`siskin_spark.memo`). The vector operators' projections —
    norms, packed sign buckets, prenormed cosines — compile to dozens
    of higher-order-function expressions, each several Py4J
    round-trips; the expressions depend only on column NAMES and
    literal params, so repeated plan builds (bench reruns, pipeline
    batches) reuse the immutable trees. Callers must fold every
    name/param the expressions depend on into ``key``."""
    from siskin_spark.memo import memo

    return memo(("vec",) + key, build)


def _plane_lit(plane: int, dim: int) -> Column:
    """Literal ±1 weight array for a hyperplane, memoized per JVM
    gateway epoch: building it costs ``dim`` Py4J round-trips, and
    every banded-LSH call wants the same few dozen planes."""
    from siskin_spark.memo import memo

    return memo(
        ("plane_lit", plane, dim),
        lambda: F.array(*[F.lit(w) for w in plane_weights(plane, dim)]),
    )


def _projection(vec: Column, weights: list[float] | Column) -> Column:
    if not isinstance(weights, Column):
        weights = F.array(*[F.lit(w) for w in weights])
    return F.aggregate(
        F.zip_with(
            vec,
            weights,
            lambda x, w: x.cast("double") * w,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_bucket(
    vec: Column, n_planes: int = 8, dim: int = 64, first_plane: int = 0
) -> Column:
    """Random-hyperplane LSH bucket: packed sign bits of ``n_planes``
    deterministic ±1 projections (:func:`plane_weights`). Collision
    probability for vectors at angle θ is (1 - θ/π)^n_planes — the
    knob that trades bucket size against recall."""
    out = F.lit(0)
    for i in range(n_planes):
        proj = _projection(vec, _plane_lit(first_plane + i, dim))
        out = out + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def lsh_band_keys(
    vec: Column, n_bands: int = 4, band_bits: int = 4, dim: int = 64
) -> Column:
    """Banded sign-LSH keys: array of ``n_bands`` bucket ids, band b
    built from planes [b*band_bits, (b+1)*band_bits). Two vectors are
    near-dup CANDIDATES when any band matches (OR-amplification):
    recall at angle θ is 1 - (1 - (1-θ/π)^band_bits)^n_bands, e.g.
    ~0.985 at cos 0.95 with 4x4 — versus 0.43 for one 16-bit bucket."""
    return F.array(
        *[
            hyperplane_bucket(
                vec, n_planes=band_bits, dim=dim, first_plane=b * band_bits
            )
            for b in range(n_bands)
        ]
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    band_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, at scale.

    Plan: (1) each vector emits ``n_bands`` (band, key) rows — a narrow
    explode, ids only; (2) self-equi-join on (band, key) + id_a < id_b
    yields candidates, deduped across bands; (3) vectors join back and
    the exact cosine filters. Never an all-pairs product: the join is
    key-based, so cost scales with bucket occupancy, not corpus².
    Returns (id_a, id_b, cos_sim).
    """
    keyed = emb.select(*_memo_cols(
        ("nd_keys", id_col, vec_col, n_bands, band_bits, dim), lambda: [
            F.col(id_col).alias("_id"),
            F.posexplode(
                lsh_band_keys(as_double(F.col(vec_col)), n_bands, band_bits, dim)
            ).alias("_band", "_key"),
        ]))
    cand = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            on=[
                F.col("a._band") == F.col("b._band"),
                F.col("a._key") == F.col("b._key"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    v = emb.select(*_memo_cols(("nd_v", id_col, vec_col), lambda: [
        F.col(id_col).alias("_vid"),
        as_double(F.col(vec_col)).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    ]))
    scored = (
        cand.join(v.withColumnRenamed("_vid", "id_a"), on="id_a")
        .withColumnsRenamed({"_v": "_va", "_n": "_na"})
        .join(v.withColumnRenamed("_vid", "id_b"), on="id_b")
        .select(
            "id_a",
            "id_b",
            _cosine_prenormed(
                F.col("_va"), F.col("_v"), F.col("_na"), F.col("_n")
            ).alias("cos_sim"),
        )
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def ivf_assign(
    index: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids (IVF
    cells) by cosine — the expression engine, bit-identical to the
    DuckDB oracle (the GEMM engine is :func:`ivf_assign_gemm`).

    ``centroids`` is (cid, cv) — small (k-means fit on a sample at
    scale), so it broadcasts; the index never shuffles for assignment.
    With ``nprobe=1`` returns the index columns plus ``cid``; with
    ``nprobe > 1`` one row per (vector, cell) plus ``rank`` (0 =
    nearest, ascending outward; at most k rows per vector). nprobe is
    the IVF recall lever: :func:`ivf_topk` then scans nprobe/k of the
    index, and nprobe = k is exhaustive (equal to brute force).

    Shape (r14): the k centroids aggregate to ONE array row that rides
    a broadcast hash join on a non-foldable constant key (the
    token_sequence_layout idiom; a crossJoin would plan the forbidden
    BroadcastNestedLoopJoin), and each row scores every centroid
    inside its projection: zero shuffle of the index, no window, no
    row multiplication before the final explode (guide §2.1/§2.4).
    Each centroid is scored once into a struct(score, -cid); the top
    cell is that array's max, the top nprobe its descending
    ``sort_array`` slice — so an exact score tie goes to the smaller
    cid, and a NULL score (NULL input vector) ranks below every real
    one. Zero norms follow the one rule both engines share: a
    zero-norm vector or centroid scores 0 against every cell (the
    guard covers only this division; pair cosines are untouched).
    A NULL vector has no cell: both engines refuse it (here a
    ``raise_error`` naming ``vec_col``) rather than file it under some
    cid and silently corrupt an index built from the assignment.
    """
    if int(nprobe) < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cols = index.columns
    clist = (
        centroids.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("cid"),
                        as_double(F.col("cv")).alias("_cvd"),
                        norm(F.col("cv")).alias("_cn"),
                    )
                )
            ).alias("_ivf_cents")
        )
        # empty centroid input joins zero rows (the old crossJoin shape
        # produced an empty output there too)
        .where(F.size("_ivf_cents") > 0)
        .select(
            F.coalesce(
                F.size("_ivf_cents") - F.size("_ivf_cents"), F.lit(0)
            ).alias("_ivf_one"),
            "_ivf_cents",
        )
    )
    staged = _parallel(index, id_col).withColumns({
        "_vd": as_double(F.col(vec_col)),
        "_vn": norm(F.col(vec_col)),
        "_ivf_one": F.when(
            F.col(vec_col).isNull(),
            F.raise_error(F.lit(f"cell assignment: {vec_col} is NULL")),
        ).otherwise(
            F.coalesce(F.size(F.col(vec_col)) - F.size(F.col(vec_col)), F.lit(0))
        ),
    })
    scored = staged.join(broadcast(clist), "_ivf_one")
    cells = F.transform(
        F.col("_ivf_cents"),
        lambda c: F.struct(
            F.when((F.col("_vn") == 0) | (c["_cn"] == 0), F.lit(0.0))
            .otherwise(
                _cosine_prenormed(F.col("_vd"), c["_cvd"], F.col("_vn"), c["_cn"])
            )
            .alias("_s"),
            (-c["cid"]).alias("_nc"),
        ),
    )
    if nprobe == 1:
        return scored.select(*cols, (-F.array_max(cells)["_nc"]).alias("cid"))
    top = F.slice(F.sort_array(cells, asc=False), 1, int(nprobe))
    return scored.select(*cols, F.posexplode(top).alias("rank", "_c")).select(
        *cols,
        (-F.col("_c._nc")).alias("cid"),
        F.col("rank").cast("long").alias("rank"),
    )


def ivf_topk(
    probes: DataFrame,
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Per-probe top-k within the probe's assigned IVF cell(s): one
    equi-join on cid replaces the cross join — the 100 TB path, since
    each probe scans ~nprobe/n_cells of the index. Pass probes through
    :func:`ivf_assign` with ``nprobe`` (duplicate (probe, neighbor)
    pairs are impossible since an index vector lives in exactly one
    cell). Returns
    (probe_id, neighbor_id, cos_sim, rank); self-matches excluded."""
    from pyspark.sql import Window

    p = probes.select(*_memo_cols(("ivf_p", id_col, vec_col), lambda: [
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("_pv"),
        norm(F.col(vec_col)).alias("_pn"),
        F.col("cid"),
    ]))
    i = _parallel(assigned, id_col).select(*_memo_cols(
        ("ivf_i", id_col, vec_col), lambda: [
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("_iv"),
            norm(F.col(vec_col)).alias("_in"),
            F.col("cid"),
        ]))
    scored = (
        broadcast(p)
        .join(i, on="cid")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(*_memo_cols(("pair_cos",), lambda: [
            F.col("probe_id"),
            F.col("neighbor_id"),
            _cosine_prenormed(
                F.col("_pv"), F.col("_iv"), F.col("_pn"), F.col("_in")
            ).alias("cos_sim"),
        ]))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def bucketed_ann_topk(
    probes: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dims: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: probes only scan their hyperplane-LSH bucket
    (``dims`` planes -> 2^dims buckets). One equi-join on bucket id
    instead of a cross join — the 100 TB path (bucket the index once,
    reuse across query batches)."""
    p = probes.select(*_memo_cols(("lsh_p", id_col, vec_col, dims, dim), lambda: [
        F.col(id_col).alias("probe_id"),
        as_double(F.col(vec_col)).alias("_pv"),
        norm(F.col(vec_col)).alias("_pn"),
        hyperplane_bucket(as_double(F.col(vec_col)), dims, dim).alias("_bucket"),
    ]))
    i = _parallel(index, id_col).select(*_memo_cols(
        ("lsh_i", id_col, vec_col, dims, dim), lambda: [
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("_iv"),
            norm(F.col(vec_col)).alias("_in"),
            hyperplane_bucket(as_double(F.col(vec_col)), dims, dim).alias("_bucket"),
        ]))
    scored = broadcast(p).join(i, on="_bucket").filter(
        F.col("probe_id") != F.col("neighbor_id")
    ).select(*_memo_cols(("pair_cos",), lambda: [
        F.col("probe_id"),
        F.col("neighbor_id"),
        _cosine_prenormed(
            F.col("_pv"), F.col("_iv"), F.col("_pn"), F.col("_in")
        ).alias("cos_sim"),
    ]))
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign_gemm(
    index: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    matrix=None,
) -> DataFrame:
    """Scale-path IVF cell assignment — the GEMM engine: one numpy
    GEMM per Arrow batch against the broadcast centroid matrix,
    instead of one Catalyst fold expression per (row, centroid) pair.

    Same contract and output shape as :func:`ivf_assign` — the
    ``nprobe`` nearest centroids by cosine (``cid``, plus ``rank``
    when ``nprobe > 1``), ties to the smaller cid, a zero-norm vector
    or centroid scoring 0 against every cell, NULL, empty or ragged
    embedding arrays refused with ``ValueError`` (never silently
    dropped or filed under a cell) — but the per-batch cost is a
    single ``X @ C.T`` (BLAS) over the whole batch, which is the plan
    you want when building a 100 TB index: the expression engine
    evaluates |centroids| sequential folds per row and dominates the
    build. Numerics:
    float64 accumulation both ways; the GEMM sums pairwise rather
    than left-to-right, so results can differ from the fold engine
    only on near-exact ties (tests pin agreement on a planted corpus).

    ``centroids`` (cid, cv) is collected to the driver — it is k-means
    output, inherently bounded (thousands of cells, not records) — and
    rebroadcast inside the closure as a dense ndarray. ``matrix``
    short-circuits that collect with a precomputed
    :func:`_centroid_matrix` pair (r13 opt: recurring admits/searches
    against a persisted index reuse the artifact-memoized matrix
    instead of re-collecting the same frozen centroids every call).
    """
    assign, out_schema = _gemm_assigner(
        index.schema, vec_col, nprobe,
        matrix if matrix is not None else _centroid_matrix(centroids),
    )
    return index.mapInPandas(
        lambda batches: (assign(pdf) for pdf in batches if len(pdf)), out_schema
    )


def _gemm_assigner(schema, vec_col: str, nprobe: int, matrix):
    """The GEMM engine's kernel, written once: returns ``(assign,
    out_schema)`` where ``assign`` maps one pandas frame of ``schema``
    rows to its cell rows — the input columns plus ``cid`` (and
    ``rank`` when ``nprobe > 1``, one row per (vector, cell)).
    :func:`ivf_assign_gemm` runs it per Arrow batch in
    ``mapInPandas``; :func:`_sem_assign_local` runs it on one
    driver-side Arrow collect."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    if int(nprobe) < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cids, Cn = matrix
    npb = min(int(nprobe), len(cids))
    extra = [StructField("cid", LongType(), False)]
    if nprobe > 1:
        extra.append(StructField("rank", LongType(), False))
    # copy, don't .add(): StructType.add mutates in place, and
    # DataFrame.schema hands back its cached instance
    out_schema = StructType(list(schema.fields) + extra)

    def assign(pdf):
        if pdf[vec_col].isna().any():
            raise ValueError(f"cell assignment: {vec_col} is NULL")
        X = np.array(list(pdf[vec_col]), dtype=np.float64)
        if X.ndim != 2 or X.shape[1] == 0:
            # empty or ragged embedding arrays: refuse loudly — skipping
            # the batch would DROP its rows from the built index
            raise ValueError(
                f"cell assignment: {vec_col} must be fixed-width non-empty "
                f"arrays; got batch array of shape {X.shape}"
            )
        order = _top_cells(X, Cn, npb)
        out = pdf.iloc[np.repeat(np.arange(len(pdf)), npb)].reset_index(drop=True)
        out["cid"] = cids[order.ravel()]
        if nprobe > 1:
            out["rank"] = np.tile(np.arange(npb), len(pdf))
        return out

    return assign, out_schema


def _unit_rows(M):
    """Rows scaled to unit norm; a zero row stays zero, so it scores 0
    against everything (the zero-norm rule of both engines)."""
    import numpy as np

    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0.0, 1.0, n)


def _top_cells(X, Cn, npb: int):
    """Column indices of each row's ``npb`` nearest unit rows of
    ``Cn`` by cosine, nearest first: rows normalized, one GEMM, then
    ``npb`` masked argmax passes — exactly the first ``npb`` columns
    of a stable argsort of the negated sims (argmax keeps the first of
    equal values, so a tie goes to the smaller index, i.e. the smaller
    cid of a cid-sorted matrix), at O(npb·k) per row instead of the
    full sort's O(k log k)."""
    import numpy as np

    S = _unit_rows(X) @ Cn.T
    rows = np.arange(len(S))
    order = np.empty((len(S), npb), dtype=np.int64)
    for r in range(npb):
        order[:, r] = np.argmax(S, axis=1)
        S[rows, order[:, r]] = -np.inf
    return order


def _spherical_kmeans(X, k: int, iters: int, seed: int):
    """Driver-side Lloyd's k-means on the unit sphere (assignment by
    dot product, re-center then re-normalize; empty cells reseed from
    the farthest point). Deterministic given (X, k, iters, seed) —
    shared by :func:`ivf_fit_centroids` and the sub-centroid hot-cell
    split in :func:`semantic_dedup_pairs`. Returns a (k, dim) float64
    ndarray of unit centroids."""
    import numpy as np

    n = np.linalg.norm(X, axis=1)
    X = X / np.where(n == 0.0, 1.0, n)[:, None]
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                nc = np.linalg.norm(c)
                if nc > 0:
                    C[j] = c / nc
            else:  # empty cell: reseed from the farthest point
                far = np.argmin((X @ C.T).max(axis=1))
                C[j] = X[far]
    return C


def ivf_fit_centroids(
    index: DataFrame,
    k: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 20_000,
    iters: int = 10,
    seed: int = 7,
) -> DataFrame:
    """Fit IVF cell centroids: Lloyd's k-means on a bounded sample,
    driver-side numpy (the standard IVF build recipe — FAISS trains its
    coarse quantizer on a sample of ~(39..256)*k points, not the full
    corpus). Cosine metric: points and centroids live on the unit
    sphere (spherical k-means — assignment by dot product, re-center
    then re-normalize).

    The sample is a seeded deterministic slice (hash-ordered limit) so
    the fit is reproducible run-to-run; ``k`` cells over arbitrary
    corpus size keeps the collect bounded regardless of scale. Returns
    (cid, cv) — feed straight to either assignment engine,
    :func:`ivf_assign` or :func:`ivf_assign_gemm`.
    """
    import numpy as np

    rows = (
        index.select(F.col(vec_col).alias("_v"), F.col(id_col).alias("_i"))
        .orderBy(F.xxhash64(F.col("_i"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"need >= k={k} sample vectors, got {len(X)}")
    C = _spherical_kmeans(X, k, iters, seed)
    spark = index.sparkSession
    from siskin_spark.session import local_table

    return local_table(
        spark,
        [(int(j), [float(x) for x in C[j]]) for j in range(k)],
        "cid int, cv array<float>",
    )


def _within_group_pairs_gemm(
    v: DataFrame, threshold: float, sim_buffer_bytes: int = 32 << 20
) -> DataFrame:
    """Scale engine for the within-cell compare: one numpy GEMM block
    per (cid, _sub) group via ``applyInPandas`` instead of a Catalyst
    fold per candidate pair. A group is bounded by the hot-cell guard
    (``max_cell_rows``), so the dense similarity block is computed in
    row chunks sized to ``sim_buffer_bytes`` — memory stays flat no
    matter the group size, and the inner product runs at BLAS speed
    (the same economics as :func:`ivf_assign_gemm`, ~3 orders over the
    interpreted fold on a 64-dim corpus).

    Float contract, stated honestly: float64 pairwise-summed GEMM, so
    cosines can differ from the expression path's sequential fold in
    the last bits — pairs sitting EXACTLY on the threshold may flip.
    The default ``engine='expr'`` stays the oracle-exact path; this is
    the scale family (the md5/xxhash64 split, applied to cosine)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    id_type = v.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("cid", LongType(), False),
            StructField("cos_sim", DoubleType(), False),
        ]
    )

    def empty(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # carry the id column's REAL dtype into the empty frame (an
        # object-dtype [] would make pandas/Arrow guess, and pandas
        # warns on all-NA columns during concat)
        return pd.DataFrame(
            {
                "id_a": pdf["_id"].iloc[:0],
                "id_b": pdf["_id"].iloc[:0],
                "cid": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )

    def emit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return empty(pdf)
        X = np.array(list(pdf["_v"]), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        Xn = X / np.where(norms == 0.0, 1.0, norms)[:, None]
        ids = pdf["_id"].to_numpy()
        cid = int(pdf["cid"].iloc[0])
        chunk = max(16, sim_buffer_bytes // (8 * n))
        ia, ib, cs = [], [], []
        for s in range(0, n - 1, chunk):
            e = min(s + chunk, n)
            S = Xn[s:e] @ Xn.T  # (e-s, n) sims
            # upper triangle only: j > global row index (ids sorted, so
            # j > i implies id_b > id_a; ids are unique keys)
            for li in range(e - s):
                gi = s + li
                row = S[li, gi + 1 :]
                hits = np.nonzero(row >= threshold)[0] + gi + 1
                if len(hits):
                    ia.append(np.full(len(hits), ids[gi]))
                    ib.append(ids[hits])
                    cs.append(row[hits - gi - 1])
        if not ia:
            return empty(pdf)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(ia),
                "id_b": np.concatenate(ib),
                "cid": cid,
                "cos_sim": np.concatenate(cs),
            }
        )

    return v.groupBy("cid", "_sub").applyInPandas(emit, out_schema)


def semantic_dedup_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_gemm: bool = True,
    max_cell_rows: int | None = 50_000,
    hot_cell: str = "subcentroid",
    split_seed: int = 11,
    engine: str = "expr",
    subcentroid_sample: int = 16_384,
    subcentroid_iters: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest k-means
    cell, then compare pairs WITHIN each cell by exact cosine — the
    published recipe for pruning semantically redundant training data
    (paraphrases, boilerplate rewrites) that exact/minhash dedup
    cannot see and a similarity threshold alone cannot afford to
    verify all-pairs.

    Scale: cell assignment is a broadcast of k centroids against the
    corpus (the GEMM engine :func:`ivf_assign_gemm` by default,
    measured 14x over the expression engine :func:`ivf_assign` at 3M
    vectors; ``use_gemm=False`` picks the oracle-exact expression
    engine — both share the tie and zero-norm rules), then
    ``localCheckpoint``-ed ONCE: the assignment feeds the cell
    histogram and both self-join sides, and without the lineage cut
    the GEMM pass would re-execute per consumer. The within-cell
    self-join is an equi-join on the cell key, so pair cost is
    sum(cell²) — and because k-means cells on real web-scale
    embeddings are NOT balanced (near-zero vectors, template pages and
    dense paraphrase clusters routinely capture 5-20% of a corpus in
    one cell), a HOT-CELL GUARD bounds that quadratic term: one
    map-side-combined count per cid (bounded by k rows), and any cell
    above ``max_cell_rows`` is split into ``ceil(n / max_cell_rows)``
    sub-cells compared independently. A 10M-row cell that would
    otherwise put 5e13 cosine pairs on one join key becomes 200
    bounded sub-cells — the same de-skew shape as
    ``drop_duplicate_lines`` / ``domain_cap_mark``.

    HOW a hot cell splits decides what the guard costs in recall,
    because degenerate cells are duplicate-RICH (template pages,
    paraphrase clusters — the operator's most productive cells):

    - ``hot_cell='subcentroid'`` (default): sample the hot cell's
      members (bounded, ~``subcentroid_sample`` rows per cell), fit
      ``ceil(n / max_cell_rows)`` SUB-CENTROIDS driver-side
      (:func:`_spherical_kmeans`, seeded — deterministic), and assign
      members to their nearest sub-centroid (one GEMM pass over hot
      rows only, ``mapInPandas``). Semantically-close pairs stay
      co-located, so recall degrades like RAISING K — the trade
      SemDeDup already accepts — instead of like random partitioning
      (a hash split of the same cells kept exactly 1/s of the planted
      duplicate pairs: 753 of 59,962 at s=75, in 65.0 s against this
      mode's 30,148 in 41.3 s, ``SCALE_r10_30M.json``). Sub-cells
      that geometry cannot balance (thousands of IDENTICAL vectors
      collapse onto one sub-centroid) are re-bounded by a RESIDUAL
      seeded-hash split, so the pair/memory bound always holds; only
      where vectors are indistinguishable does recall fall back to
      the hash trade (and identical vectors pair within ANY slice of
      themselves, so the residual loss hits exact copies' pair COUNT,
      not whether each doc appears in some pair). A cell whose sample
      is too small to fit its sub-centroids (fewer than 2 rows per
      sub-centroid, e.g. ``subcentroid_sample=0``) falls back to the
      same seeded-hash split for the whole cell.
    - ``hot_cell='raise'`` refuses with the cell histogram.

    ``max_cell_rows=None`` disables the guard (and the histogram
    pass). Boundary misses OUTSIDE the guard remain as before: raise k
    for tighter cells, or run :func:`embedding_neardup_pairs` when
    hyperplane-bucket recall suits the corpus better — see the README
    selection table.

    ``engine='expr'`` (default) computes cosines as Catalyst fold
    expressions — sequential float64 sums, bit-matching the DuckDB
    oracle. ``engine='gemm'`` routes each (cell, sub-cell) group
    through :func:`_within_group_pairs_gemm` — the scale family for
    100 TB runs, where the guard doubles as the GEMM block bound.

    Returns (id_a, id_b, cid, cos_sim) with id_a < id_b,
    cos_sim >= threshold (cid is the cell of both sides, cast long);
    feed to :func:`~siskin_spark.operators.neardup.keep_canonical`
    (id_col = ``id_a``/``id_b`` orientation already matches) to keep
    one doc per duplicate relation.
    """
    if hot_cell not in ("subcentroid", "raise"):
        raise ValueError(
            f"hot_cell must be 'subcentroid' or 'raise', got {hot_cell!r}"
        )
    if engine not in ("expr", "gemm"):
        raise ValueError(f"engine must be 'expr' or 'gemm', got {engine!r}")
    if engine == "gemm" and max_cell_rows is None:
        # the GEMM engine's executor-memory bound IS max_cell_rows: an
        # unbounded cell arrives as ONE pandas group (a 10M-row cell is
        # a ~5 GB float64 matrix in a single python worker)
        raise ValueError(
            "engine='gemm' requires the hot-cell guard: max_cell_rows bounds "
            "the per-group pandas matrix; set max_cell_rows or use "
            "engine='expr'"
        )
    assign = ivf_assign_gemm if use_gemm else ivf_assign
    assigned = assign(
        emb.select(id_col, vec_col), centroids, id_col=id_col, vec_col=vec_col
    )
    v = assigned.select(
        F.col(id_col).alias("_id"),
        F.col("cid").cast("long").alias("cid"),
        as_double(F.col(vec_col)).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )

    if max_cell_rows is not None:
        # one assignment pass for the histogram AND both join sides —
        # without the lineage cut the (GEMM) assignment re-executes per
        # consumer. Guard-disabled callers skip the cut and accept the
        # per-join-side recompute: they opted out of the histogram
        # action, so an eager materialization would be pure overhead
        # on the small/oracle path (the scale path always guards).
        v = v.localCheckpoint(eager=True)
        hist = v.groupBy("cid").agg(F.count(F.lit(1)).alias("_cn")).collect()
        hot = {
            int(r["cid"]): -(-int(r["_cn"]) // max_cell_rows)
            for r in hist
            if r["_cn"] > max_cell_rows
        }
    else:
        hot = {}
    if hot and hot_cell == "raise":
        top = sorted(((int(r["_cn"]), int(r["cid"])) for r in hist), reverse=True)
        raise ValueError(
            f"semantic_dedup_pairs: {len(hot)} cell(s) exceed "
            f"max_cell_rows={max_cell_rows}; launching the within-cell "
            f"self-join would put sum(n^2) pairs on single join keys. "
            f"Heaviest cells (rows, cid): {top[:10]}. Use "
            f"hot_cell='subcentroid' (split on fitted sub-centroids), raise "
            f"k (more/tighter cells), or raise max_cell_rows."
        )
    sub_cents: dict[int, "object"] = {}
    if hot:
        import numpy as np

        counts = {int(r["cid"]): int(r["_cn"]) for r in hist}
        spark = v.sparkSession
        from siskin_spark.session import local_table

        sizes = local_table(
            spark, [(c, counts[c]) for c in sorted(hot)], "cid long, _hc_n long"
        )
        # one bounded per-cell sample in a single pass: the seeded-hash
        # threshold admits ~subcentroid_sample of each hot cell's rows
        # (all of them for cells near the guard bound) — never a
        # per-cell job, never an unbounded collect
        sampled = (
            v.join(broadcast(sizes), "cid")
            .filter(
                F.pmod(
                    F.xxhash64(F.col("_id").cast("string"), F.lit(split_seed + 1)),
                    F.col("_hc_n"),
                )
                < F.lit(int(subcentroid_sample))
            )
            .select("cid", "_v")
            .collect()
        )
        by_cell: dict[int, list] = {c: [] for c in hot}
        for r in sampled:
            by_cell[int(r["cid"])].append(r["_v"])
        for c in sorted(hot):
            Xs = np.array(by_cell[c], dtype=np.float64)
            # need a meaningfully larger sample than sub-centroid count
            # to fit anything; a cell this starved (pathological
            # subcentroid_sample setting) falls back to the hash split
            if len(Xs) >= 2 * hot[c]:
                sub_cents[c] = _spherical_kmeans(
                    Xs, hot[c], subcentroid_iters, split_seed
                )

    # hash-split cells: the sample-starved fallback cells
    hash_cells = {c: s for c, s in hot.items() if c not in sub_cents}
    if hash_cells:
        spark = v.sparkSession
        from siskin_spark.session import local_table

        splits = local_table(
            spark, sorted(hash_cells.items()), "cid long, _ns long"
        )
        rest = (
            v.join(broadcast(splits), "cid", "left")
            .withColumn(
                "_sub",
                F.when(
                    F.col("_ns").isNotNull(),
                    F.pmod(
                        F.xxhash64(
                            F.col("_id").cast("string"), F.lit(split_seed)
                        ),
                        F.col("_ns"),
                    ),
                ).otherwise(F.lit(0).cast("long")),
            )
            .drop("_ns")
        )
    else:
        rest = v.withColumn("_sub", F.lit(0).cast("long"))

    if sub_cents:
        import numpy as np

        from pyspark.sql.types import LongType, StructField, StructType

        fitted = sorted(sub_cents)

        # normalize once; closure ships len(hot) small matrices.
        # zero-norm guard: an all-zero sampled seed (near-zero junk is
        # exactly what piles into hot cells) would otherwise yield a
        # NaN sub-centroid, and argmax treats NaN as maximal — every
        # row of the cell would collapse onto that one sub-cell
        mats = {c: _unit_rows(m) for c, m in sub_cents.items()}
        rest = rest.filter(~F.col("cid").isin(fitted))
        v_hot = v.filter(F.col("cid").isin(fitted))
        out_schema = StructType(
            list(v_hot.schema.fields) + [StructField("_sub", LongType(), False)]
        )

        def sub_assign(batches):
            import pandas as pd  # noqa: F401

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["_v"]), dtype=np.float64)
                cids = pdf["cid"].to_numpy()
                sub = np.zeros(len(pdf), dtype=np.int64)
                for c in np.unique(cids):
                    m = cids == c
                    sub[m] = _top_cells(X[m], mats[int(c)], 1)[:, 0]
                pdf = pdf.copy()
                pdf["_sub"] = sub
                yield pdf

        v = rest.unionByName(v_hot.mapInPandas(sub_assign, out_schema))
        # RESIDUAL guard: a duplicate-degenerate sub-cell (identical
        # vectors collapsing onto one sub-centroid) can still exceed
        # the bound — one more bounded histogram (≤ sum(n_subs) rows)
        # over the fitted cells only, then a seeded-hash split of the
        # oversize (cid, sub) groups. The checkpoint cuts the
        # mapInPandas lineage so the sub-assignment GEMM runs once,
        # not once per histogram/join-side consumer.
        v = v.localCheckpoint(eager=True)
        rhist = (
            v.filter(F.col("cid").isin(fitted))
            .groupBy("cid", "_sub")
            .agg(F.count(F.lit(1)).alias("_cn"))
            .filter(F.col("_cn") > max_cell_rows)
            .collect()
        )
        if rhist:
            from siskin_spark.session import local_table

            resid = local_table(
                spark,
                [
                    (int(r["cid"]), int(r["_sub"]),
                     -(-int(r["_cn"]) // max_cell_rows))
                    for r in rhist
                ],
                "cid long, _sub long, _ns2 long",
            )
            v = (
                v.join(broadcast(resid), ["cid", "_sub"], "left")
                .withColumn(
                    "_sub",
                    F.when(
                        F.col("_ns2").isNotNull(),
                        # +1 before scaling: an oversize sub-cell 0 would
                        # otherwise remap to {0..ns2-1} and MERGE with the
                        # untouched sub-cells of the same cid, violating
                        # the very bound this residual split enforces
                        (F.col("_sub") + 1) * F.lit(1_000_000)
                        + F.pmod(
                            F.xxhash64(
                                F.col("_id").cast("string"),
                                F.lit(split_seed + 2),
                            ),
                            F.col("_ns2"),
                        ),
                    ).otherwise(F.col("_sub")),
                )
                .drop("_ns2")
            )
    else:
        v = rest

    if engine == "gemm":
        return _within_group_pairs_gemm(v, threshold)
    # zero-norm guard (matches the GEMM engine, which substitutes norm
    # 1 for zero norms -> cos 0, no pair): without it 0/0 = NaN, and
    # NaN >= threshold is TRUE under Spark's NaN-greatest ordering —
    # an all-zero embedding would pair with every co-cell vector
    pair_cos = _cosine_prenormed(
        F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
    )
    return (
        v.alias("a")
        .join(
            v.alias("b"),
            on=[
                F.col("a.cid") == F.col("b.cid"),
                F.col("a._sub") == F.col("b._sub"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.cid").alias("cid"),
            F.when(
                F.col("a._n") * F.col("b._n") == 0, F.lit(0.0)
            ).otherwise(pair_cos).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --- incremental semantic dedup: admit a new embedding batch against -
# --- a persisted cell index without re-comparing the corpus ----------

# The meta (index_store: "semdedup") pins the parameters the index was
# built with — a batch assigned under different centroids would
# silently land in the wrong cells — plus the per-cell row histogram.

_INDEX_ARTIFACTS: dict = {}


def _index_artifacts(spark, index_dir: str) -> dict:
    """Construction-side memo of ONE meta version of a persisted
    index: the parsed meta, the two parquet reader plans
    (``centroids``/``cells``) and — added lazily under the ``matrix``
    key — the k-bounded centroid matrix every assignment kernel
    needs. The index's economics are a one-time build and RECURRING
    admits/searches; before this memo each recurring call re-paid two
    reader setups (footer/schema jobs) and the same k-row centroid
    collect (~0.2 s of driver round-trips per admit at any scale —
    guide §5).

    Execution is untouched: the memoized plans are plain parquet
    scans that every action re-executes from disk; only their
    CONSTRUCTION is reused, and the matrix is k-means metadata of the
    artifact (bounded by k_cells, never corpus rows). ``meta.json``
    is the index's batch ledger AND write-ahead log — every mutation
    (build, append mark/commit, compact, remove) rewrites it, so the
    (mtime_ns, size) key rotates and a stale entry can never serve a
    mutated index; older versions' entries are dropped on rotation.
    Mutation paths keep their direct reads (they run once and must
    see their own in-flight state, not a memo)."""
    import os

    st = os.stat(index_store.meta_path(index_dir, "semdedup"))
    base = (spark.sparkContext.applicationId, os.path.abspath(index_dir))
    key = base + (st.st_mtime_ns, st.st_size)
    ent = _INDEX_ARTIFACTS.get(key)
    if ent is None:
        for k in [k for k in _INDEX_ARTIFACTS if k[:2] == base]:
            del _INDEX_ARTIFACTS[k]
        ent = {
            "meta": index_store.read_meta(index_dir, "semdedup"),
            "cents": spark.read.parquet(os.path.join(index_dir, "centroids")),
            "cells": spark.read.parquet(os.path.join(index_dir, "cells")),
        }
        _INDEX_ARTIFACTS[key] = ent
    return ent


def _index_matrix(ent: dict):
    """The artifact entry's centroid matrix, collected once per meta
    version (see :func:`_index_artifacts`)."""
    if "matrix" not in ent:
        ent["matrix"] = _centroid_matrix(ent["cents"])
    return ent["matrix"]


def _sem_assign(
    emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    nprobe: int = 1, matrix=None,
) -> DataFrame:
    """Cell assignment in the canonical ``cells/`` schema (vec_id, cid,
    norm, embedding; plus ``rank`` when ``nprobe > 1``, rank 0 being
    the cell a build or append stores) — shared by build, append,
    admit and search so they can never drift field-wise. ALWAYS the
    GEMM engine: the index's cell space must come from ONE assignment
    semantics (its near-ties are the GEMM's). :func:`_sem_assign_local`
    is the same assignment on the driver."""
    return ivf_assign_gemm(
        _sem_src(emb, id_col, vec_col), cents, nprobe=nprobe, matrix=matrix
    ).select(*_sem_cols(nprobe))


def _sem_src(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # norm is folded in the JVM on both assignment paths: the
    # oracle-checked prenormed cosines read it
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        norm(F.col(vec_col)).alias("norm"),
    )


def _sem_cols(nprobe: int) -> list[str]:
    return ["vec_id", "cid", "norm", "embedding"] + (["rank"] if nprobe > 1 else [])


def _sem_assign_local(
    spark, emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    nprobe: int = 1, matrix=None,
):
    """Driver-side :func:`_sem_assign` for BOUNDED batches: ONE Arrow
    collect of the batch (norm included), then the same kernel
    (:func:`_gemm_assigner`) the distributed path runs per Arrow
    batch. Returns ``(probes, cell_rows)`` where ``probes`` is a
    local-relation DataFrame in :func:`_sem_assign`'s schema and
    ``cell_rows`` maps each touched cid to its probe-row count —
    already driver-resident, so the caller's cell pruning, skew guard
    and chunk planning need NO extra collect and the frame needs no
    localCheckpoint (nothing to recompute)."""
    src = _sem_src(emb, id_col, vec_col)
    assign, out_schema = _gemm_assigner(
        src.schema, "embedding", nprobe,
        matrix if matrix is not None else _centroid_matrix(cents),
    )
    with arrow_pinned(spark):
        pdf = src.toPandas()
        out = assign(pdf) if len(pdf) else []
        probes = spark.createDataFrame(out, out_schema).select(*_sem_cols(nprobe))
    if not len(out):
        return probes, {}
    return probes, {int(c): int(n) for c, n in out["cid"].value_counts().items()}


def _probe_cells(
    spark, emb: DataFrame, art: dict, nprobe: int, driver_assign: bool,
    checkpoint: bool | None, counts: bool,
):
    """The probe front end both index entry points (search and admit)
    share: ``emb`` assigned to its ``nprobe`` nearest frozen cells of
    the index entry ``art`` (:func:`_index_artifacts`), in
    :func:`_sem_assign`'s schema. ``driver_assign`` runs the kernel
    on one driver-side Arrow collect (:func:`_sem_assign_local`);
    otherwise the distributed assignment is localCheckpointed with
    ``eager=checkpoint`` (None: not at all) so its GEMM pass runs once
    for every consumer. Returns ``(probes, cell_rows)``, the touched
    cid -> probe-row count map: free on the driver path, one
    k-bounded collect on the distributed path when ``counts`` asks
    for it, else None — never a job the caller would not run anyway."""
    meta = art["meta"]
    args = (
        emb, art["cents"], meta["id_col"], meta["vec_col"], nprobe,
        _index_matrix(art),
    )
    if driver_assign:
        return _sem_assign_local(spark, *args)
    probes = _sem_assign(*args)
    if checkpoint is not None:
        probes = probes.localCheckpoint(eager=checkpoint)
    if not counts:
        return probes, None
    rows = probes.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    return probes, {int(r["cid"]): int(r["n"]) for r in rows}


def _cid_filter(cids) -> Column:
    """The cells-scan prune predicate for a touched cid set: an OR of
    contiguous-cid RANGES (equalities for single cids), FALSE when
    empty. Not ``isin``: past
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (10) Parquet
    degrades an In to one [min, max] range, which a scattered cid set
    stretches over most of the index (measured: 198 of 432 MB read
    where ~8% was touched); the range-OR tree pushes losslessly and
    the cid-clustered layout turns it into row-group/page skips."""
    from functools import reduce

    runs: list[list[int]] = []
    for c in sorted({int(c) for c in cids}):
        if runs and c == runs[-1][1] + 1:
            runs[-1][1] = c
        else:
            runs.append([c, c])
    terms = [
        (F.col("cid") == a) if a == b else F.col("cid").between(a, b)
        for a, b in runs
    ]
    return reduce(lambda x, y: x | y, terms) if terms else F.lit(False)


def _index_dim(meta: dict, probes: DataFrame) -> int:
    """Embedding width from the meta; a pre-r12 index meta lacks it
    and pays one probe-row job."""
    if meta.get("dim") is not None:
        return max(1, int(meta["dim"]))
    first = probes.select(F.size("embedding").alias("d")).first()
    return max(1, int(first["d"])) if first is not None else 1


def _centroid_matrix(cents: DataFrame):
    """Collect the k-bounded centroid table and return the
    (cids, unit-row matrix) pair every GEMM assignment kernel uses —
    sorted by cid so a stable argmax lands on the smaller cid on
    ties. Shared by the distributed closures and the driver-side
    fast path so the two can never drift."""
    import numpy as np

    rows = cents.select("cid", "cv").collect()
    rows.sort(key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    return cids, _unit_rows(np.array([r["cv"] for r in rows], dtype=np.float64))


def _sem_recount_cells(spark, index_dir: str, meta: dict) -> None:
    """Refresh ``meta['cell_counts']`` from the written ``cells/``
    table (ONE narrow cid-column scan, k-bounded collect); the caller
    persists the meta. Keeping the histogram IN the meta makes the
    per-admit hot-cell guard a driver-side dict lookup instead of a
    full corpus-scale groupBy per batch."""
    import os

    counts = (
        spark.read.parquet(os.path.join(index_dir, "cells"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    meta["cell_counts"] = {str(int(r["cid"])): int(r["n"]) for r in counts}


def _sem_quantize_q8(assigned: DataFrame) -> DataFrame:
    """Scalar-quantize the canonical cells frame to int8 (FAISS-SQ8
    posture, specialized to the cosine metric): store the UNIT vector
    rounded to ``tinyint`` in [-127, 127] — 4x smaller cells/ (768-dim
    float32 is 3 KB/vector, int8 is 768 B; a 3B-vector index drops
    ~9 TB -> ~2.3 TB). No per-vector scale factor is needed because
    the compare renormalizes: the gemm engine's per-Arrow-batch
    ``X / |X|`` maps the int8 rows back onto the unit sphere, so the
    stored magnitude is irrelevant — only the rounding of the
    DIRECTION costs accuracy (measured over random unit pairs:
    ~1.5e-3 median, ~7e-3 observed tail, dimension-independent at
    64-768 dims — pairs within ~1e-2 of the threshold may flip, the
    documented SQ8 trade; tests/test_vectors.py pins the bound).
    A zero-norm embedding quantizes to all zeros and keeps its
    zero-pair contract. The ``norm`` column keeps the ORIGINAL float
    norm (diagnostics; the quantized compare never reads it)."""
    unit = F.when(
        F.col("norm") == 0, F.col("embedding")
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / F.col("norm") * F.lit(127.0),
        )
    )
    return assigned.withColumn(
        "embedding", F.transform(unit, lambda x: F.round(x).cast("tinyint"))
    )


def semdedup_index_build(
    emb: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 256,
    sample: int = 100_000,
    iters: int = 10,
    seed: int = 7,
    centroids: DataFrame | None = None,
    store: str = "float32",
    row_group_mb: int = 8,
) -> None:
    """Persist the SemDeDup cell index for a corpus: the fitted
    centroids (``centroids/``: cid, cv) and every corpus vector's cell
    assignment (``cells/``: vec_id, cid, norm, embedding — clustered
    by cid) as parquet under ``index_dir``, plus a meta file pinning
    the fit parameters AND the per-cell row histogram. Built ONCE;
    daily embedding batches then dedup against it via
    :func:`incremental_semdedup` — the per-batch cost is one
    batch-sized GEMM assignment plus co-cell cosines against the
    index's cells, never a corpus re-assignment (the same economics
    as the minhash ``neardup_index_build``: a 100 TB corpus cannot
    re-cluster 3B vectors to admit a 3M batch). Survivors extend the
    index with :func:`semdedup_index_append` (parquet append, no
    rewrite; centroids stay FROZEN — the standard IVF posture, refit
    on drift as a scheduled rebuild).

    Scale posture: ``cells/`` is written as contiguous sorted cid
    RANGES (repartitionByRange + sortWithinPartitions — hash
    clustering would mix random cids per file and leave every file's
    cid min/max spanning the whole domain, defeating pushdown) with
    ``row_group_mb`` parquet blocks, so cid-pruned reads — the
    serving search and the admit's chunk scans — skip whole row
    groups; the assignment engine is ALWAYS the GEMM family (see
    :func:`_sem_assign`). The row group is the skip granule: keep it
    near the per-cell byte size (the 8 MB default suits demo-scale
    cells; corpus-scale cells dwarf any setting, where skipping is
    already file-granular).

    ``store='int8'`` scalar-quantizes the stored vectors (see
    :func:`_sem_quantize_q8`) — 4x smaller cells/, admits restricted
    to ``engine='gemm'`` (the expr engine's prenormed-cosine folds
    read the raw embedding + stored norm and would silently score the
    quantized magnitudes; it raises instead)."""
    import os

    if store not in ("float32", "int8"):
        raise ValueError(f"store must be 'float32' or 'int8', got {store!r}")
    if centroids is not None:
        # caller-supplied cells (cid, cv): migrating an index between
        # engines, pinning an oracle-reproducible cell space, or
        # re-using a prior fit — the sample/iters/seed knobs are
        # bypassed, everything downstream is identical
        cents = centroids.select(
            F.col("cid").cast("int").alias("cid"), "cv"
        )
    else:
        cents = ivf_fit_centroids(
            emb, k=k, id_col=id_col, vec_col=vec_col,
            sample=sample, iters=iters, seed=seed,
        )
    assigned = _sem_assign(emb, cents, id_col, vec_col)
    if store == "int8":
        assigned = _sem_quantize_q8(assigned)
    cents.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    (
        assigned.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid")
        .write.option("parquet.block.size", row_group_mb << 20)
        .mode("overwrite")
        .parquet(os.path.join(index_dir, "cells"))
    )
    if centroids is not None:
        # the fit knobs were bypassed — recording them would make the
        # index self-describe as e.g. k=256 when the caller supplied 8
        # cells; record the ACTUAL centroid count and mark the source
        meta = {
            "version": 1, "k": cents.count(), "centroids": "caller",
            "id_col": id_col, "vec_col": vec_col,
            "assign": "gemm", "store": store,
        }
    else:
        meta = {
            "version": 1, "k": k, "sample": sample, "iters": iters,
            "seed": seed, "id_col": id_col, "vec_col": vec_col,
            "assign": "gemm", "store": store,
        }
    # the embedding width, read from ONE centroid row (k-bounded frame,
    # no corpus job): every admit's chunk-budget math needs it, and
    # reading it here saves a per-admit probe job
    dim_row = cents.select(F.size("cv").alias("d")).first()
    if dim_row is not None:
        meta["dim"] = int(dim_row["d"])
    _sem_recount_cells(emb.sparkSession, index_dir, meta)
    index_store.write_meta(index_dir, "semdedup", meta)


def semdedup_index_append(
    emb: DataFrame, index_dir: str, batch_id: str
) -> None:
    """Extend an existing cell index with new vectors (typically the
    batch survivors after :func:`incremental_semdedup`) under
    ``batch_id`` — any stable identity of the batch (harvest date,
    source file digest): assign under the index's FROZEN centroids and
    append to ``cells/``. The centroids stay untouched, so every past
    and future batch lands in a consistent cell space; the cell
    histogram is recounted from the written table in the same meta
    write that commits the batch. Idempotent and replay-safe under the
    ledger contract of :mod:`siskin_spark.index_store`."""
    import os

    spark = emb.sparkSession

    def tables(meta: dict) -> dict:
        cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
        assigned = _sem_assign(emb, cents, meta["id_col"], meta["vec_col"])
        if meta.get("store", "float32") == "int8":
            # the index's declared store wins: a float append into an
            # int8 index would mix schemas inside cells/ and break the scan
            assigned = _sem_quantize_q8(assigned)
        return {"cells": (assigned, "cid")}

    index_store.append(
        index_dir, "semdedup", batch_id, tables,
        on_commit=lambda meta: _sem_recount_cells(spark, index_dir, meta),
    )


def semdedup_index_compact(
    spark, index_dir: str, target_file_mb: int = 128,
    row_group_mb: int = 8,
) -> dict:
    """Re-pack the index's ``cells/`` table into ``target_file_mb``
    cid-clustered files via :func:`compact_parquet
    <siskin_spark.operators.layout.compact_parquet>`. A year of daily
    :func:`semdedup_index_append` calls leaves ~365 small-file
    generations per cell cluster — at cluster scale the incremental
    scan then pays more in file-open/footer round-trips than in data;
    compaction restores the one-generation layout the build wrote.
    Incremental results are unchanged (same rows, same cid
    clustering), and the histogram is re-counted from the rewritten
    table. Returns the files/bytes-before/after stats of the rewrite.
    Run on a cadence (weekly/monthly) or when ``files_before`` from
    the last run says so. Refuses while an append is pending; the
    replay ledger survives (see :mod:`siskin_spark.index_store`)."""
    import os

    from siskin_spark.operators.layout import compact_parquet

    meta = index_store.guard(index_dir, "semdedup")
    stats = compact_parquet(
        spark, os.path.join(index_dir, "cells"),
        target_file_mb=target_file_mb, cluster_by=["cid"],
        range_cluster=True, row_group_mb=row_group_mb,
    )
    _sem_recount_cells(spark, index_dir, meta)
    index_store.write_meta(index_dir, "semdedup", meta)
    return stats


def semdedup_index_drift(
    new_emb: DataFrame,
    index_dir: str,
    sample: int = 20_000,
    seed: int = 7,
) -> dict:
    """When to refit the frozen centroids: every docstring in this
    family says "refit on drift as a scheduled rebuild" — this is the
    gauge that turns that sentence into a number. Returns the mean and
    10th-percentile top-1 cosine between vectors and their assigned
    centroid for (a) a deterministic hash-sample of the INDEX (the
    distribution the cells were fit — or appended-and-accepted — on)
    and (b) the NEW batch, plus ``drift`` = index mean − batch mean.
    A batch that fits the cell space scores ≈ the index sample;
    distribution shift (new language, new embedding model, new domain)
    shows as the batch mean falling below — vectors land far from
    every centroid, co-cell compare recall decays, and a rebuild is
    due. There is no universal threshold; trend it per pipeline
    (alert on e.g. drift > 0.05 or a falling batch p10).

    Cost: one k-broadcast GEMM assignment of the batch + one sampled
    narrow scan of ``cells/`` joined to the k centroids — safe to run
    on every daily admit. The index side samples by seeded xxhash64
    of vec_id (deterministic, partition-independent); int8 cells need
    no dequantization because cosine renormalizes both sides."""
    import os

    spark = new_emb.sparkSession
    meta = index_store.read_meta(index_dir, "semdedup")
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    n_index = sum(meta.get("cell_counts", {}).values()) or cells.count()
    frac = min(1.0, sample / max(1, n_index))
    # deterministic hash-threshold sample: same rows every run, no RNG
    idx_sample = cells.filter(
        F.pmod(
            F.xxhash64(F.col("vec_id").cast("string"), F.lit(int(seed))),
            F.lit(1_000_000),
        ) < int(frac * 1_000_000)
    ).select("cid", "embedding")
    batch = _sem_assign(new_emb, cents, id_col, vec_col).select(
        "cid", "embedding"
    )

    def fit(df: DataFrame) -> dict:
        got = (
            # zero-norm vectors carry no direction — excluding them
            # beats letting 0/0 NaNs poison the mean
            df.filter(norm(F.col("embedding")) != 0)
            .join(F.broadcast(cents), "cid")
            .select(cosine(F.col("embedding"), F.col("cv")).alias("c"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("c").alias("mean"),
                F.percentile_approx("c", 0.1).alias("p10"),
            )
            .collect()[0]
        )
        return {
            "n": int(got["n"]),
            "mean": float(got["mean"]) if got["mean"] is not None else None,
            "p10": float(got["p10"]) if got["p10"] is not None else None,
        }

    idx_fit, batch_fit = fit(idx_sample), fit(batch)
    drift = None
    if idx_fit["mean"] is not None and batch_fit["mean"] is not None:
        drift = idx_fit["mean"] - batch_fit["mean"]
    return {"index": idx_fit, "batch": batch_fit, "drift": drift}


def semdedup_index_remove(
    ids: DataFrame, index_dir: str, target_file_mb: int = 128
) -> dict:
    """Remove vectors from the persisted cell index — the retraction /
    takedown / GDPR-delete path that completes the index lifecycle
    (build -> append -> compact -> REMOVE). ``ids`` is a one-column
    frame of the index's id values (column name must equal the meta's
    ``id_col``); ``cells/`` is rewritten through an anti-join on a
    broadcast of the ids, with the same atomic write-aside + rename
    dance (and the same ``__old`` crash-recovery copy) as
    :func:`semdedup_index_compact` — one rewrite, cid clustering
    preserved, histogram recounted. Centroids stay frozen (removing
    members does not move the cell space; refit on drift is a
    scheduled rebuild, same posture as appends). Returns the rewrite's
    files/bytes stats plus ``rows_removed``. Ledger rules (removal
    survives replay, so re-inserting needs a new batch id; refusal
    while an append is pending; single writer):
    :mod:`siskin_spark.index_store`."""
    import os

    from siskin_spark.operators.layout import rewrite_parquet

    spark = ids.sparkSession
    meta = index_store.guard(index_dir, "semdedup")
    id_col = meta["id_col"]
    if ids.columns != [id_col]:
        raise ValueError(
            f"semdedup_index_remove: ids frame must have exactly the "
            f"index's id column [{id_col!r}], got {ids.columns}"
        )
    # the ids frame is takedown-sized — broadcast it so the rewrite's
    # anti-join adds no shuffle on the corpus side
    rm = F.broadcast(ids.select(F.col(id_col).alias("vec_id")).distinct())
    cells_dir = os.path.join(index_dir, "cells")
    # footer-only count (no column IO) — exact even if the meta's
    # histogram predates this layout version
    before = spark.read.parquet(cells_dir).count()
    stats = rewrite_parquet(
        spark, cells_dir,
        transform=lambda df: df.join(rm, "vec_id", "left_anti"),
        target_file_mb=target_file_mb, cluster_by=["cid"],
        range_cluster=True, row_group_mb=8,
    )
    _sem_recount_cells(spark, index_dir, meta)
    index_store.write_meta(index_dir, "semdedup", meta)
    stats["rows_removed"] = before - sum(meta["cell_counts"].values())
    return stats


def semdedup_index_search(
    spark,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    nprobe: int = 1,
    exclude_self: bool = False,
    broadcast_queries: bool = True,
    prune_cells: bool = True,
    engine: str = "expr",
    sim_buffer_bytes: int = 64 << 20,
    gemm_budget_bytes: int = 256 << 20,
    driver_assign: bool = False,
) -> DataFrame:
    """Top-k cosine retrieval FROM the persisted cell index — the
    serving half of the index family (build/append/compact/remove/
    drift/admit cover maintenance and dedup; this is "give me the k
    nearest stored vectors to each query", the RAG/eval lookup), over
    the SAME on-disk artifact the daily dedup gate maintains.

    Search is the admit (:func:`incremental_semdedup`) with a top-k
    in place of a threshold: both run one probe path — the shared
    front end :func:`_probe_cells` (queries assigned to their
    ``nprobe`` nearest frozen cells by the build's own GEMM
    assignment, so search and dedup agree on the cell space), the
    shared cid prune :func:`_cid_filter`, and on the gemm engine the
    shared co-cell kernel :func:`_co_cell_gemm` — and differ only in
    the final reduction. At threshold ``t`` the admit's vs-index
    pairs are exactly the ``exclude_self`` search hits scoring >= t
    at a k no cell exceeds (pinned in tests).

    Plan: a broadcast hash join does NOT push its join keys into the
    parquet scan, so ``prune_cells`` (default on) filters ``cells``
    on the probes' touched cids — bounded by min(n_queries x nprobe,
    k_cells), never corpus-sized — BEFORE the compare; the index is
    cid-clustered on disk and footer-skip certified
    (operators/layout.py), so each query scans ~nprobe/k_cells of
    the index. The distributed assignment is localCheckpointed first
    so its GEMM pass runs once, not once per consumer.
    ``driver_assign=True`` runs the assignment on the DRIVER in one
    Arrow collect of the query batch instead (same numpy kernel,
    norms folded in the JVM), so the checkpoint and the touched-cid
    collect disappear; opt-in because it collects the batch whole —
    use it when the batch is driver-sized. Results are identical
    either way (pinned in tests).

    ``engine='expr'`` (default) joins the probes on cid against the
    cells scan (the probe side broadcasts; ``broadcast_queries=False``
    shuffles BOTH sides on cid for query batches too large to
    broadcast) and folds each cosine as a Column expression (fixed
    fold order — oracle-exact). ``engine='gemm'`` is the THROUGHPUT
    path for batch serving: the probe table is Arrow-collected
    (guarded by ``gemm_budget_bytes`` — chunk the query set yourself
    or use expr beyond it) and run through :func:`_co_cell_gemm`
    (``sim_buffer_bytes`` tiles the query axis), measured 6-10x on
    the 3M sweep. Its reduction keeps each (batch, cell) block's
    LOCAL top-k per query (stable argsort over id-ascending columns,
    so score ties keep the smaller id — exactly the global rule),
    which also cuts the rank-window shuffle from scored rows to
    <= partitions x queries x k. Same RANKING as the expr engine
    (ties included); cosine VALUES differ in the last ulps (float64
    GEMM vs the expression fold), so the oracle-checked slot keeps
    expr. Both engines rank per query with one row_number over
    (cos_sim DESC, neighbor_id ASC) and keep ``rank <= k``.

    An ``store='int8'`` index searches transparently: the stored
    tinyint vector preserves DIRECTION (unit vector x 127, rounded),
    so the norm is recomputed from the stored values and the cosine
    sees the quantized direction — the same ~1e-3 cosine error bound
    the admit documents. Returns (query_id, neighbor_id, cos_sim,
    rank); ``exclude_self`` drops neighbor rows whose id equals the
    query id (lookups of vectors that are themselves indexed)."""
    import numpy as np

    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if engine not in ("expr", "gemm"):
        raise ValueError(f"engine must be 'expr' or 'gemm', got {engine!r}")
    # r13 opt: per-meta-version artifact memo (see _index_artifacts) —
    # recurring lookups stop re-paying reader setup + centroid collect
    art = _index_artifacts(spark, index_dir)
    meta, cells = art["meta"], art["cells"]
    # the checkpoint serves the prune collect and the gemm collects
    probes, cell_rows = _probe_cells(
        spark, queries, art, nprobe, driver_assign,
        checkpoint=True if prune_cells or engine == "gemm" else None,
        counts=prune_cells,
    )
    if prune_cells:
        cells = cells.filter(_cid_filter(cell_rows))
    if engine == "gemm":
        n_probes = probes.count() if cell_rows is None else sum(cell_rows.values())
        need = n_probes * _index_dim(meta, probes) * 8
        if need > gemm_budget_bytes:
            raise ValueError(
                f"engine='gemm' would collect {need >> 20} MB of probes "
                f"(> gemm_budget_bytes={gemm_budget_bytes >> 20} MB): gemm "
                "is the SERVING path for driver-sized query batches — "
                "chunk the query set across calls or use engine='expr'"
            )
        with arrow_pinned(spark):
            qpdf = probes.select("vec_id", "cid", "embedding").toPandas()
        take = k + (1 if exclude_self else 0)  # self rows dropped below

        def topk(pids, iids, S):
            # id-ascending columns: a stable argsort of -S then keeps
            # the smaller neighbor id on score ties — the global
            # (cos DESC, id ASC) rule the rank window applies
            order = np.argsort(iids, kind="stable")
            S, iids = S[:, order], iids[order]
            top = np.argsort(-S, axis=1, kind="stable")[:, :take]
            return (
                np.repeat(pids, top.shape[1]),
                iids[top].ravel(),
                np.take_along_axis(S, top, axis=1).ravel(),
            )

        scored = _co_cell_gemm(
            spark, qpdf, cells, topk, sim_buffer_bytes,
            ("query_id", "neighbor_id"), probes.schema["vec_id"].dataType,
        )
    else:
        if meta.get("store", "float32") == "int8":
            # stored norm is the ORIGINAL float norm (diagnostics); the
            # quantized direction needs its own magnitude for the cosine
            cells = cells.withColumn("norm", norm(F.col("embedding")))
        p = probes.select(
            F.col("vec_id").alias("query_id"),
            as_double(F.col("embedding")).alias("_qv"),
            F.col("norm").alias("_qn"),
            "cid",
        )
        if broadcast_queries:
            p = broadcast(p)
        i = cells.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("_iv"),
            F.col("norm").alias("_in"),
            "cid",
        )
        scored = p.join(i, on="cid").select(
            "query_id",
            "neighbor_id",
            _memo_col(
                "idxsearch_cos",
                lambda: _cosine_prenormed(
                    F.col("_qv"), F.col("_iv"), F.col("_qn"), F.col("_in")
                ),
            ).alias("cos_sim"),
        )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def incremental_semdedup(
    spark,
    new_emb: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    engine: str = "gemm",
    max_batch_cell_rows: int | None = 500_000,
    sim_buffer_bytes: int = 64 << 20,
    batch_chunk_rows: int | None = None,
    batch_budget_bytes: int = 256 << 20,
    nprobe: int = 1,
    driver_assign: bool = False,
) -> DataFrame:
    """Semantic-duplicate pairs between a NEW embedding batch and
    (index corpus + batch), without re-comparing the corpus: returns
    (vec_id, dup_of, cos_sim) where ``vec_id`` is always from the new
    batch and ``dup_of`` is an index vector or a smaller-id batch
    vector — anti-join ``vec_id`` to admit only novel embeddings
    (SemDeDup as a daily gate instead of a corpus rebuild).

    The vs-index half is :func:`semdedup_index_search` with a
    threshold in place of a top-k: the same probe front end
    (:func:`_probe_cells` — the batch GEMM-assigned under the index's
    frozen centroids), the same cid prune (:func:`_cid_filter`) and,
    on the gemm engine, the same co-cell kernel
    (:func:`_co_cell_gemm`), whose reduction here keeps pairs at or
    over ``threshold`` and drops a batch id meeting its own index
    row (a re-run over an appended batch). A batch wide enough to
    touch every cell (30 K vectors over 256 cells already does) makes
    the compare LINEAR IN THE INDEX — so HOW each index row meets its
    co-cell batch rows decides everything:

    - ``engine='gemm'`` (default): the assigned batch is collected
      via Arrow (``toPandas`` — numpy-backed columns, ~8 bytes per
      float64 dim, NOT Python Row objects at ~10x that) ONE
      cid-range AT A TIME: the k-bounded per-cell counts plan
      contiguous cid ranges whose batch rows fit
      ``batch_budget_bytes`` (or exactly ``batch_chunk_rows`` rows
      when given), and each range is collected, run through the
      kernel and RELEASED before the next range's collect — both the
      driver residency and the broadcast bound are the CHUNK, never
      the whole daily batch (the one exception that tracks data
      skew: a single cell whose batch rows alone exceed the budget is
      collected whole, then sliced locally so its broadcasts stay
      bounded). In rows x dims terms the default 256 MB budget is
      ~43 K rows at a realistic 768-dim embedding and ~512 K rows at
      64-dim — a 1 M x 768 daily batch runs as ~24 range collects
      with ~256 MB driver peak, no upstream slicing required. Chunks
      are cid-coherent, so each chunk's co-cell scan prunes the
      cid-clustered ``cells/`` parquet to its own cells (total index
      rows read stay ~one pass; only boundary cells are scanned
      twice); a batch that fits one chunk scans the index once,
      unfiltered. Each chunk's pairs materialize eagerly inside the
      kernel, so peak executor memory is one chunk. Batch-internal
      duplicates ride the DISTRIBUTED :func:`_within_group_pairs_gemm`
      (per-cell BLAS, lazy) — a duplicate-heavy batch can emit
      quadratically many internal pairs, which must never accumulate
      as a driver-side list.
    - ``engine='expr'``: broadcast-join the batch on cid and fold the
      cosine per pair in Catalyst — lazy, no driver collect, the
      right form for small indexes/oracles (measured 18x slower at
      3M/33K — SCALE.md).

    An ``store='int8'`` index (see :func:`semdedup_index_build`) rides
    the gemm engine unchanged — its per-batch renormalization maps the
    stored int8 unit vectors back onto the sphere, so quantization
    costs ~1.5e-3 median (~1e-2 tail) cosine accuracy and nothing
    else; the expr engine raises on such an index.

    ``max_batch_cell_rows`` guards index-side degenerate-cell skew as
    a DRIVER-SIDE lookup against the meta's persisted cell histogram
    (no index scan); when the histogram proves no cell exceeds the
    bound, the touched-cid collect that only feeds the guard is
    skipped. An index whose meta predates the histogram falls back to
    ONE live count restricted to the touched cells — the guard never
    silently disables. An index hot cell means the index was built
    with too-coarse cells; fix it at build time. None disables.

    ``nprobe`` is the FAISS-style recall lever for SemDeDup's known
    miss class, cell-BOUNDARY pairs: a batch vector whose true near-
    duplicate sits just across a centroid boundary never meets it
    under same-cell compare. ``nprobe=n`` compares each batch vector
    against its n nearest cells' index rows (the vs-index work and
    the packed/broadcast bytes scale ~linearly with n; the guard
    covers every probed cell; at nprobe = k the vs-index compare is
    exhaustive — provably equal to brute force, pinned in tests).
    Batch-INTERNAL pairs stay primary-cell-only: their miss class is
    the same boundary trade the corpus-wide operator accepts, and a
    multi-probe self-join would double-count pairs whose members
    probe each other's cells. So at ``nprobe > 1`` the verdict on a
    boundary pair depends on the batch boundary: two near-duplicates
    in neighbouring cells both survive when they arrive in one batch,
    but once the first is indexed, the second's vs-index probe finds
    it and drops the second (pinned by
    ``test_semdedup_gate_batch_boundary``).

    ``driver_assign=True`` (opt-in, as in
    :func:`semdedup_index_search`): assign the batch on the DRIVER in
    one Arrow collect — same numpy kernel (:func:`_sem_assign_local`),
    norms folded in the JVM — so the mapInPandas assignment stage, its
    Python workers, the checkpoint, and the guard's and chunk
    planner's cid collect all disappear. Use it when the batch is
    driver-sized (the gemm engine's own posture); results are
    identical either way (pinned in tests)."""
    import numpy as np

    if engine not in ("expr", "gemm"):
        raise ValueError(f"engine must be 'expr' or 'gemm', got {engine!r}")
    # r13 opt: meta/reader plans/centroid matrix come from the per-
    # meta-version artifact memo — recurring admits stop re-paying the
    # reader setup and the k-row centroid collect (guide §5)
    art = _index_artifacts(spark, index_dir)
    meta, cells = art["meta"], art["cells"]
    if meta.get("store", "float32") == "int8" and engine != "gemm":
        # the expr folds compute prenormed cosine from the RAW stored
        # embedding + the stored (original) norm — on a quantized index
        # that silently scores int8 magnitudes against float norms;
        # the gemm engine renormalizes per Arrow batch and is the
        # declared compare for SQ8 storage
        raise ValueError(
            "incremental_semdedup: engine='expr' is not supported on an "
            "int8-quantized index (store='int8' in the meta) — use the "
            "gemm engine, whose per-batch renormalization dequantizes "
            "the stored unit vectors"
        )
    # the touched-cid collect only feeds the hot-cell guard (and the
    # gemm chunk planner): when the meta's persisted histogram proves
    # NO cell in the index exceeds the bound, the guard cannot fire for
    # any touched set, so it is skipped (r13 opt). A pre-histogram
    # index or an actually-hot index keeps the exact collect-then-check
    # path (including its construction-time ValueError, pinned in tests).
    hist = meta.get("cell_counts")
    guarded = max_batch_cell_rows is not None and not (
        hist is not None
        and all(int(n) <= max_batch_cell_rows for n in hist.values())
    )
    # gemm: the checkpoint MUST be eager — the cid-count collect and
    # the per-range Arrow collects each drive their own job against
    # it. expr: every consumer (vs-index broadcast, the self-join's
    # two sides) lives inside the ONE final action, so a lazy
    # checkpoint materializes on first touch and is shared from block
    # storage — same reuse, one fewer driver-synchronized job per
    # admit (r13 opt, guide §5 driver round-trips)
    probes, cell_rows = _probe_cells(
        spark, new_emb, art, nprobe, driver_assign,
        checkpoint=engine == "gemm", counts=engine == "gemm" or guarded,
    )
    batch = probes
    if nprobe > 1:
        # rank 0 IS the primary assignment (the cell an append stores)
        batch = probes.filter(F.col("rank") == 0).drop("rank")
        probes = probes.drop("rank")

    if guarded:
        counts = hist
        if counts is None:
            # index built before the histogram landed in the meta:
            # ONE live count restricted to the touched cells — never
            # silently skip the guard (a missing key reading as
            # "count 0" would launch exactly the skewed compare the
            # guard exists to prevent)
            from siskin_spark.session import local_table

            tdf = local_table(
                spark, [(int(c),) for c in sorted(cell_rows)], "cid long"
            )
            live = (
                cells.join(F.broadcast(tdf), "cid", "left_semi")
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            counts = {str(int(r["cid"])): int(r["n"]) for r in live}
        hot = sorted(
            ((counts.get(str(c), 0), c) for c in cell_rows
             if counts.get(str(c), 0) > max_batch_cell_rows),
            reverse=True,
        )
        if hot:
            raise ValueError(
                f"incremental_semdedup: {len(hot)} index cell(s) the batch "
                f"touches exceed max_batch_cell_rows={max_batch_cell_rows} "
                f"(heaviest: {hot[:10]}); rebuild the index with more/"
                "tighter cells or raise the bound"
            )

    if engine == "gemm":
        if batch_chunk_rows is not None:
            chunk = max(1, int(batch_chunk_rows))
        else:
            chunk = max(1, batch_budget_bytes // (8 * _index_dim(meta, probes)))
        # Plan contiguous cid RANGES whose summed batch rows fit the
        # chunk, then COLLECT per range — the driver never holds more
        # than one range (+ its packed copy): driver residency is the
        # CHUNK, not the batch. A single cell whose batch rows alone
        # exceed the chunk becomes its own range (collected whole —
        # the one residency case that tracks batch-side cell skew —
        # then sliced locally below so the BROADCAST stays bounded).
        # Collects are of PROBES (batch x nprobe rows), so the chunk
        # budget naturally accounts for the multi-probe inflation.
        ranges: list[tuple[int, int]] = []
        run, lo, prev_c = 0, None, 0
        for c in sorted(cell_rows):
            n = cell_rows[c]
            if lo is not None and run + n > chunk:
                ranges.append((lo, prev_c))
                run, lo = 0, None
            if lo is None:
                lo = c
            run += n
            prev_c = c
        if lo is not None:
            ranges.append((lo, prev_c))
        # effectively unchunked: one range that fits the budget — skip
        # the index-side cid pruning (scan the index once, unfiltered)
        single = len(ranges) <= 1 and run <= chunk

        def over(pids, iids, S):
            hit_p, hit_i = np.nonzero(S >= threshold)
            keep = pids[hit_p] != iids[hit_i]  # re-run over appended batch
            hit_p, hit_i = hit_p[keep], hit_i[keep]
            return pids[hit_p], iids[hit_i], S[hit_p, hit_i]

        parts = []
        with arrow_pinned(spark):
            for lo, hi in ranges or [(0, -1)]:  # empty batch: one
                # empty collect keeps the empty-result schema path
                cpdf = (
                    probes.select("vec_id", "cid", "embedding")
                    .filter(F.col("cid").between(lo, hi))
                    .toPandas()
                )
                # ranges were planned to fit the chunk, so a range
                # longer than it is a single heavy cid — already
                # cid-coherent, no sort needed before slicing
                for i0 in range(0, max(len(cpdf), 1), chunk):
                    s = cpdf.iloc[i0:i0 + chunk]
                    parts.append(_co_cell_gemm(
                        spark, s,
                        cells if single else cells.filter(_cid_filter(s["cid"])),
                        over, sim_buffer_bytes, ("vec_id", "dup_of"),
                        cells.schema["vec_id"].dataType,
                    ))
                    del s  # a slice VIEW pins the whole range's block
                del cpdf  # release the range before the next collect
        vs_index = parts[0]
        for p in parts[1:]:
            vs_index = vs_index.unionByName(p)
        vb = batch.select(
            F.col("vec_id").alias("_id"),
            "cid",
            F.lit(0).cast("long").alias("_sub"),
            F.col("embedding").alias("_v"),
        )
        vs_batch = (
            _within_group_pairs_gemm(vb, threshold, sim_buffer_bytes)
            # duplicate ids in a batch (a re-ingested file) sort
            # adjacent and would pair with THEMSELVES — a self-pair
            # makes incremental_semdedup_keep drop every copy instead
            # of keeping one (the expr join's strict > excludes this)
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.col("id_b").alias("vec_id"),  # drop side = larger id
                F.col("id_a").alias("dup_of"),
                "cos_sim",
            )
        )
        return vs_index.unionByName(vs_batch)

    # r14 opt: both join sides fan out (each cell row meets many
    # probes and vice versa) — stage the float->double cast once per
    # ROW instead of paying 2*dim casts per PAIR inside the fold
    # (as_double; bit-identical)
    def staged(df):
        return df.select(
            F.col("vec_id").alias("_bid"),
            "cid",
            F.col("norm").alias("_bn"),
            as_double(F.col("embedding")).alias("_bvd"),
        )

    cells = cells.withColumn("_ivd", as_double(F.col("embedding")))
    zero_safe = _memo_col(
        "incsem_vs_index_cos_v2",
        lambda: F.when(
            F.col("_bn") * F.col("norm") == 0, F.lit(0.0)
        ).otherwise(
            _cosine_prenormed(
                F.col("_bvd"), F.col("_ivd"), F.col("_bn"), F.col("norm")
            )
        ),
    )
    vs_index = (
        cells.join(F.broadcast(staged(probes)), "cid")
        .filter(F.col("_bid") != F.col("vec_id"))
        .select(
            F.col("_bid").alias("vec_id"),
            F.col("vec_id").alias("dup_of"),
            zero_safe.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    batch = staged(batch)
    if driver_assign:
        # the local-relation batch scans as ONE partition; spread the
        # self-join's STREAM side so the pair cosine folds use every
        # core (the build side stays the cheap local relation)
        a, b = _parallel(batch, "_bid").alias("a"), broadcast(batch.alias("b"))
    else:
        a, b = batch.alias("a"), batch.alias("b")
    batch_cos = _memo_col(
        "incsem_vs_batch_cos_v2",
        lambda: F.when(
            F.col("a._bn") * F.col("b._bn") == 0, F.lit(0.0)
        ).otherwise(
            _cosine_prenormed(
                F.col("a._bvd"), F.col("b._bvd"), F.col("a._bn"), F.col("b._bn")
            )
        ),
    )
    vs_batch = (
        a.join(
            b,
            on=[
                F.col("a.cid") == F.col("b.cid"),
                F.col("a._bid") > F.col("b._bid"),  # drop side = larger id
            ],
        )
        .select(
            F.col("a._bid").alias("vec_id"),
            F.col("b._bid").alias("dup_of"),
            batch_cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    return vs_index.unionByName(vs_batch)


def _co_cell_gemm(
    spark, pdf, cells: DataFrame, reduce, sim_buffer_bytes: int,
    names: tuple[str, str], pid_type,
) -> DataFrame:
    """The co-cell GEMM kernel both index entry points run: ``pdf`` is
    an Arrow-collected pandas frame of probes (``vec_id``, ``cid``,
    ``embedding``) whose size the caller bounds; it is packed per cid
    as unit rows and SPARK-BROADCAST (once per executor, never per
    task), and a ``mapInPandas`` over the (pruned) cells scan computes
    one BLAS block per (Arrow batch, co-probed cell). The probe axis
    is tiled so no sim block exceeds ``sim_buffer_bytes`` whatever the
    probe-side cell skew (``max_batch_cell_rows`` bounds the index
    side only). ZERO shuffle, zero join.

    ``reduce(pids, iids, S)`` is the one variable part: it maps a
    (probe tile x cell rows) cosine block to the ``(probe id, index
    id, cos_sim)`` arrays to keep — a stable local top-k for the
    search, a threshold for the admit. Output columns are ``names``
    plus ``cos_sim``; the probe id column has ``pid_type``. Eagerly
    materialized (localCheckpoint) so the broadcast is destroyed
    before returning: repeated calls in a long-lived session never
    accumulate copies, and the pair set is result-sized."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    packed: dict[int, tuple] = {}
    if len(pdf):
        cid_arr = pdf["cid"].to_numpy()
        for cid in np.unique(cid_arr):
            m = cid_arr == cid
            packed[int(cid)] = (
                pdf["vec_id"][m].to_numpy(),
                _unit_rows(np.array(list(pdf["embedding"][m]), dtype=np.float64)),
            )
    bc = spark.sparkContext.broadcast(packed)
    out_schema = StructType([
        StructField(names[0], pid_type),
        StructField(names[1], cells.schema["vec_id"].dataType),
        StructField("cos_sim", DoubleType()),
    ])

    def emit(batches):
        import pandas as pd

        table = bc.value
        for part in batches:
            cids = part["cid"].to_numpy()
            out = []
            for cid in np.unique(cids):
                blk = table.get(int(cid))
                if blk is None:
                    continue
                pids, Pn = blk
                m = cids == cid
                iid = part["vec_id"][m].to_numpy()
                X = np.array(list(part["embedding"][m]), dtype=np.float64)
                Xn = _unit_rows(X)
                step = max(1, sim_buffer_bytes // (8 * len(iid)))
                for t0 in range(0, len(pids), step):
                    hit = reduce(pids[t0:t0 + step], iid, Pn[t0:t0 + step] @ Xn.T)
                    if len(hit[0]):
                        out.append(pd.DataFrame(dict(zip(out_schema.names, hit))))
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = (
        cells.select("vec_id", "cid", "embedding")
        .mapInPandas(emit, out_schema)
        .localCheckpoint(eager=True)
    )
    bc.destroy()
    return scored


def incremental_semdedup_keep(
    new_emb: DataFrame, pairs: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Batch survivors: drop every batch vector with a semantic
    duplicate in the index or a smaller-id batch sibling — one
    anti-join over the duplicate-rate-sized pair list (mirror of
    neardup's ``incremental_keep``). ``id_col`` names the batch
    frame's id column; the pair list's drop side is always its
    ``vec_id`` output column."""
    dropped = pairs.select(F.col("vec_id").alias(id_col)).distinct()
    return new_emb.join(dropped, on=id_col, how="left_anti")
