"""Aggregation operators (SURVEY.md §2.6, A1-A7) and set ops (§2.8).

All are single-shuffle hash aggregates with map-side partial combine;
``collect_set`` results are always ``array_sort``-ed because set order
is nondeterministic across partitionings and the reference's outputs
are sorted files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_count(
    df: DataFrame, keys: Sequence[str], explode_col: str | None = None
) -> DataFrame:
    """A1: count per key; with ``explode_col`` counts array memberships
    (reference: collection -> #records, sources/crossref.py:296-330)."""
    if explode_col is not None:
        df = df.select(*keys, F.explode(explode_col).alias(explode_col)) \
            if explode_col not in keys else df
    return df.groupBy(*keys).agg(F.count("*").alias("n")).orderBy(*keys)


def collect_to_map(
    df: DataFrame, key: str, value: str
) -> DataFrame:
    """A7: key -> sorted distinct value list (reference: ISSN->names,
    sources/jstor.py:586-612; ISIL->collections, sources/amsl.py:432-456)."""
    return df.groupBy(key).agg(
        F.array_sort(F.collect_set(value)).alias("values")
    )


def set_algebra(
    a: DataFrame, b: DataFrame, col: str
) -> dict[str, DataFrame]:
    """A4: A-B, B-A, A∩B over distinct values
    (reference: workflows/adhoc.py:77-103)."""
    da = a.select(col).filter(F.col(col).isNotNull()).distinct()
    db = b.select(col).filter(F.col(col).isNotNull()).distinct()
    return {
        "a_minus_b": da.exceptAll(db),
        "b_minus_a": db.exceptAll(da),
        "a_and_b": da.intersect(db),
    }


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """A6: grouped concat with schema union (reference: cat of per-source
    intermediate-schema files, workflows/ai.py:116-165)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def distinct_union(dfs: Sequence[DataFrame], col: str) -> DataFrame:
    """§2.8: distinct union of value lists (reference: citing+cited DOI
    union, sources/oci.py:176-196)."""
    out = union_all([df.select(col) for df in dfs])
    return out.filter(F.col(col).isNotNull()).distinct().orderBy(col)


def degree_report(
    edges: DataFrame, src: str = "citing", dst: str = "cited"
) -> DataFrame:
    """Citation-graph projection (reference sources/oci.py:61-196: the
    OCI edge list's citing/cited column cuts, unique lists, and their
    union): one row per node in the distinct citing∪cited set with its
    out-degree and in-degree. The graph stays a pair of column
    projections — two hash aggregates on the narrow edge table plus a
    distinct union; degrees join back against node ids, so shuffle
    volume is bounded by distinct nodes, not edges."""
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    nodes = distinct_union(
        [edges.select(F.col(src).alias("node")), edges.select(F.col(dst).alias("node"))],
        "node",
    )
    return (
        nodes.join(out_deg, on="node", how="left")
        .join(in_deg, on="node", how="left")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe aggregation: salt -> partial agg -> merge.

    For heavy-hitter keys (one DOI/collection with 10^7 records — the
    shape of the reference's Crossref feed), a plain groupBy sends the
    whole hot key to ONE reducer. Salting splits each key across
    ``salt_buckets`` reducers for the expensive first pass; the second
    pass merges at most ``salt_buckets`` pre-reduced rows per key.

    ``aggs`` maps output column -> 'sum:col' | 'count' | 'min:col' |
    'max:col' (the decomposable aggregates; avg = sum+count composed by
    the caller). Results are identical to the direct groupBy — use only
    when a key histogram says skew exists; for joins AQE skew-split
    already handles it (session.py).
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    phase1 = []
    phase2 = []
    for out, spec in aggs.items():
        op, _, col = spec.partition(":")
        if op == "count":
            phase1.append(F.count("*").alias(out))
            phase2.append(F.sum(out).alias(out))
        elif op == "sum":
            phase1.append(F.sum(col).alias(out))
            phase2.append(F.sum(out).alias(out))
        elif op == "min":
            phase1.append(F.min(col).alias(out))
            phase2.append(F.min(out).alias(out))
        elif op == "max":
            phase1.append(F.max(col).alias(out))
            phase2.append(F.max(out).alias(out))
        else:
            raise ValueError(f"unsupported agg {spec!r}")
    partial = salted.groupBy(*keys, "_salt").agg(*phase1)
    return partial.groupBy(*keys).agg(*phase2)


def hot_key_profile(
    df: DataFrame,
    keys: Sequence[str],
    top: int = 20,
    skew_factor: float = 4.0,
) -> dict:
    """Key-skew report for a planned groupBy/join on ``keys`` — the
    measurement that decides between a plain groupBy, AQE skew-split,
    and :func:`two_phase_agg`. The reference carries no equivalent
    (its Counter tallies are single-process); at 100 TB you profile
    BEFORE you shuffle, because a hot key found during the shuffle has
    already cost the straggler hour.

    One map-side-combined count pass (the per-key partial makes the
    shuffled rows key-cardinality-sized, not data-sized), persisted so
    the summary agg and the bounded top-N collect share it instead of
    re-running the input shuffle twice, then unpersisted. Returns::

        {rows, distinct_keys, mean_rows_per_key,
         top: [{key, n, share}...],            # heaviest keys
         max_share,                            # top key's row share
         skewed,                               # max > skew_factor*mean
         suggested_salt_buckets}               # 0 if not skewed

    ``suggested_salt_buckets`` sizes :func:`two_phase_agg` so the hot
    key's largest slice shrinks to ~mean key weight (capped at 256 —
    beyond that the phase-2 merge rows dominate)."""
    counts = df.groupBy(*keys).agg(F.count("*").alias("n")).persist()
    try:
        summary = counts.agg(
            F.sum("n").alias("rows"),
            F.count("*").alias("distinct_keys"),
            F.max("n").alias("max_n"),
        ).first()
        rows, distinct_keys = summary["rows"] or 0, summary["distinct_keys"]
        if not rows:
            return {
                "rows": 0,
                "distinct_keys": 0,
                "mean_rows_per_key": 0.0,
                "top": [],
                "max_share": 0.0,
                "skewed": False,
                "suggested_salt_buckets": 0,
            }
        mean = rows / distinct_keys
        top_rows = counts.orderBy(F.desc("n"), *keys).limit(top).collect()
    finally:
        counts.unpersist()
    max_n = summary["max_n"]
    skewed = max_n > skew_factor * mean
    return {
        "rows": rows,
        "distinct_keys": distinct_keys,
        "mean_rows_per_key": mean,
        "top": [
            {
                "key": {k: r[k] for k in keys},
                "n": r["n"],
                "share": r["n"] / rows,
            }
            for r in top_rows
        ],
        "max_share": max_n / rows,
        "skewed": bool(skewed),
        "suggested_salt_buckets": int(min(256, -(-max_n // mean))) if skewed else 0,
    }
