"""Deduplication / argmax / snapshot operators (SURVEY.md §2.5, D1-D6).

The reference's signature moves, re-expressed as Spark window / aggregate
plans instead of external sorts:

- D1 ``snapshot_latest``      — latest record per key from an append-only
  feed (reference: span-crossref-snapshot, sources/crossref.py:136-214;
  131-179M keys over 600M-1B rows).
- D2 ``argmax_dedup``         — keep the row with the max ordering value
  per group, then optionally semi-join survivors back
  (reference: sources/doaj.py:143-217, `sort -k3,3 -k2,2 | tac | sort -u`).
- D4 ``drop_exact_duplicates`` — `sort -u` over rows
  (reference: sources/ios.py:118-137).
- D5 ``groupcover``           — preference-based label reassignment per
  DOI group (reference: workflows/ai.py:250-342, Go `groupcover`).
- D6 ``distinct_sorted``      — distinct value lists
  (reference: sources/crossref.py:419-505).

Scale notes: all of these shuffle exactly once on the dedup key.
``snapshot_latest`` uses `max_by(struct(*), ord)` per key — a hash
aggregate with map-side partial combine — instead of a window, because
a window (rank + filter) materializes and sorts every version of every
key while the aggregate keeps one winner per key per map task. At the
reference's 1B-rows/150M-keys shape, partial aggregation cuts shuffle
volume ~6x. AQE skew-join/agg handles hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def snapshot_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """D1: keep the newest row per key (append-only feed -> snapshot).

    ``order_by`` columns rank versions; the lexicographically greatest
    tuple wins. Pass a unique tiebreaker (e.g. an id) as the last column
    to make the winner deterministic — the reference relies on feed
    position, which has no Spark equivalent, so an explicit tiebreak is
    the correct re-expression.

    Shape: ``groupBy(keys).agg(max_by(struct(cols), ord))`` so the
    partial (map-side) aggregation keeps one candidate per key per
    partition before the shuffle. Because the struct-valued max_by
    buffer is not hash-aggregable, this plans SortAggregates — a sort
    of the full input by key on BOTH sides of the exchange, re-run by
    every downstream consumer after the reused exchange.
    """
    return _snapshot(df, keys, order_by, latest=True)


def snapshot_earliest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """D1 dual: keep the smallest-ordered row per key (deterministic
    `sort -u`-style representative: e.g. min id per duplicate text)."""
    return _snapshot(df, keys, order_by, latest=False)


def _snapshot(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    latest: bool,
) -> DataFrame:
    cols = df.columns
    ords = [c if isinstance(c, Column) else F.col(c) for c in order_by]
    pick = F.max_by if latest else F.min_by
    winner = pick(F.struct(*[F.col(c) for c in cols]), F.struct(*ords)).alias("_w")
    out = df.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return out.select(*[F.col(f"_w.{c}").alias(c) for c in cols])


def argmax_dedup(
    df: DataFrame,
    group: Sequence[str],
    order_by: Sequence[str | Column],
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """D2: per group keep the row with the greatest ``order_by`` tuple,
    optionally projecting only ``keep`` columns (the reference projects
    to the kept id list and semi-joins back — with Catalyst column
    pruning the single-pass form is equivalent and cheaper).
    """
    out = snapshot_latest(df, group, order_by)
    if keep is not None:
        out = out.select(*keep)
    return out


def semi_join_back(full: DataFrame, kept_ids: DataFrame, key: str) -> DataFrame:
    """D2 second half: restrict ``full`` to ids surviving dedup
    (reference: grep -Ff kept-ids, sources/doaj.py:190-217)."""
    return full.join(kept_ids.select(key).distinct(), on=key, how="left_semi")


def drop_exact_duplicates(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """D4: `sort -u` equivalent. With ``subset``, keeps an arbitrary row
    per duplicate group — for deterministic results use
    :func:`argmax_dedup` with an explicit tiebreaker instead.
    """
    return df.dropDuplicates(list(subset)) if subset else df.distinct()


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """D6: distinct non-null values of one column, ordered (byte order;
    reference: LC_ALL=C sort -u)."""
    return df.select(col).filter(F.col(col).isNotNull()).distinct().orderBy(col)


def groupcover(
    df: DataFrame,
    id_col: str = "finc_id",
    source_col: str = "finc_source_id",
    key_col: str = "doi",
    labels_col: str = "labels",
    preferences: Sequence[str] = (
        "85", "55", "89", "60", "50", "105", "101", "53", "49", "28", "48", "121",
    ),
    lower_key: bool = True,
) -> DataFrame:
    """D5: preference-based group cover (reference: workflows/ai.py:250-342,
    preference list at ai.py:300, `groupcover -prefs '85 55 ...' -lower`).

    Semantics: rows are (id, source, doi, labels[]). Group rows by DOI
    (case-insensitive when ``lower_key``). Within a group, when the same
    label (ISIL) occurs on rows from multiple sources, only the row whose
    source ranks best in ``preferences`` keeps that label; the others
    lose it. Unranked sources rank below all ranked ones (ties broken by
    source id, then row id, for determinism). Rows with a null/empty key
    are left untouched. Returns (id, labels) with the updated label sets
    — feed to :func:`siskin_spark.operators.joins.update_labels` (M10/J3)
    to apply to the full records.

    Plan: explode labels -> rank winner per (key, label) via min_by hash
    aggregate (one shuffle on the narrow table) -> regroup winners per id
    directly from the winners table (no join back against the exploded
    table: winners already carries the winning id per (key, label)).
    No UDFs; preference ranking is ``array_position`` against a literal.
    """
    prefs = F.array(*[F.lit(p) for p in preferences])
    key = F.lower(F.col(key_col)) if lower_key else F.col(key_col)

    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("_src"),
        key.alias("_key"),
        F.col(labels_col).alias("_labels"),
    )
    grouped = keyed.filter(F.col("_key").isNotNull() & (F.col("_key") != ""))
    passthrough = keyed.filter(F.col("_key").isNull() | (F.col("_key") == "")).select(
        F.col("_id"), F.col("_labels")
    )

    # rank: position in the preference list, unranked -> +inf bucket
    pos = F.array_position(prefs, F.col("_src"))
    rank = F.when(pos > 0, pos).otherwise(F.lit(1_000_000)).alias("_rank")

    exploded = grouped.select(
        "_id", "_src", "_key", rank, F.explode("_labels").alias("_label")
    )
    # winner id per (key, label): best (rank, src, id) tuple
    winners = exploded.groupBy("_key", "_label").agg(
        F.min_by(F.col("_id"), F.struct(F.col("_rank"), F.col("_src"), F.col("_id"))).alias(
            "_winner"
        )
    )
    kept = (
        winners.groupBy(F.col("_winner").alias("_id"))
        .agg(F.array_sort(F.collect_set("_label")).alias("_labels"))
    )
    # rows that lost every label come back with an empty array
    all_ids = grouped.select("_id").distinct()
    covered = all_ids.join(kept, on="_id", how="left").select(
        "_id",
        F.coalesce(F.col("_labels"), F.array().cast("array<string>")).alias("_labels"),
    )
    return covered.unionByName(passthrough).select(
        F.col("_id").alias(id_col), F.col("_labels").alias(labels_col)
    )


def cover_labels(
    df: DataFrame,
    id_col: str = "finc_id",
    source_col: str = "finc_source_id",
    key_col: str = "doi",
    labels_col: str = "labels",
    preferences: Sequence[str] = (
        "85", "55", "89", "60", "50", "105", "101", "53", "49", "28", "48", "121",
    ),
    lower_key: bool = True,
) -> DataFrame:
    """D5 applied in place: ``groupcover`` + ``update_labels`` fused
    into ONE window pass over the full records (same per-(key, label)
    winner rule as :func:`groupcover`: min (pref-rank, source, id);
    null/empty-key rows keep their labels untouched).

    The reference pipeline materializes the tagged records to a file,
    runs the external ``groupcover`` binary over a projection, then
    joins the changed label sets back (workflows/ai.py:247-342) — a
    barrier plus a join the composition only needs because the cover
    runs out-of-band. Spark can express the cover over the records
    themselves: one window keyed by the DOI gives every row its
    group's members, and a higher-order filter keeps exactly the
    labels this row wins. No second consumption of the upstream plan,
    no checkpoint, no join-back — the upstream chain (normalize ->
    union -> license) streams straight through a single shuffle.

    Null/empty keys get a per-row singleton partition (key salted with
    the row id), so a mostly-null key column cannot funnel the corpus
    into one task. Skew note: a single hot KEY still lands in one
    window partition with no partial aggregation — for corpora where
    one DOI can hold millions of rows, prefer the
    ``groupcover``/``update_labels`` pair (hash aggregate with
    map-side combine); for record-per-source-per-DOI shapes (bounded
    group size = number of sources) this single pass is strictly
    cheaper. Assumes ``id_col`` is unique per row (the pipeline
    contract), as does the join-back variant. See README.md
    "Operator selection at scale" for the decision table.
    """
    prefs = F.array(*[F.lit(p) for p in preferences])
    key = F.lower(F.col(key_col)) if lower_key else F.col(key_col)
    no_key = key.isNull() | (key == "")
    pos = F.array_position(prefs, F.col(source_col))
    rank = F.when(pos > 0, pos).otherwise(F.lit(1_000_000))

    # singleton partitions for keyless rows: they pass through as their
    # own one-member group instead of piling into one null partition
    part = F.when(no_key, F.concat(F.lit("\x00"), F.col(id_col).cast("string"))).otherwise(key)
    w = Window.partitionBy(part)
    member = F.struct(
        rank.alias("r"),
        F.col(source_col).alias("s"),
        F.col(id_col).alias("i"),
        F.coalesce(F.col(labels_col), F.array().cast("array<string>")).alias("ls"),
    )
    members = F.collect_list(member).over(w)

    def _winner(lab: Column) -> Column:
        holders = F.filter(members, lambda m: F.array_contains(m["ls"], lab))
        return F.array_min(F.transform(holders, lambda m: F.struct(m["r"], m["s"], m["i"])))["i"]

    covered = F.filter(
        F.coalesce(F.col(labels_col), F.array().cast("array<string>")),
        lambda lab: _winner(lab) == F.col(id_col),
    )
    # sort + distinct mirror groupcover's array_sort(collect_set(..))
    # so the fused and join-back variants are byte-identical downstream
    return df.withColumn(
        labels_col,
        F.when(no_key, F.col(labels_col)).otherwise(F.array_sort(F.array_distinct(covered))),
    )


def snapshot_merge(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
    broadcast_delta: bool = True,
) -> DataFrame:
    """Incremental D1: fold a feed increment into an existing snapshot
    without re-deduplicating untouched keys.

    The reference rebuilds its Crossref snapshot from the full feed
    every time — 348 minutes over 6.12 TB for a daily delta that
    touches well under 1% of keys (sources/crossref.py:136-214). The
    incremental plan: broadcast the delta's key set, split the
    snapshot into untouched rows (anti join — pass through untouched,
    never shuffled) and touched rows (semi join), and re-run
    :func:`snapshot_latest` over touched ∪ delta only. Shuffle volume
    is proportional to the DELTA, not the snapshot: at the reference's
    179 M-key scale the daily merge moves ~1 M rows instead of 1 B.

    Result is row-identical to ``snapshot_latest(snapshot ∪ delta)``
    provided ``snapshot`` is already deduplicated on ``keys`` (the
    invariant a snapshot table maintains); the oracle query pins this.
    ``broadcast_delta=False`` for deltas too large to broadcast — the
    splits become shuffle joins but the re-dedup stays delta-sized.
    """
    on = [k for k in keys]
    dk = delta.select(*on).distinct()
    if broadcast_delta:
        dk = F.broadcast(dk)
    untouched = snapshot.join(dk, on=on, how="left_anti")
    touched = snapshot.join(dk, on=on, how="left_semi")
    rededup = snapshot_latest(
        touched.unionByName(delta, allowMissingColumns=False), keys, order_by
    )
    return untouched.unionByName(rededup)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """What changed between two corpus snapshots: (id, status) rows
    with status in added / removed / changed — unchanged ids are
    DROPPED, so the result is change-rate-sized (the companion to
    :func:`snapshot_merge`: merge folds a delta in, diff tells you
    what a new snapshot's delta IS — e.g. which docs to re-embed,
    re-license, or re-export after a harvest; the reference answers
    this by rebuilding and comparing full exports, span-compare
    style).

    ``compare_cols`` names the content columns whose change makes a
    row 'changed' (default: every non-id column, sorted by name so
    the fingerprint is schema-order-independent). Content is compared
    via one ``xxhash64`` fingerprint per side. Both inputs must be
    snapshots — deduplicated on ``id_col`` (the same invariant
    :func:`snapshot_merge` states); a duplicated id would fan out in
    the full-outer join. Compared — the join carries only
    (id, 64-bit hash), so both corpora are scanned NARROW (column
    pruning reaches the parquet scan) and the one shuffle each side
    moves ~12 bytes/row regardless of document width. Hash collisions
    (~2^-64 per changed pair) can only MISS a change, never invent
    one; ids and adds/removes are exact.

    NULL handling: ``xxhash64(*cols)`` passes its seed THROUGH
    unchanged for a NULL input, so a naive multi-column hash collides
    systematically whenever a value shifts across a NULL boundary —
    ``(NULL, 'x')`` and ``('x', NULL)`` hash identically and the
    change would be silently dropped. Each column is therefore hashed
    separately with a column-tagged sentinel replacing NULL, and the
    per-column hashes are folded with one outer ``xxhash64`` — the
    null/value layout participates in the fingerprint, restoring the
    ~2^-64-only miss class.
    """
    if compare_cols is None:
        compare_cols = sorted(c for c in new.columns if c != id_col)
        old_cols = sorted(c for c in old.columns if c != id_col)
        if old_cols != list(compare_cols):
            raise ValueError(
                "corpus_diff: snapshot schemas differ "
                f"({old_cols} vs {sorted(compare_cols)}) — pass "
                "compare_cols to diff on the shared content columns"
            )
    fp = lambda df: df.select(  # noqa: E731
        F.col(id_col),
        F.xxhash64(
            *[
                F.coalesce(
                    F.xxhash64(F.col(c)),
                    F.xxhash64(F.lit(f"__corpus_diff_null__:{c}")),
                )
                for c in compare_cols
            ]
        ).alias("_fp"),
    )
    o = fp(old).withColumnRenamed("_fp", "_fp_old")
    n = fp(new).withColumnRenamed("_fp", "_fp_new")
    return (
        o.join(n, on=id_col, how="full_outer")
        .select(
            id_col,
            F.when(F.col("_fp_old").isNull(), F.lit("added"))
            .when(F.col("_fp_new").isNull(), F.lit("removed"))
            .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
            .alias("status"),
        )
        .where(F.col("status").isNotNull())
    )
