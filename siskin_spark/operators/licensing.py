"""The licensing engine: filter-config trees compiled to Spark Column
predicates + holdings interval joins (SURVEY.md §7.4 — the reference's
span-tag, J6/J7; config semantics sources/amsl.py:850-868,976-1358).

Config shape (per ISIL), as in the reference's filter-config JSON:

    {"or": [tree...]} | {"and": [tree...]} | {"not": tree}
    | {"source": ["55", ...]}                      # finc_source_id in
    | {"collection": ["name", ...]}                # mega_collection overlap
    | {"subject": ["s", ...]}                      # subjects overlap
    | {"issn": {"list": [...]}}                    # record ISSNs overlap
    | {"isbn": {"list": [...]}}                    # rft_isbn overlap
    | {"content": {"list": [ids...]}}              # record_id whitelist (J7)
    | {"holdings": {"files": [file_uri, ...]}}     # KBART coverage (join)

The reference fetches issn/content lists from URLs and freezes them
(span-freeze); here the snapshot step materializes them as plain lists
or DataFrames before compilation — fetching is an ingestion concern and
never happens inside executors.

Execution model: column-only predicates fold into ONE pass over the
records (broadcast literals — the reference's own observation that
in-memory collection lists are the main speedup, amsl.py:906-922).
Holdings leaves and large ISSN lists need a join: they share ONE
broadcast frame (the KBART table read once, plus every large list
folded on the driver), joined once to one explode of the records'
ISSNs and aggregated back to one flag bitmask per record; the tree
then references per-leaf flag columns. All ISILs are evaluated in a
single job — no per-ISIL or per-leaf passes over the corpus (span-tag
iterates filters per record in one pass too).

Compiled once per config: the reference loads its filter config once
per run, and a daily pipeline tags batch after batch against the same
one, while walking the trees into Columns costs thousands of Py4J
round-trips per call. Through :mod:`siskin_spark.memo`, keyed on
``(json.dumps(config), record_id_col)`` (key order kept, as in
``normalize.compile_mapping``), one gateway epoch compiles a config
once: the holdings, content and ISSN leaf maps, the flag-bit layout,
the per-record flag aggregate and per-flag tests, the label Column and
the KBART file -> flags Column. The folded large-ISSN ``local_table``
is a LocalRelation bound to its session, so its key adds
``session_token(spark)``. A new config supersedes the previous one,
so a long-lived session holds one compiled config. Never memoized:
the records and holdings DataFrames (their files change between days)
and everything derived from their columns — the coverage condition,
the probe and side select lists, the id cast.
"""

from __future__ import annotations

import json
from typing import Any, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from siskin_spark.memo import memo, session_token
from siskin_spark.schema import issns_all
from siskin_spark.session import local_table

HOLDINGS_FLAG_PREFIX = "_hold_"
CONTENT_FLAG_PREFIX = "_cont_"
ISSN_FLAG_PREFIX = "_issnf_"

# Above this many entries a content whitelist compiles to a broadcast
# semi-join flag instead of a literal isin() — reference content files
# run 10-50K ids (amsl.py:1174-1203) and a 50K-element isin builds a
# huge expression tree.
CONTENT_ISIN_MAX = 1000

# Above this many entries an ISSN list compiles to a join-backed flag:
# every such list folds into the holdings leaves' broadcast side as
# (ISSN -> flag bits) rows. `arrays_overlap(record_issns, lit_array)`
# rebuilds a hash set of the literal side PER RECORD — measured 38 s of
# a 49 s attach_labels at 30M records for seven 2,000-entry lists; as
# join flags the whole tree evaluation dropped to ~12 s. Small lists
# stay inline literals (cheap, and what the sf-scale oracle configs use).
ISSN_JOIN_MAX = 100

_EMBARGO_RE = r"^\s*([RP])([0-9]+)([DMY])\s*$"


def kbart_embargo_ok(embargo: Column, rdate: Column, now: Column) -> Column:
    """NISO KBART ``embargo_info`` predicate (format ``{R|P}{n}{D|M|Y}``).

    R = the most recent n units are NOT available (the JSTOR-style
    moving wall, e.g. ``R1Y``); P = ONLY the most recent n units are
    available. Null/empty/unparseable embargo = no restriction.
    ``now`` is an explicit column/date — wall-clock-relative semantics
    must never capture the cluster clock inside the plan (SURVEY §7.4;
    reference consumes these via span-tag per sources/amsl.py:459-521).
    """
    etype = F.regexp_extract(embargo, _EMBARGO_RE, 1)
    # try_cast: a non-matching embargo string extracts '' which must
    # become null (= no restriction), not an ANSI cast abort
    n = F.regexp_extract(embargo, _EMBARGO_RE, 2).try_cast("int")
    unit = F.regexp_extract(embargo, _EMBARGO_RE, 3)
    cutoff = (
        F.when(unit == "D", F.date_sub(now, n))
        .when(unit == "M", F.add_months(now, -n))
        .when(unit == "Y", F.add_months(now, -12 * n))
    )
    return (
        F.when(etype == "R", rdate <= cutoff)
        .when(etype == "P", rdate > cutoff)
        .otherwise(F.lit(True))
    )


def kbart_volume_issue_ok(
    rvol: Column,
    rissue: Column,
    first_vol: Column,
    first_issue: Column,
    last_vol: Column,
    last_issue: Column,
) -> Column:
    """KBART volume/issue bounds (``num_first_vol_online`` etc.,
    jstor.py:546-580): lexicographic (volume, issue) containment with
    null-permissive sides — a record with no volume, or a holdings row
    with no bound, passes that comparison (matching the reference's
    behavior of only constraining on data both sides have)."""

    def _ge(v: Column, i: Column, bv: Column, bi: Column) -> Column:
        issue_ok = F.when(bi.isNull() | i.isNull(), F.lit(True)).otherwise(i >= bi)
        return F.when(bv.isNull() | v.isNull(), F.lit(True)).otherwise(
            (v > bv) | ((v == bv) & issue_ok)
        )

    def _le(v: Column, i: Column, bv: Column, bi: Column) -> Column:
        issue_ok = F.when(bi.isNull() | i.isNull(), F.lit(True)).otherwise(i <= bi)
        return F.when(bv.isNull() | v.isNull(), F.lit(True)).otherwise(
            (v < bv) | ((v == bv) & issue_ok)
        )

    return _ge(rvol, rissue, first_vol, first_issue) & _le(
        rvol, rissue, last_vol, last_issue
    )


def _overlap(col: Column, values: list[str]) -> Column:
    return F.arrays_overlap(
        F.coalesce(col, F.array().cast("array<string>")),
        F.array(*[F.lit(v) for v in values]),
    )


class _Compiled(NamedTuple):
    """What a config compiles to, independent of any DataFrame (the
    memo value; see the module doc)."""

    holdings_leaves: dict[tuple[str, ...], str]
    content_leaves: dict[tuple[str, ...], str]
    issn_leaves: dict[tuple[str, ...], str]
    bits: dict[str, int] | None  # one bit per flag; None past 63 leaves
    holdings_flag: Column | None  # a KBART row's _flag from its file_uri
    flag_exprs: tuple[Column, dict[str, Column]] | None  # _flags agg, tests
    labels: Column  # array_sort(array_compact(array(when(tree, isil)...)))


class LicensingCompiler:
    """Compiles a {ISIL: tree} config against a records DataFrame."""

    def __init__(
        self,
        holdings: DataFrame | None = None,
        date_col: str = "x_date",
        record_id_col: str = "finc_record_id",
        now: Any = None,
        volume_col: str = "rft_volume",
        issue_col: str = "rft_issue",
    ):
        self.holdings = holdings
        self.date_col = date_col
        self.record_id_col = record_id_col
        self.now = now
        self.volume_col = volume_col
        self.issue_col = issue_col
        self._holdings_leaves: dict[tuple[str, ...], str] = {}
        self._content_leaves: dict[tuple[str, ...], str] = {}
        self._issn_leaves: dict[tuple[str, ...], str] = {}
        self._bits: dict[str, int] | None = {}
        self._holdings_flag: Column | None = None
        self._flag_exprs: tuple[Column, dict[str, Column]] | None = None

    # -- pass 1: find join-backed leaves so their one fused join can be
    # planned ---------------------------------------------------------
    def _collect_holdings(self, tree: dict[str, Any]) -> None:
        for op, arg in tree.items():
            if op in ("or", "and"):
                for sub in arg:
                    self._collect_holdings(sub)
            elif op == "not":
                self._collect_holdings(arg)
            elif op == "holdings":
                key = tuple(sorted(arg.get("files", arg.get("urls", []))))
                if key not in self._holdings_leaves:
                    self._holdings_leaves[key] = (
                        f"{HOLDINGS_FLAG_PREFIX}{len(self._holdings_leaves)}"
                    )
            elif op == "content" and len(arg["list"]) > CONTENT_ISIN_MAX:
                key = tuple(sorted(arg["list"]))
                if key not in self._content_leaves:
                    self._content_leaves[key] = (
                        f"{CONTENT_FLAG_PREFIX}{len(self._content_leaves)}"
                    )
            elif op == "issn" and len(arg["list"]) > ISSN_JOIN_MAX:
                key = tuple(sorted(arg["list"]))
                if key not in self._issn_leaves:
                    self._issn_leaves[key] = (
                        f"{ISSN_FLAG_PREFIX}{len(self._issn_leaves)}"
                    )

    # -- pass 2: tree -> Column --------------------------------------
    def _compile(self, tree: dict[str, Any]) -> Column:
        if len(tree) != 1:
            # implicit AND over sibling keys (reference treats each
            # filter dict entry as a conjunct, amsl.py:850-868)
            return self._compile({"and": [{k: v} for k, v in tree.items()]})
        ((op, arg),) = tree.items()
        if op == "or":
            out = F.lit(False)
            for sub in arg:
                out = out | self._compile(sub)
            return out
        if op == "and":
            out = F.lit(True)
            for sub in arg:
                out = out & self._compile(sub)
            return out
        if op == "not":
            return ~self._compile(arg)
        if op == "source":
            return F.col("finc_source_id").isin([str(s) for s in arg])
        if op == "collection":
            return _overlap(F.col("finc_mega_collection"), list(arg))
        if op == "subject":
            return _overlap(F.col("subjects"), list(arg))
        if op == "issn":
            lst = arg["list"]
            if len(lst) > ISSN_JOIN_MAX:
                # large list: broadcast-join flag (see ISSN_JOIN_MAX) —
                # arrays_overlap would rebuild the literal hash set per
                # record
                return F.col(self._issn_leaves[tuple(sorted(lst))])
            return F.arrays_overlap(
                issns_all(), F.array(*[F.lit(v) for v in lst])
            )
        if op == "isbn":
            return _overlap(F.col("rft_isbn"), list(arg["list"]))
        if op == "content":
            ids = arg["list"]
            if len(ids) > CONTENT_ISIN_MAX:
                return F.col(self._content_leaves[tuple(sorted(ids))])
            return F.col(self.record_id_col).isin(list(ids))
        if op == "holdings":
            key = tuple(sorted(arg.get("files", arg.get("urls", []))))
            return F.col(self._holdings_leaves[key])
        raise ValueError(f"unknown filter node: {op}")

    # -- flag representation ------------------------------------------
    # With <= 63 join-backed leaves (the reference runs ~30 holdings
    # files) each leaf gets one BIT in a single long: the per-record
    # aggregate is bit_or of longs instead of collecting strings —
    # a fixed 8-byte shuffle/join payload and zero array allocations,
    # which is exactly the memory pressure the 30 M-row single-JVM leg
    # hit. Past 63 leaves the representation degrades gracefully to
    # arrays of flag names.
    def _all_flag_names(self) -> list[str]:
        return [
            *self._holdings_leaves.values(),
            *self._content_leaves.values(),
            *self._issn_leaves.values(),
        ]

    def _flag_type(self) -> str:
        return "long" if self._bits is not None else "array<string>"

    def _flag_value(self, flags: Sequence[str]) -> Any:
        """The ``_flag`` of a row that matches ``flags``: the OR of
        their bits, or past 63 leaves the array of their names."""
        if self._bits is None:
            return sorted(set(flags))
        return sum(self._bits[f] for f in set(flags))

    def _flag_lit(self, flags: Sequence[str]) -> Column:
        return F.lit(self._flag_value(flags)).cast(self._flag_type())

    def _compile_holdings_flag(self) -> Column:
        """A KBART row's ``_flag``: the flags of every holdings leaf
        whose ``files`` lists the row's file_uri, plus every leaf
        without ``files``."""
        every = [f for files, f in self._holdings_leaves.items() if not files]
        by_file: dict[str, list[str]] = {}
        for files, f in self._holdings_leaves.items():
            for uri in files:
                by_file.setdefault(uri, list(every)).append(f)
        flag = self._flag_lit(every)
        if by_file:
            pairs = sorted(by_file.items())
            file_flags = F.create_map(
                *[c for u, fl in pairs for c in (F.lit(u), self._flag_lit(fl))]
            )
            flag = F.coalesce(file_flags[F.col("file_uri")], flag)
        return flag

    def _compile_flag_exprs(self) -> tuple[Column, dict[str, Column]]:
        """The per-record ``_flags`` aggregate of the matched ``_flag``
        values and one Boolean column per flag testing it."""
        bits = self._bits
        if bits is not None:
            # one long bitmask per record; bit_or partial-aggregates
            # map-side like any sum
            agg = F.bit_or("_flag")
            test = lambda f: F.col("_flags").bitwiseAND(bits[f]) != 0  # noqa: E731
        else:
            agg = F.flatten(F.collect_list("_flag"))
            test = lambda f: F.array_contains(F.col("_flags"), f)  # noqa: E731
        return agg.alias("_flags"), {
            f: F.coalesce(test(f), F.lit(False)) for f in self._all_flag_names()
        }

    def _compile_config(self, config: dict[str, dict[str, Any]]) -> _Compiled:
        """Both passes over ``config`` and everything else derived from
        it alone; the leaf maps and bit layout stay set on ``self``."""
        self._holdings_leaves, self._content_leaves, self._issn_leaves = {}, {}, {}
        for tree in config.values():
            self._collect_holdings(tree)
        names = self._all_flag_names()
        self._bits = (
            {name: 1 << i for i, name in enumerate(names)} if len(names) <= 63 else None
        )
        pairs = [
            F.when(self._compile(tree), F.lit(isil)) for isil, tree in config.items()
        ]
        return _Compiled(
            self._holdings_leaves,
            self._content_leaves,
            self._issn_leaves,
            self._bits,
            self._compile_holdings_flag() if self._holdings_leaves else None,
            self._compile_flag_exprs() if names else None,
            F.array_sort(F.array_compact(F.array(*pairs))),
        )

    def _issn_table(self, spark: Any, key: tuple) -> DataFrame:
        """The large ISSN lists folded on the driver into one
        (ident -> flags) row per distinct ISSN, memoized per session."""

        def build() -> DataFrame:
            by_ident: dict[str, list[str]] = {}
            for issn_list, f in self._issn_leaves.items():
                for v in issn_list:
                    by_ident.setdefault(v, []).append(f)
            return local_table(
                spark,
                [(v, self._flag_value(fl)) for v, fl in by_ident.items()],
                f"_ident string, _flag {self._flag_type()}",
            )

        return memo(
            ("licensing-issns", *key, session_token(spark)),
            build,
            evict_prefix=("licensing-issns",),
        )

    def _probe_side(self, spark: Any, key: tuple) -> DataFrame:
        """Every ident-keyed leaf — holdings files and large ISSN lists —
        in ONE small frame, the broadcast side of the single probe join.

        The KBART table is read and exploded once; each row carries the
        flags of every holdings leaf whose ``files`` lists its file_uri
        (every row, for a leaf without ``files``). The large ISSN lists
        fold on the driver into one (ident -> flags) row per distinct
        ISSN with null coverage bounds, which pass every coverage test.
        Rows carrying no flag are dropped."""
        side = None
        if self._holdings_leaves:
            h = self.holdings
            cols = set(h.columns)
            opt = lambda name: (  # noqa: E731
                F.col(name) if name in cols else F.lit(None).cast("string")
            )
            idents = F.array(F.col("print_identifier"), F.col("online_identifier"))
            side = h.select(
                F.explode(F.array_distinct(F.array_compact(idents))).alias("_ident"),
                # explicit try_cast (string-typed KBART files): malformed
                # coverage date -> null -> open bound, not an ANSI abort at
                # the comparison site
                F.col("date_first_issue_online").try_cast("date").alias("_from"),
                F.col("date_last_issue_online").try_cast("date").alias("_to"),
                opt("embargo_info").alias("_embargo"),
                # try_cast: real KBART files carry junk in num_* columns;
                # unparseable bound -> null -> open interval, never an abort
                opt("num_first_vol_online").try_cast("int").alias("_fvol"),
                opt("num_first_issue_online").try_cast("int").alias("_fiss"),
                opt("num_last_vol_online").try_cast("int").alias("_lvol"),
                opt("num_last_issue_online").try_cast("int").alias("_liss"),
                self._holdings_flag.alias("_flag"),
            )
        if self._issn_leaves:
            issns = self._issn_table(spark, key)
            side = (
                issns
                if side is None
                else side.unionByName(issns, allowMissingColumns=True)
            )
        return side.filter(F.col("_flag") != self._flag_lit([]))

    def _attach_flags(self, records: DataFrame, id_col: str, key: tuple) -> DataFrame:
        """Attach every join-backed flag with ONE probe of the records:
        holdings leaves and large ISSN lists share one broadcast side
        (``_probe_side``) joined once to one explode of the records'
        ISSNs, and large content whitelists (keyed by record id) join
        the same per-record flag aggregate. The reference runs ~30
        holdings files; sequentially that was ~30 full left joins of
        the corpus — this is one."""
        names = self._all_flag_names()
        if not names:
            return records
        spark = records.sparkSession
        matches = None  # (_rk, _flag) pairs

        if self._holdings_leaves or self._issn_leaves:
            probe = [F.col(id_col).alias("_rk")]
            cond = None
            if self._holdings_leaves:
                if self.holdings is None:
                    raise ValueError(
                        "config has holdings leaves but no holdings table given"
                    )
                # Real KBART files always carry the embargo_info COLUMN
                # (32-column standard) — only a parseable VALUE makes
                # `now` mandatory. Holdings are config-sized, so this
                # check is one tiny scan of the broadcast side.
                if (
                    "embargo_info" in self.holdings.columns
                    and self.now is None
                    and not self.holdings.filter(
                        F.regexp_extract(
                            F.col("embargo_info").cast("string"), _EMBARGO_RE, 1
                        )
                        != ""
                    ).isEmpty()
                ):
                    raise ValueError(
                        "holdings table has embargo_info values but no `now` "
                        "was given; embargo walls are wall-clock-relative and "
                        "need an explicit evaluation date (attach_labels(..., "
                        "now=date(...)))"
                    )
                rcols = set(records.columns)
                # try_cast: malformed record date/volume/issue -> null
                # -> the record simply matches no holdings window
                # (reference skips such records), instead of aborting
                # the whole tagging job under ANSI mode
                as_int = lambda c: (  # noqa: E731
                    F.col(c).try_cast("int") if c in rcols else F.lit(None).cast("int")
                )
                # coverage is date-granular (KBART bounds are dates); record
                # timestamps truncate to the day for the comparison
                probe += [
                    F.col(self.date_col).try_cast("date").alias("_rdate"),
                    as_int(self.volume_col).alias("_rvol"),
                    as_int(self.issue_col).alias("_riss"),
                ]
                bounds = ("_rvol", "_riss", "_fvol", "_fiss", "_lvol", "_liss")
                cond = (
                    (F.col("_from").isNull() | (F.col("_rdate") >= F.col("_from")))
                    & (F.col("_to").isNull() | (F.col("_rdate") <= F.col("_to")))
                    & kbart_volume_issue_ok(*map(F.col, bounds))
                )
                if self.now is not None:
                    cond = cond & kbart_embargo_ok(
                        F.col("_embargo"), F.col("_rdate"), F.lit(self.now)
                    )
            matches = records.select(
                *probe, F.explode(issns_all()).alias("_ident")
            ).join(broadcast(self._probe_side(spark, key)), on="_ident")
            if cond is not None:
                matches = matches.filter(cond)
            matches = matches.select("_rk", "_flag")

        id_type = records.schema[id_col].dataType.simpleString()
        for content_ids, flag in self._content_leaves.items():
            c = local_table(
                spark, [(str(i),) for i in content_ids], "_id string"
            ).select(
                F.col("_id").cast(id_type).alias("_rk"),
                self._flag_lit([flag]).alias("_flag"),
            )
            # records ∩ whitelist resolved in the same single aggregate:
            # semi-join happens implicitly when flags join back below
            matches = c if matches is None else matches.unionByName(c)

        flags_agg, flag_cols = self._flag_exprs
        flags_per_rec = matches.groupBy("_rk").agg(flags_agg)
        # shuffle_hash on the NARROW flags side: a sort-merge join here
        # would sort the full wide corpus by id — at 30 M rows in one
        # JVM that sort was the measured heap-pressure cliff. A
        # shuffled hash join builds the table on the (id, long) side
        # and streams the wide records through it unsorted.
        records = records.join(
            flags_per_rec.withColumnRenamed("_rk", id_col).hint("shuffle_hash"),
            on=id_col,
            how="left",
        )
        return records.withColumns(flag_cols).drop("_flags")

    def attach_labels(
        self,
        records: DataFrame,
        config: dict[str, dict[str, Any]],
        id_col: str = "finc_id",
        labels_col: str = "x_labels",
        drop_unlabeled: bool = False,
    ) -> DataFrame:
        """J6 span-tag: evaluate every ISIL's tree, set ``labels_col``
        to the sorted list of matching ISILs; optionally drop records
        with no label (span-tag -D, workflows/ai.py:232-237). The
        config compiles once per gateway epoch (module doc). Raises
        ValueError when ``records`` already carries a column name the
        compiled config uses internally (a flag column or ``_flags``)."""
        key = (json.dumps(config), self.record_id_col)
        (
            self._holdings_leaves,
            self._content_leaves,
            self._issn_leaves,
            self._bits,
            self._holdings_flag,
            self._flag_exprs,
            labels,
        ) = memo(
            ("licensing", *key),
            lambda: self._compile_config(config),
            evict_prefix=("licensing",),
        )
        names = self._all_flag_names()
        clash = sorted(set(records.columns) & {*names, "_flags"}) if names else []
        if clash:
            raise ValueError(
                f"records carry column(s) {clash}, which attach_labels uses "
                "for its join-backed flags; rename them first"
            )
        out = self._attach_flags(records, id_col, key).withColumn(labels_col, labels)
        out = out.drop(*names)
        if drop_unlabeled:
            out = out.filter(F.size(labels_col) > 0)
        return out


def attach_labels(
    records: DataFrame,
    config: dict[str, dict[str, Any]],
    holdings: DataFrame | None = None,
    now: Any = None,
    **kw: Any,
) -> DataFrame:
    """Functional entry point for the licensing engine (J6)."""
    return LicensingCompiler(holdings=holdings, now=now).attach_labels(
        records, config, **kw
    )


def apply_oa_flag(
    records: DataFrame,
    oa_issns: "DataFrame | Sequence[str] | None" = None,
    free_collections: list[str] | None = None,
    oa_source_ids: list[str] | None = None,
    excluded_source_ids: list[str] | None = None,
    flag_col: str = "x_oa",
) -> DataFrame:
    """span-oa-filter semantics (reference: workflows/ai.py:758-798):
    x_oa = (ISSN in OA-KBART list) OR (collection in free-content list)
    OR (source in -oasid allowlist), unless source in -xsid excludes.

    ``oa_issns`` may be a DataFrame (KBART-scale lists: exploded
    broadcast join on the ISSN, distinct hit set joined back by id) or
    an in-memory sequence (the reference tool loads its ISSN file into
    a process-local set — the same bounded-config shape). A sequence of
    <= ISSN_JOIN_MAX entries compiles to a row-local ``arrays_overlap``
    literal, which keeps the whole operator a pure map: the input plan
    is evaluated ONCE and never re-keyed by id, where the join form
    re-executes the entire upstream plan for the hit set and shuffles
    the full record stream through a join-back (Spark does not reuse
    unexchanged subtrees). Larger sequences fall back to the join —
    ``arrays_overlap`` rebuilds the literal hash set per record (see
    ISSN_JOIN_MAX), so big lists belong on the build side of a hash
    join. Everything else is literal predicates.
    """
    inline_issn: Column | None = None
    if oa_issns is not None and not isinstance(oa_issns, DataFrame):
        lst = sorted({str(s) for s in oa_issns if s is not None})
        if not lst:
            inline_issn = F.lit(False)
        elif len(lst) <= ISSN_JOIN_MAX:
            inline_issn = F.coalesce(
                F.arrays_overlap(issns_all(), F.array(*[F.lit(v) for v in lst])),
                F.lit(False),
            )
        else:
            oa_issns = local_table(
                records.sparkSession, [(s,) for s in lst], "issn string"
            )
    if inline_issn is not None:
        records = records.withColumn("_oa_issn", inline_issn)
    elif oa_issns is not None:
        # left_semi: a repeated list entry multiplies no row, and the
        # planner sizes the hit set by the exploded records (an inner
        # join to a side of unknown key distinctness is sized as a
        # product, which turns the join-back into a sort-merge join)
        oa_side = broadcast(oa_issns.select(F.col("issn").alias("_i")))
        hit = (
            records.select(F.col("finc_id").alias("_rk"), F.explode(issns_all()).alias("_i"))
            .join(oa_side, on="_i", how="left_semi")
            .select("_rk")
            .distinct()
            .withColumn("_oa_issn", F.lit(True))
            .withColumnRenamed("_rk", "finc_id")
        )
        records = records.join(hit, on="finc_id", how="left").withColumn(
            "_oa_issn", F.coalesce(F.col("_oa_issn"), F.lit(False))
        )
    else:
        records = records.withColumn("_oa_issn", F.lit(False))

    flag = F.col("_oa_issn")
    if free_collections:
        flag = flag | _overlap(F.col("finc_mega_collection"), free_collections)
    if oa_source_ids:
        flag = flag | F.col("finc_source_id").isin(oa_source_ids)
    if excluded_source_ids:
        flag = flag & ~F.col("finc_source_id").isin(excluded_source_ids)
    return records.withColumn(flag_col, flag).drop("_oa_issn")
