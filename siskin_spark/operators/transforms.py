"""Per-record transform operators (SURVEY.md §2.2, M1-M14) and the
scalar function surface (§2.9) — all pure Column expressions so they
stay inside whole-stage codegen; no Python UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# DOI pattern as used by the reference's sniffing code
# (reference: span-doisniffer usage sources/base.py:160-166; regex shape
# sketches/5163.py:50)
DOI_PATTERN = r"(10[.][0-9]{2,8}/[^ \"\t]+)"


def finc_id(
    source_id: Column | str, record_id: Column | str, prefix: str = "ai-"
) -> Column:
    """Deterministic global id: ``<prefix><sid>-<urlsafe_b64(record_id)>``
    without padding (reference: conversions.py:538-540,154-156; the
    morph family uses the ``finc-`` prefix, assets/datacite/morph.xml
    combine rule, where the span converters use ``ai-``).

    urlsafe variant = standard base64 with ``+/`` -> ``-_``.
    """
    sid = F.col(source_id) if isinstance(source_id, str) else source_id
    rid = F.col(record_id) if isinstance(record_id, str) else record_id
    b64 = F.regexp_replace(F.base64(F.encode(rid, "UTF-8")), "=+$", "")
    b64 = F.translate(b64, "+/", "-_")
    return F.concat(F.lit(prefix), sid, F.lit("-"), b64)


def doi_sniff(*cols: Column | str) -> Column:
    """M8: regex-sniff a DOI out of one or more text fields (first hit
    wins; empty string when nothing matches -> surfaced as null)."""
    parts = [F.coalesce(F.col(c) if isinstance(c, str) else c, F.lit("")) for c in cols]
    hay = F.concat_ws(" ", *parts)
    hit = F.regexp_extract(hay, DOI_PATTERN, 1)
    # nullif, not when(hit != '', hit): the CaseWhen form embeds the
    # regex-over-concat twice (r13, see normalize._compile_rule)
    return F.nullif(hit, F.lit(""))


def redact(df: DataFrame, cols: Sequence[str] = ("x_fulltext",)) -> DataFrame:
    """M9: span-redact — drop fulltext columns (reference:
    workflows/ai.py:168-190, jq `del(.["x.fulltext"])`)."""
    return df.drop(*[c for c in cols if c in df.columns])


def truncate_str(col: Column | str, max_len: int) -> Column:
    """M7: clamp a string field (reference truncates title/author fields
    to 4000 chars, sources/base.py:187-207; abstracts to 500,
    conversions.py:558)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, max_len)


def jour_fixe(date_col: Column | str) -> Column:
    """§2.9 date arithmetic: snap to the 15th of the current month, or
    of the previous month when the day is before the 15th (reference:
    workflows/ai.py:213-219)."""
    # try_cast: string-dated callers must get null, not an ANSI abort,
    # for a malformed date (date_trunc in the snap_* helpers is already
    # null-tolerant; this is the one strict cast on the input side)
    d = (F.col(date_col) if isinstance(date_col, str) else date_col).try_cast(
        "date"
    )
    prev = F.add_months(d, -1)
    base = F.when(F.dayofmonth(d) < 15, prev).otherwise(d)
    return F.make_date(F.year(base), F.month(base), F.lit(15))


def snap_weekly(date_col: Column | str) -> Column:
    """gluish ``weekly`` date snapping (reference: ClosestDateParameter,
    sources/crossref.py:84-88) -> Monday of the ISO week."""
    d = (F.col(date_col) if isinstance(date_col, str) else date_col).try_cast(
        "timestamp"
    )
    return F.date_trunc("week", d).cast("date")


def snap_monthly(date_col: Column | str) -> Column:
    """gluish ``monthly`` snapping -> first of month."""
    d = (F.col(date_col) if isinstance(date_col, str) else date_col).try_cast(
        "timestamp"
    )
    return F.date_trunc("month", d).cast("date")


def convert_with_budget(
    df: DataFrame,
    convert,
    out_schema,
    max_failures: int = 0,
    failure_counter=None,
):
    """M5 converter harness with a max-failure budget (reference
    conversions.py:117-123: imslp XML->MARC hard-fails the run when
    more than N records are unconvertible, instead of silently
    dropping them).

    ``convert(row: dict) -> dict`` may raise; failing rows are dropped
    and counted in a Spark accumulator. Returns ``(out_df,
    check_budget)`` — call ``check_budget()`` AFTER an action on
    ``out_df``; it raises RuntimeError when failures exceed the budget
    (accumulators only have defined values post-action).
    """
    from collections.abc import Iterator

    import pandas as pd

    sc = df.sparkSession.sparkContext
    acc = failure_counter if failure_counter is not None else sc.accumulator(0)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            good = []
            for row in pdf.to_dict("records"):
                try:
                    good.append(convert(row))
                except Exception:
                    acc.add(1)
            yield pd.DataFrame(good) if good else pd.DataFrame(
                columns=[f.name for f in out_schema.fields]
                if hasattr(out_schema, "fields")
                else None
            )

    out = df.mapInPandas(run, out_schema)

    def check_budget() -> int:
        if acc.value > max_failures:
            raise RuntimeError(
                f"conversion failures {acc.value} exceed budget {max_failures}"
            )
        return acc.value

    return out, check_budget
