"""Golden tests for the licensing engine (J6/J7), OA flagger, dedup and
export operators over FIXTURES.md-shaped domain data — the reference's
table-driven golden-test style (test_conversions.py / test_openurl.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from siskin_spark.operators import dedup
from siskin_spark.operators.export import openurl_params, solr_export
from siskin_spark.operators.licensing import apply_oa_flag, attach_labels
from siskin_spark.operators.transforms import redact
from tests.fixtures import (
    FILTER_CONFIG,
    is_records,
    kbart_holdings,
    kbart_holdings_embargo,
)


def _got(out) -> dict:
    return {r["finc_id"]: list(r["x_labels"]) for r in out.collect()}


def _labels(spark):
    recs = is_records(spark)
    return _got(attach_labels(recs, FILTER_CONFIG, holdings=kbart_holdings(spark)))


def test_attach_labels_golden(spark):
    got = _labels(spark)
    assert got["ai-55-c1"] == ["DE-15", "FID-BBI-DE-23"]  # holdings window hit + subject
    assert got["ai-55-c2"] == ["FID-BBI-DE-23"]  # 2024 outside 1950-2000 window
    assert got["ai-28-b1"] == ["DE-15", "FID-BBI-DE-23"]  # DOAJ branch + subject
    assert got["ai-49-a1"] == ["DE-14"]  # eissn list hit
    assert got["ai-49-a2"] == []  # no eissn -> no match


def test_attach_labels_drop_unlabeled(spark):
    recs = is_records(spark)
    out = attach_labels(
        recs, FILTER_CONFIG, holdings=kbart_holdings(spark), drop_unlabeled=True
    )
    assert sorted(r["finc_id"] for r in out.collect()) == [
        "ai-28-b1", "ai-49-a1", "ai-55-c1", "ai-55-c2",
    ]


def test_oa_flag(spark):
    recs = is_records(spark)
    oa_issns = spark.createDataFrame([("5555-6666",)], "issn string")
    out = apply_oa_flag(
        recs,
        oa_issns=oa_issns,
        free_collections=["Crossref General"],
        oa_source_ids=["105"],
        excluded_source_ids=["55"],
    )
    got = {r["finc_id"]: r["x_oa"] for r in out.collect()}
    assert got == {
        "ai-49-a1": True,   # free collection
        "ai-49-a2": True,   # free collection
        "ai-28-b1": True,   # OA ISSN
        "ai-55-c1": False,  # excluded source
        "ai-55-c2": False,
    }


def test_oa_flag_list_input_matches_dataframe_input(spark):
    # r13: a bounded in-memory issn list compiles to a row-local
    # overlap literal (no explode/join/join-back) — same verdicts as
    # the DataFrame join path on every record, including null-element
    # issn arrays and records with no issns at all
    recs = is_records(spark)
    df_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(
            recs,
            oa_issns=spark.createDataFrame([("5555-6666",)], "issn string"),
            free_collections=["Crossref General"],
            oa_source_ids=["105"],
            excluded_source_ids=["55"],
        ).collect()
    }
    list_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(
            recs,
            oa_issns=["5555-6666", None],  # None entries are dropped
            free_collections=["Crossref General"],
            oa_source_ids=["105"],
            excluded_source_ids=["55"],
        ).collect()
    }
    assert list_out == df_out
    # above ISSN_JOIN_MAX the sequence falls back to the join path
    from siskin_spark.operators.licensing import ISSN_JOIN_MAX

    big = ["5555-6666"] + [f"{i:04d}-0000" for i in range(ISSN_JOIN_MAX + 1)]
    big_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(recs, oa_issns=big).collect()
    }
    small_out = {
        r["finc_id"]: r["x_oa"]
        for r in apply_oa_flag(recs, oa_issns=["5555-6666"]).collect()
    }
    assert big_out == small_out  # the padding issns match no record


def test_oa_flag_duplicate_issns_match_deduplicated_list(spark):
    # the broadcast OA list is not de-duplicated: it is semi-joined and
    # the hit set is distinct on the record id, so repeats change nothing
    recs = is_records(spark)

    def x_oa(issns):
        oa = spark.createDataFrame([(i,) for i in issns], "issn string")
        rows = apply_oa_flag(recs, oa_issns=oa).collect()
        assert len(rows) == recs.count()
        return {r["finc_id"]: r["x_oa"] for r in rows}

    dup = x_oa(["5555-6666", "3333-4444", "5555-6666", "3333-4444", "3333-4444"])
    assert dup == x_oa(["5555-6666", "3333-4444"])
    assert dup["ai-28-b1"] and dup["ai-49-a1"] and not dup["ai-55-c1"]


def test_doi_groupcover_chain(spark):
    """D5+J3 over domain rows: case-insensitive DOI grouping, preferred
    source keeps the label."""
    recs = is_records(spark)
    labeled = attach_labels(recs, FILTER_CONFIG, holdings=kbart_holdings(spark))
    local = labeled.select(
        F.col("finc_id"), F.col("finc_source_id"), F.col("doi"),
        F.col("x_labels").alias("labels"),
    ).filter(F.size("x_labels") > 0)
    covered = dedup.groupcover(local, key_col="doi", labels_col="labels")
    got = {r["finc_id"]: list(r["labels"]) for r in covered.collect()}
    # 10.1000/a1 vs 10.1000/A1 group: only a1 had labels -> keeps them
    assert got["ai-49-a1"] == ["DE-14"]


def test_redact(spark):
    recs = is_records(spark)
    out = redact(recs)
    assert "x_fulltext" not in out.columns


# -- embargo / volume-issue walls (ADVICE r2: these predicates had no
# coverage — every fixture value collapsed to the null-permissive True
# branch) -------------------------------------------------------------

_EMB_CONFIG = {"DE-EMB": {"holdings": {"files": ["file:kbart_emb"]}}}


def _emb_records(spark):
    import datetime

    from tests.fixtures import _rec
    from siskin_spark.schema import INTERMEDIATE_SCHEMA

    def rec(rid, issn, when, vol=None, iss=None):
        return _rec(
            finc_id=f"ai-9-{rid}", finc_record_id=rid, finc_source_id="9",
            rft_issn=[issn], x_date=when, x_labels=[],
            rft_volume=vol, rft_issue=iss,
        )

    rows = [
        # R1Y wall, now=2024-06-15 -> cutoff 2023-06-15
        rec("r-old", "1000-0001", datetime.datetime(2020, 1, 1)),   # kept
        rec("r-new", "1000-0001", datetime.datetime(2024, 1, 1)),   # walled
        # P2Y, cutoff 2022-06-15 -> ONLY newer-than-cutoff kept
        rec("p-old", "1000-0002", datetime.datetime(2020, 1, 1)),   # walled
        rec("p-new", "1000-0002", datetime.datetime(2024, 1, 1)),   # kept
        # (5,2)..(10,3) volume/issue window
        rec("v-below", "1000-0003", datetime.datetime(2000, 1, 1), "5", "1"),
        rec("v-first", "1000-0003", datetime.datetime(2000, 1, 1), "5", "2"),
        rec("v-mid", "1000-0003", datetime.datetime(2000, 1, 1), "7", "9"),
        rec("v-last", "1000-0003", datetime.datetime(2000, 1, 1), "10", "3"),
        rec("v-above", "1000-0003", datetime.datetime(2000, 1, 1), "10", "4"),
        rec("v-null", "1000-0003", datetime.datetime(2000, 1, 1)),  # permissive
    ]
    return spark.createDataFrame(rows, INTERMEDIATE_SCHEMA)


def test_kbart_embargo_and_volume_issue_walls(spark):
    import datetime

    out = attach_labels(
        _emb_records(spark),
        _EMB_CONFIG,
        holdings=kbart_holdings_embargo(spark),
        now=datetime.date(2024, 6, 15),
    )
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got == {
        "r-old": ["DE-EMB"], "r-new": [],
        "p-old": [], "p-new": ["DE-EMB"],
        "v-below": [], "v-first": ["DE-EMB"], "v-mid": ["DE-EMB"],
        "v-last": ["DE-EMB"], "v-above": [], "v-null": ["DE-EMB"],
    }


def test_embargo_values_require_now(spark):
    import pytest

    with pytest.raises(ValueError, match="now"):
        attach_labels(
            _emb_records(spark), _EMB_CONFIG,
            holdings=kbart_holdings_embargo(spark),
        )


def test_malformed_kbart_degrades_to_open_bounds(spark):
    # raw-TSV shape: every KBART column arrives as a string, junk mixed
    # in. Unparseable embargo/date/vol values must become null (open
    # bound / no restriction), never an ANSI cast abort mid-job.
    import datetime

    schema = (
        "file_uri string, publication_title string,"
        "print_identifier string, online_identifier string,"
        "date_first_issue_online string, date_last_issue_online string,"
        "embargo_info string, num_first_vol_online string,"
        "num_first_issue_online string, num_last_vol_online string,"
        "num_last_issue_online string"
    )
    rows = [
        # clean string-typed row: R1Y wall still enforced
        ("file:kbart_emb", "J R", "1000-0001", None,
         "1990-01-01", "2030-12-31", "R1Y", None, None, None, None),
        # junk everywhere: year-only date, garbage embargo and vols
        ("file:kbart_emb", "J X", "1000-0002", None,
         "2001", "junk", "noidea", "v5", "", "x", "?"),
    ]
    out = attach_labels(
        _emb_records(spark), _EMB_CONFIG,
        holdings=spark.createDataFrame(rows, schema),
        now=datetime.date(2024, 6, 15),
    )
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got["r-old"] == ["DE-EMB"] and got["r-new"] == []
    # the junk row's bounds all null -> permissive: both records match
    assert got["p-old"] == ["DE-EMB"] and got["p-new"] == ["DE-EMB"]


def test_embargo_column_all_null_needs_no_now(spark):
    # real KBART always has the embargo_info COLUMN; only parseable
    # VALUES make `now` mandatory
    got = _labels(spark)  # kbart_holdings: embargo_info all-null, no now
    assert got["ai-55-c1"] == ["DE-15", "FID-BBI-DE-23"]


def test_large_content_list_uses_broadcast_flag(spark):
    from siskin_spark.operators.licensing import LicensingCompiler

    ids = [f"pad-{i}" for i in range(1500)] + ["a1"]
    config = {"DE-CT": {"content": {"list": ids}}}
    comp = LicensingCompiler()
    out = comp.attach_labels(
        is_records(spark), config, id_col="finc_record_id"
    )
    # >1000 entries compiled to the join-backed flag, not a literal isin
    assert len(comp._content_leaves) == 1
    got = {r["finc_record_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got["a1"] == ["DE-CT"]
    assert got["a2"] == []


def test_solr_export_golden(spark):
    recs = is_records(spark)
    out = solr_export(recs)
    row = {r["id"]: r for r in out.collect()}["ai-49-a1"]
    assert row["title"] == "On Sorting Networks"
    assert row["publishDate"] == "1996"
    assert row["author"] == ["Doe, J."]
    assert row["recordtype"] == "is"
    book = {r["id"]: r for r in out.collect()}["ai-55-c1"]
    assert book["title"] == "The Baroque Violin"
    assert book["author"] == ["Smith, A."]


def test_openurl_golden(spark):
    recs = is_records(spark)
    out = recs.select("finc_id", openurl_params().alias("p"))
    p = {r["finc_id"]: r["p"] for r in out.collect()}
    a1 = p["ai-49-a1"]
    assert a1["rft.genre"] == "article"
    assert a1["rft.jtitle"] == "J%20Algo"
    assert a1["rft.issn"] == "1111-2222"
    assert a1["rft_id"] == "info%3Adoi%2F10.1000%2Fa1"
    assert a1["rft.aulast"] == "Doe"
    assert "rft.btitle" not in a1
    c1 = p["ai-55-c1"]
    assert c1["rft_val_fmt"] == "info%3Aofi%2Ffmt%3Akev%3Amtx%3Abook"
    assert c1["rft.btitle"] == "The%20Baroque%20Violin"
    assert "rft.jtitle" not in c1
    # raw context-object form (the reference's params dict) on request
    raw = {
        r["finc_id"]: r["p"]
        for r in recs.select("finc_id", openurl_params(encode=False).alias("p")).collect()
    }
    assert raw["ai-49-a1"]["rft_id"] == "info:doi/10.1000/a1"
    assert raw["ai-55-c1"]["rft.btitle"] == "The Baroque Violin"


def test_openurl_percent_encoding_golden(spark):
    """Reserved characters in values must not corrupt the k=v wire
    format (reference openurl.py:164-170 urlencodes). Table-driven in
    the reference's test_openurl.py style."""
    from siskin_spark.operators.export import openurl_query_string

    recs = is_records(spark).withColumn(
        "rft_atitle",
        F.when(F.col("finc_id") == "ai-49-a1", F.lit("Q&A: 50% of a=b, plus+tilde~"))
        .otherwise(F.col("rft_atitle")),
    )
    out = {
        r["finc_id"]: r["q"]
        for r in recs.select(
            "finc_id", openurl_query_string().alias("q")
        ).collect()
    }
    q = out["ai-49-a1"]
    assert "rft.atitle=Q%26A%3A%2050%25%20of%20a%3Db%2C%20plus%2Btilde%7E" in q
    # the serialized string still splits cleanly on & and =
    piece = [p for p in q.split("&") if p.startswith("rft.atitle=")]
    assert len(piece) == 1 and piece[0].count("=") == 1
    p = {
        r["finc_id"]: r["p"]
        for r in recs.select("finc_id", openurl_params().alias("p")).collect()
    }
    assert p["ai-49-a1"]["rft.atitle"] == "Q%26A%3A%2050%25%20of%20a%3Db%2C%20plus%2Btilde%7E"


def test_snapshot_latest_doi(spark):
    """D1 over domain rows: newest x_date per lowercased DOI."""
    recs = is_records(spark).filter(F.col("doi").isNotNull())
    keyed = recs.withColumn("_doi", F.lower(F.col("doi")))
    snap = dedup.snapshot_latest(keyed, ["_doi"], ["x_date", "finc_id"])
    got = sorted(r["finc_id"] for r in snap.collect())
    assert got == ["ai-28-b1", "ai-49-a2", "ai-55-c2"]


def test_attach_labels_large_issn_list_join_flag(spark):
    """An ISSN list above ISSN_JOIN_MAX compiles to a broadcast-join
    flag instead of a per-record arrays_overlap hash set; the label
    outcome must be identical to the inline-literal path on the same
    list (padding with misses changes the plan, never the matches).
    Covers records matching on rft_issn, on rft_eissn, and on
    neither."""
    from siskin_spark.operators.licensing import ISSN_JOIN_MAX

    recs = is_records(spark)
    hits = ["3333-4444", "7777-8888"]  # a1's eissn, c1/c2's issn
    padding = [f"{i:04d}-999X" for i in range(ISSN_JOIN_MAX + 10)]
    small_cfg = {"DE-X": {"issn": {"list": hits}}}
    big_cfg = {"DE-X": {"issn": {"list": hits + padding}}}
    want = {
        r["finc_id"]: list(r["x_labels"])
        for r in attach_labels(recs, small_cfg).collect()
    }
    got = {
        r["finc_id"]: list(r["x_labels"])
        for r in attach_labels(recs, big_cfg).collect()
    }
    assert got == want
    assert any(v == ["DE-X"] for v in got.values())  # some record matched
    assert any(v == [] for v in got.values())  # and some did not


def _big_issn_list(tag, hits=()):
    from siskin_spark.operators.licensing import ISSN_JOIN_MAX

    return list(hits) + [f"{i:04d}-{tag}" for i in range(ISSN_JOIN_MAX + 1)]


def test_more_than_63_join_leaves_match_smaller_configs(spark):
    """Past 63 join-backed leaves the flags fall back from one bit per
    leaf to arrays of flag names; the labels must equal those of the
    same leaves evaluated in configs small enough for the bitmask."""
    import datetime

    from siskin_spark.operators.licensing import CONTENT_ISIN_MAX, LicensingCompiler

    files = ["file:kbart_de15", "file:kbart_de14", "file:none"]
    issns = ["1111-2222", "3333-4444", "5555-6666", "7777-8888"]
    ids = ["ai-49-a1", "ai-28-b1", "ai-55-c2"]
    pad = [f"pad{i}" for i in range(CONTENT_ISIN_MAX + 1)]
    config = {}
    for i in range(30):  # distinct file sets; H00 has none (every file)
        fs = [files[k] for k in range(3) if (i + 1) >> k & 1]
        config[f"H{i:02d}"] = {"holdings": {"files": fs + [f"file:x{i}"] if i else []}}
    for i in range(30):  # distinct large ISSN lists, overlapping hits
        config[f"I{i:02d}"] = {"issn": {"list": _big_issn_list(
            f"{i:03d}X", [issns[i % 4], issns[(i * 3) % 4]][: 1 + i % 2]
        )}}
    for i in range(6):
        config[f"C{i}"] = {"content": {"list": ids[: i % 4] + pad + [f"c{i}"]}}
    config["NOT"] = {"not": {"or": [config["H01"], config["I01"]]}}

    def labels(cfg):
        comp = LicensingCompiler(
            holdings=kbart_holdings(spark), now=datetime.date(2024, 6, 15)
        )
        out = comp.attach_labels(is_records(spark), cfg)
        got = {r["finc_id"]: list(r["x_labels"]) for r in out.collect()}
        return got, comp._bits is None

    got, fallback = labels(config)
    assert fallback  # 66 join-backed leaves
    want: dict = {k: [] for k in got}
    isils = sorted(config)
    for part in (isils[:33], isils[33:]):
        sub, sub_fallback = labels({k: config[k] for k in part})
        assert not sub_fallback
        for k, v in sub.items():
            want[k] = sorted(want[k] + v)
    assert got == want
    # anchors: the file-less leaf honours the coverage window, the
    # content and ISSN flags hit, and `not` inverts a join flag
    assert "H00" in got["ai-49-a1"] and "H00" not in got["ai-55-c2"]
    assert "I01" in got["ai-55-c2"] and "C1" in got["ai-49-a1"]
    assert [k for k, v in got.items() if "NOT" in v] == ["ai-49-a2"]


def _tree_lines_under(plan: str, marker: str) -> list[str]:
    """The lines of the plan subtree rooted at the first line holding
    ``marker`` (deeper indentation than that line)."""
    lines = plan.splitlines()
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    top = next(i for i, ln in enumerate(lines) if marker in ln)
    sub = []
    for ln in lines[top + 1:]:
        if depth(ln) <= depth(lines[top]):
            break
        sub.append(ln)
    return sub


def test_join_leaves_share_one_broadcast_probe(spark, tmp_path):
    """Holdings leaves and large ISSN lists cost ONE broadcast join over
    ONE explode of the records: the executed plan scans the records
    twice (probe + the frame the flags join back to), the KBART table
    once, and has one BroadcastExchange, under the flag aggregate."""
    import datetime

    recs_dir, hold_dir = str(tmp_path / "records"), str(tmp_path / "kbart")
    is_records(spark).write.parquet(recs_dir)
    kbart_holdings(spark).write.parquet(hold_dir)
    config = {
        "H1": {"holdings": {"files": ["file:kbart_de15"]}},
        "H2": {"holdings": {"files": ["file:kbart_de15", "file:kbart_de14"]}},
        "H3": {"or": [{"holdings": {}}, {"source": ["49"]}]},
        "I1": {"issn": {"list": _big_issn_list("111X", ["3333-4444"])}},
        "I2": {"issn": {"list": _big_issn_list("222X", ["5555-6666"])}},
    }
    out = attach_labels(
        spark.read.parquet(recs_dir),
        config,
        holdings=spark.read.parquet(hold_dir),
        now=datetime.date(2024, 6, 15),
    )
    got = {r["finc_id"]: list(r["x_labels"]) for r in out.collect()}
    assert got["ai-49-a1"] == ["H1", "H2", "H3", "I1"]
    assert got["ai-28-b1"] == ["H2", "H3", "I2"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # (locations print truncated; the scanned columns tell the tables apart)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("finc_id" in ln for ln in scans) == 2, plan
    assert sum("print_identifier" in ln for ln in scans) == 1, plan
    assert len(scans) == 3, plan
    assert plan.count("BroadcastExchange") == 1, plan
    under_agg = _tree_lines_under(plan, "functions=[bit_or(")
    assert sum("BroadcastExchange" in ln for ln in under_agg) == 1, plan


# --- compiled once per config (licensing module doc) -------------------


def _count_compiles(monkeypatch) -> list:
    """Record every ``LicensingCompiler._compile`` call (one per tree
    node walked into a Column)."""
    from siskin_spark.operators.licensing import LicensingCompiler

    calls: list = []
    walk = LicensingCompiler._compile

    def counting(self, tree):
        calls.append(tree)
        return walk(self, tree)

    monkeypatch.setattr(LicensingCompiler, "_compile", counting)
    return calls


def test_attach_labels_reuses_an_equal_config(spark, monkeypatch):
    import copy

    calls = _count_compiles(monkeypatch)
    want = _labels(spark)
    calls.clear()
    out = attach_labels(
        is_records(spark), copy.deepcopy(FILTER_CONFIG), holdings=kbart_holdings(spark)
    )
    assert calls == []  # an equal config in a new dict: served compiled
    assert _got(out) == want
    changed = copy.deepcopy(FILTER_CONFIG)
    changed["DE-14"]["and"][0]["source"] = ["49", "28"]
    attach_labels(is_records(spark), changed, holdings=kbart_holdings(spark))
    assert calls  # a changed config compiles


def test_attach_labels_changed_config_changes_labels(spark):
    """One more entry in a large ISSN list (a join-backed flag folded
    into the memoized per-session ISSN table) or in an inline
    collection list is a new config: its labels are its own."""
    recs = is_records(spark)
    big = _big_issn_list("999X")
    assert _got(attach_labels(recs, {"DE-X": {"issn": {"list": big}}}))["ai-49-a1"] == []
    got = _got(attach_labels(recs, {"DE-X": {"issn": {"list": big + ["3333-4444"]}}}))
    assert got["ai-49-a1"] == ["DE-X"] and got["ai-49-a2"] == []

    colls = ["JSTOR Music Archive"]
    got = _got(attach_labels(recs, {"DE-C": {"collection": colls}}))
    assert got["ai-55-c1"] == ["DE-C"] and got["ai-49-a2"] == []
    got = _got(attach_labels(recs, {"DE-C": {"collection": colls + ["Crossref General"]}}))
    assert got["ai-55-c1"] == ["DE-C"] and got["ai-49-a2"] == ["DE-C"]


def test_attach_labels_rereads_rewritten_holdings(spark, tmp_path):
    """The holdings DataFrame is never memoized: a KBART parquet
    rewritten between two calls with the same config is what the second
    call joins (a day's new holdings files)."""
    import datetime

    path = str(tmp_path / "kbart")
    kbart_holdings(spark).write.parquet(path)
    label = lambda: _got(  # noqa: E731
        attach_labels(is_records(spark), FILTER_CONFIG, holdings=spark.read.parquet(path))
    )
    assert label()["ai-55-c1"] == ["DE-15", "FID-BBI-DE-23"]
    # the J Mus window now closes before c1's 1980 date
    kbart_holdings(spark).withColumn(
        "date_last_issue_online",
        F.when(F.col("print_identifier") == "7777-8888", F.lit(datetime.date(1970, 1, 1)))
        .otherwise(F.col("date_last_issue_online")),
    ).write.mode("overwrite").parquet(path)
    assert label()["ai-55-c1"] == ["FID-BBI-DE-23"]


def test_attach_labels_new_session(spark, monkeypatch):
    """The compiled Columns are shared by the gateway's sessions; the
    large-ISSN table is a LocalRelation bound to its session, so a new
    session tags with one of its own."""
    import json

    from siskin_spark.operators.licensing import LicensingCompiler

    config = dict(FILTER_CONFIG, I1={"issn": {"list": _big_issn_list("555X", ["5555-6666"])}})
    want = _got(attach_labels(is_records(spark), config, holdings=kbart_holdings(spark)))
    assert want["ai-28-b1"] == ["DE-15", "FID-BBI-DE-23", "I1"]
    calls = _count_compiles(monkeypatch)
    other = spark.newSession()
    comp = LicensingCompiler(holdings=kbart_holdings(other))
    assert _got(comp.attach_labels(is_records(other), config)) == want
    assert calls == []
    key = (json.dumps(config), comp.record_id_col)
    assert comp._issn_table(other, key).sparkSession is other


def test_attach_labels_keeps_caller_columns(spark):
    """``attach_labels`` drops only the flag columns it added, by name,
    and refuses records that already carry one of their names."""
    import pytest

    recs = is_records(spark).withColumn("_hold_note", F.lit("keep me"))
    out = attach_labels(recs, FILTER_CONFIG, holdings=kbart_holdings(spark))
    assert {r["_hold_note"] for r in out.collect()} == {"keep me"}
    assert _got(out) == _labels(spark)
    clash = is_records(spark).withColumn("_hold_0", F.lit(True))
    with pytest.raises(ValueError, match="_hold_0"):
        attach_labels(clash, FILTER_CONFIG, holdings=kbart_holdings(spark))
