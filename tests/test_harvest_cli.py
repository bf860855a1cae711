"""Tests: OAI resumption-token loop, paged REST retry budget, CLI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from siskin_spark.sources.harvest import oai_harvest, paged_rest_harvest


def test_oai_harvest_follows_resumption_tokens():
    pages = {
        "http://x/oai?verb=ListRecords&metadataPrefix=oai_dc&set=s1&from=2024-01-01": (
            "<r>p1</r><resumptionToken cursor='0'>tokA</resumptionToken>"
        ),
        "http://x/oai?verb=ListRecords&resumptionToken=tokA": (
            "<r>p2</r><resumptionToken>tokB</resumptionToken>"
        ),
        "http://x/oai?verb=ListRecords&resumptionToken=tokB": "<r>p3</r>",
    }
    fetched = []

    def fetch(url):
        fetched.append(url)
        return pages[url]

    got = list(
        oai_harvest(fetch, "http://x/oai", set_spec="s1", from_date="2024-01-01")
    )
    assert [g[3:5] for g in got] == ["p1", "p2", "p3"]
    assert len(fetched) == 3


def test_oai_harvest_empty_token_terminates():
    def fetch(url):
        return "<r>only</r><resumptionToken></resumptionToken>"

    assert len(list(oai_harvest(fetch, "http://x/oai"))) == 1


def test_paged_rest_retry_budget():
    calls = {"n": 0, "fails": 0}

    def fetch(url):
        calls["n"] += 1
        # page 1 fails twice before succeeding
        if url.endswith("page=1") and calls["fails"] < 2:
            calls["fails"] += 1
            raise OSError("rate limited")
        return f"body:{url}"

    slept = []
    got = list(
        paged_rest_harvest(
            fetch,
            url_for_page=lambda p: f"http://api?page={p}",
            is_last_page=lambda body: body.endswith("page=2"),
            sleep=slept.append,
        )
    )
    assert len(got) == 3
    assert slept == [1.0, 2.0]  # exponential backoff


def test_paged_rest_budget_exhausted():
    def fetch(url):
        raise OSError("down")

    with pytest.raises(OSError):
        list(
            paged_rest_harvest(
                fetch,
                url_for_page=lambda p: f"http://api?page={p}",
                is_last_page=lambda b: True,
                max_retries=2,
                sleep=lambda s: None,
            )
        )


def test_cli_queries_and_wc(capsys, sf_dir):
    from siskin_spark.cli import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary (oracle)" in out
    # every registered query carries an oracle since the sketch query
    # moved to its error-bound contract (round 3)
    assert "(rows-only)" not in out

    assert main(["wc", f"{sf_dir}/region.parquet"]) == 0
    assert capsys.readouterr().out.strip() == "5"


def test_cli_head_and_deps_dot(capsys, sf_dir, tmp_path):
    from siskin_spark.cli import main

    assert main(["head", f"{sf_dir}/region.parquet", "-n", "2"]) == 0
    out = capsys.readouterr().out
    assert "RECORD 0" in out  # vertical layout, first rows only

    # deps-dot over a module-level Pipeline attribute
    mod = tmp_path / "pipemod.py"
    mod.write_text(
        "from siskin_spark.plans.pipeline import Pipeline\n"
        "p = Pipeline(base='/tmp/x')\n"
        "p.stage('a')(lambda spark, inputs, params: None)\n"
        "p.stage('b', requires=['a'])(lambda spark, inputs, params: None)\n"
    )
    import sys

    sys.path.insert(0, str(tmp_path))
    try:
        assert main(["deps-dot", "pipemod:p"]) == 0
    finally:
        sys.path.remove(str(tmp_path))
    dot = capsys.readouterr().out
    assert 'digraph pipeline {' in dot
    assert '"a" -> "b";' in dot


def test_dblp_doi_list(spark):
    from siskin_spark.sources.longtail import dblp_doi_list

    recs = spark.createDataFrame(
        [
            (["https://doi.org/10.1000/a", "http://other.org/x"],),
            (["https://doi.org/10.1000/a"],),  # duplicate collapses
            (["https://doi.org/not-a-doi"],),  # fails the ^10 guard
            ([],),
        ],
        "ee array<string>",
    )
    got = [r.doi for r in dblp_doi_list(recs).collect()]
    assert got == ["10.1000/a"]

    scalar = spark.createDataFrame(
        [("https://doi.org/10.2/b",), ("https://example.org",)], "ee string"
    )
    assert [r.doi for r in dblp_doi_list(scalar).collect()] == ["10.2/b"]


def test_zdb_short_title_map(spark):
    from siskin_spark.sources.longtail import zdb_short_title_map

    desc = spark.createDataFrame(
        [
            (["ZsfM"], ["Zeitschrift fuer Musik"]),
            ([], ["No Short Title"]),  # skipped: empty short_titles
            (["ZsfM"], ["Another Title"]),  # contended key -> min title
        ],
        "short_titles array<string>, titles array<string>",
    )
    got = {r.short_title: r.title for r in zdb_short_title_map(desc).collect()}
    # deterministic min_by winner + the lowercased alias key
    assert got == {
        "ZsfM": "Another Title",
        "zsfm": "Another Title",
    }


def test_kalliope_append_collection(spark):
    from siskin_spark.sources.longtail import kalliope_append_collection

    recs = spark.createDataFrame(
        [("a", ["Nachlässe SLUB Dresden"]), ("b", None)],
        "id string, mega_collection array<string>",
    )
    got = {
        r.id: r.mega_collection
        for r in kalliope_append_collection(recs).collect()
    }
    # jq semantics: append to existing, null + [x] == [x]
    assert got["a"] == ["Nachlässe SLUB Dresden", "sid-140-col-nachlaesseslub"]
    assert got["b"] == ["sid-140-col-nachlaesseslub"]


def test_lissa_convert(spark):
    import pytest
    from siskin_spark.sources.longtail import lissa_convert

    schema = (
        "id string, title string, publishers array<string>, "
        "contributors array<string>, identifiers array<string>, "
        "description string, subjects array<string>, "
        "subject_synonyms array<string>, tags array<string>, "
        "date_published string, date_created string"
    )
    hits = spark.createDataFrame(
        [
            (
                "W1", "Open Metadata", ["LIS Press"], ["Ada L", "Bob M"],
                ["https://share.osf.io/w1", "http://dx.doi.org/10.5/w1"],
                "the quick brown fox jumps over the lazy dog and the cat",
                ["lib|metadata"], ["metadata"], ["open"],
                "2019-08-01T12:00:00.000000", None,
            ),
            (
                "W2", "No DOI here", [], ["Solo C"],
                ["https://share.osf.io/w2"],
                "short", None, None, ["tag1"],
                None, "2018-01-02T00:00:00",
            ),
        ],
        schema,
    )
    got = {r.finc_record_id: r for r in lissa_convert(hits).collect()}

    w1 = got["W1"]
    assert w1.finc_id == "ai-179-W1"
    assert w1.finc_mega_collection == ["LISSA", "sid-179-col-lissa"]
    assert w1.doi == "10.5/w1"  # dx.doi.org prefix stripped
    # only http(s) identifiers survive into url
    assert w1.url == ["https://share.osf.io/w1", "http://dx.doi.org/10.5/w1"]
    assert [a.rft_au for a in w1.authors] == ["Ada L", "Bob M"]
    # split on | + dedup across subjects/synonyms/tags
    assert sorted(w1.x_subjects) == ["lib", "metadata", "open"]
    # reference truncation: first 19 chars of the raw date + 'Z'
    assert w1.x_date == "2019-08-01T12:00:00Z"
    assert w1.rft_date == "2019-08-01"
    assert w1.language == "eng"  # detected from the >20-char abstract

    w2 = got["W2"]
    assert w2.doi is None
    assert w2.rft_date == "2018-01-02"  # date_created fallback
    assert w2.language is None  # abstract too short, no own language

    # a record with NO date fails the batch like the reference's raise
    bad = spark.createDataFrame(
        [("W3", "t", [], [], [], "d", [], [], [], None, None)], schema
    )
    with pytest.raises(Exception, match="did not find any date field"):
        lissa_convert(bad).collect()


def test_cli_deps_status_run(capsys, tmp_path, spark):
    """`deps` / `status` / `run` verbs (reference entry point 1,
    `siskin run TASK` + `siskin deps`/`status`, cli.py:211-298): run
    executes the stage chain through the memoized runner, status flips
    to done, deps prints execution order."""
    import sys

    from siskin_spark.cli import main

    mod = tmp_path / "pipemod2.py"
    mod.write_text(
        "from siskin_spark.plans.pipeline import Pipeline\n"
        f"p = Pipeline(base='{tmp_path}/out')\n"
        "@p.stage('a')\n"
        "def a(spark, inputs, params):\n"
        "    return spark.range(3).toDF('n')\n"
        "@p.stage('b', requires=['a'])\n"
        "def b(spark, inputs, params):\n"
        "    return inputs['a'].selectExpr('n * 2 AS n2')\n"
    )
    sys.path.insert(0, str(tmp_path))
    try:
        assert main(["deps", "pipemod2:p:b"]) == 0
        assert capsys.readouterr().out.split() == ["a", "b"]

        assert main(["status", "pipemod2:p", "--date", "2026-01-02"]) == 0
        assert "pending b" in capsys.readouterr().out

        assert main(["run", "pipemod2:p:b", "--date", "2026-01-02"]) == 0
        out = capsys.readouterr().out
        assert "b: 3 rows" in out

        assert main(["status", "pipemod2:p", "--date", "2026-01-02"]) == 0
        status = capsys.readouterr().out
        assert "done    a" in status and "done    b" in status
    finally:
        sys.path.remove(str(tmp_path))


def test_core_pickup_urls_and_fetch():
    from siskin_spark.sources.longtail import (
        CORE_CLOSEST,
        core_dataset_url,
        core_pickup,
    )

    assert (
        core_dataset_url()
        == "https://core.ac.uk/datasets/core_2018-03-01_metadata.tar"
    )
    assert CORE_CLOSEST == "2018-03-01"  # reference core.py:72-73 pin
    assert core_dataset_url("fulltext", "2019-01-02").endswith(
        "core_2019-01-02_fulltext.tar"
    )
    with pytest.raises(ValueError):
        core_dataset_url("everything")
    fetched = []

    def fetch(url):
        fetched.append(url)
        return b"tarbytes"

    assert core_pickup(fetch, "fulltext") == b"tarbytes"
    assert fetched == [
        "https://core.ac.uk/datasets/core_2018-03-01_fulltext.tar"
    ]


def test_ia_pickup_path_preserving(tmp_path):
    from siskin_spark.sources.longtail import ia_item_path, ia_pickup

    itempath = "fatcat_bulk_exports_2022-11-24/release_extid.tsv.gz"
    dest = ia_pickup(lambda p: b"blob:" + p.encode(), itempath, str(tmp_path))
    # reference ia.py:41-43: output lives UNDER the item path
    assert dest == str(tmp_path / itempath)
    assert open(dest, "rb").read() == b"blob:" + itempath.encode()
    # atomic publish: no .part residue
    assert not (tmp_path / (itempath + ".part")).exists()
    # idempotent re-run overwrites in place
    ia_pickup(lambda p: b"v2", itempath, str(tmp_path))
    assert open(dest, "rb").read() == b"v2"
    with pytest.raises(ValueError):
        ia_item_path("../../etc/passwd", str(tmp_path))
    with pytest.raises(ValueError):
        ia_item_path("item/../../../escape", str(tmp_path))
    # a name merely BEGINNING with two dots is legitimate, not an escape
    assert ia_item_path("..config/file.tsv", str(tmp_path)) == str(
        tmp_path / "..config" / "file.tsv"
    )


def test_cli_less_streams_to_pager(sf_dir, tmp_path):
    from siskin_spark.cli import main

    out = tmp_path / "paged.ndjson"
    # a 'pager' that just captures stdin proves the stream plumbing
    # without a tty; quoting handles the tmp path
    assert main(["less", f"{sf_dir}/region.parquet", "--pager", f"cat > '{out}'"]) == 0
    import json

    lines = [json.loads(l) for l in out.read_text().splitlines()]
    assert len(lines) == 5  # region has 5 rows at every SF
    assert {"r_regionkey", "r_name"} <= set(lines[0])
    # a missing pager command must surface as a non-zero exit, not
    # read as success to scripts chaining on the CLI's status
    rc = main(
        ["less", f"{sf_dir}/region.parquet", "--pager",
         "no-such-pager-cmd-zz"]
    )
    assert rc != 0


def test_cli_neardup_index_and_batch(capsys, tmp_path, spark):
    """End-to-end through the CLI surface: build an index over a doc
    table, dedup a batch against it, write pairs + survivors."""
    from siskin_spark.cli import main

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(6)],
        "doc_id long, text string",
    )
    docs_path = str(tmp_path / "cli_docs")
    corpus.write.parquet(docs_path)
    idx = str(tmp_path / "cli_idx")
    assert main(["neardup-index", docs_path, idx]) == 0
    assert "6 docs" in capsys.readouterr().out

    batch = spark.createDataFrame(
        [(100, corpus.filter("doc_id = 2").first()["text"]),  # dup of 2
         (101, "totally different words nothing shared here at all "
               "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    batch_path = str(tmp_path / "cli_batch")
    batch.write.parquet(batch_path)
    out_dir = str(tmp_path / "cli_out")
    assert main(["neardup-batch", batch_path, idx, out_dir]) == 0
    out = capsys.readouterr().out
    assert "pairs: 1" in out and "kept: 1" in out
    got = spark.read.parquet(out_dir + "/pairs").first()
    assert (got["doc_id"], got["dup_of"]) == (100, 2)
    kept = spark.read.parquet(out_dir + "/kept").first()
    assert kept["doc_id"] == 101


def test_cli_curate_end_to_end(capsys, tmp_path, spark):
    """The curation chain through the CLI: quality + decontaminate +
    mix + sample + pack, writing layout and writer manifest."""
    from siskin_spark.cli import main

    rows = []
    for i in range(60):
        lang = ["en", "en", "de", "fr"][i % 4]
        # long diverse text with enough English stopwords to pass the
        # quality gate
        body = " ".join(f"tok{i}x{j}" for j in range(12))
        rows.append((i, f"the a of and in to is {body}", lang))
    # a contaminated doc: shares an 8-gram with the benchmark below
    rows.append((900, "the quick brown fox jumps over the lazy dog tonight "
                      "and the a of and in to is extra words here", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    docs_path = str(tmp_path / "cur_docs")
    docs.write.parquet(docs_path)
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog tonight",)], ["text"]
    )
    bench_path = str(tmp_path / "cur_bench")
    bench.write.parquet(bench_path)

    out_dir = str(tmp_path / "cur_out")
    assert main([
        "curate", docs_path, out_dir,
        "--quality",
        "--decontaminate", bench_path,
        "--mix", "en=2", "--mix", "de=1", "--mix", "fr=1",
        "--sample", "0.9",
        "--pack", "32",
    ]) == 0
    out = capsys.readouterr().out
    assert "docs: 61 ->" in out and "sequences:" in out
    layout = spark.read.parquet(out_dir + "/docs")
    assert {"start_tok", "seq_first", "seq_last"} <= set(layout.columns)
    ids = {r["doc_id"] for r in layout.select("doc_id").collect()}
    assert 900 not in ids  # decontaminated
    man = spark.read.parquet(out_dir + "/manifest")
    assert man.count() > 0


def test_cli_curate_sample_independent_of_mix(capsys, tmp_path, spark):
    """--sample after --mix must thin EVERY stratum, not just the
    binding one: same-seed hash draws over the same key are perfectly
    correlated (keep = h < min(mix_frac, sample_frac)), so before the
    per-stage seed offset a stratum whose mix fraction <= sample was
    untouched by --sample, silently distorting the target mixture."""
    from siskin_spark.cli import main

    rows = [(i, f"doc body {i}", "en" if i < 200 else "de") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    docs_path = str(tmp_path / "mix_docs")
    docs.write.parquet(docs_path)

    # equal weights, 200 en vs 100 de -> en downsamples to ~0.5, de keeps 1.0
    mix_args = ["--mix", "en=1", "--mix", "de=1"]
    out_mix = str(tmp_path / "out_mix")
    assert main(["curate", docs_path, out_mix, *mix_args]) == 0
    out_both = str(tmp_path / "out_both")
    assert main(
        ["curate", docs_path, out_both, *mix_args, "--sample", "0.5"]
    ) == 0
    capsys.readouterr()

    def by_lang(path):
        return {
            r["lang"]: r["n"]
            for r in spark.read.parquet(path + "/docs")
            .groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
    mixed, sampled = by_lang(out_mix), by_lang(out_both)
    # correlated draws left the en stratum (mix frac ~0.5 <= 0.5) EXACTLY
    # equal; independent draws thin both strata to ~half
    assert sampled["en"] < mixed["en"]
    assert sampled["de"] < mixed["de"]
    for lang in ("en", "de"):
        assert 0.2 * mixed[lang] < sampled[lang] < 0.8 * mixed[lang]


def test_cli_curate_new_stages(capsys, tmp_path, spark):
    """--wd-dedup, --clf and --cap compose into the chain: within-doc
    repeats collapse, the classifier gate filters on the hashed-BoW
    logit, and the per-domain cap bounds each source's contribution."""
    import json

    from siskin_spark.cli import main

    rows = [(i, f"alpha beta alpha gamma{i}", "s" + str(i % 2)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs_path = str(tmp_path / "ns_docs")
    docs.write.parquet(docs_path)

    # weights that reward 'alpha' strongly: every doc passes threshold 0
    import hashlib

    w = [0] * 256
    w[int(hashlib.md5(b"5:alpha").hexdigest()[:2], 16)] = 100
    clf_path = str(tmp_path / "w.json")
    with open(clf_path, "w") as fh:
        json.dump(w, fh)

    out_dir = str(tmp_path / "ns_out")
    assert main([
        "curate", docs_path, out_dir,
        "--wd-dedup", "--clf", clf_path, "--clf-threshold", "50",
        "--cap", "10", "--cap-exact", "--seed", "5",
    ]) == 0
    capsys.readouterr()
    got = spark.read.parquet(out_dir + "/docs")
    # wd-dedup collapsed the repeated 'alpha' (token granularity needs
    # sep=' '; default newline sep leaves one-line docs intact, so
    # check the cap+clf effects and row survival instead)
    by_src = {r["source"]: r["n"] for r in got.groupBy("source")
              .agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in by_src.values())  # exact cap per domain
    assert set(by_src) == {"s0", "s1"}

    # classifier threshold above any doc's logit drops everything
    out2 = str(tmp_path / "ns_out2")
    assert main([
        "curate", docs_path, out2,
        "--clf", clf_path, "--clf-threshold", "1000000", "--seed", "5",
    ]) == 0
    capsys.readouterr()
    assert spark.read.parquet(out2 + "/docs").count() == 0


def test_cli_curate_clf_family(capsys, tmp_path, spark):
    """--clf-family xxhash64 scores with the scale hash family: weights
    keyed to the xxhash64 bucket of 'alpha' pass the gate under
    xxhash64 but (with md5 bucketing) not under the default."""
    import json

    from siskin_spark.cli import main

    rows = [(i, "alpha beta", "s0") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs_path = str(tmp_path / "fam_docs")
    docs.write.parquet(docs_path)

    bx = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(5), F.lit("alpha")), F.lit(256)).alias("b")
    ).first()["b"]
    w = [0] * 256
    w[int(bx)] = 100
    clf_path = str(tmp_path / "wx.json")
    with open(clf_path, "w") as fh:
        json.dump(w, fh)

    out_x = str(tmp_path / "fam_out_x")
    assert main([
        "curate", docs_path, out_x,
        "--clf", clf_path, "--clf-threshold", "50",
        "--clf-family", "xxhash64", "--seed", "5",
    ]) == 0
    capsys.readouterr()
    assert spark.read.parquet(out_x + "/docs").count() == 10


def test_cli_semdedup_end_to_end(capsys, tmp_path, spark):
    """semdedup command: fit -> guarded within-cell pairs -> keep-first
    collapse; planted exact duplicates drop, everything else survives."""
    import numpy as np

    from siskin_spark.cli import main

    rng = np.random.default_rng(5)
    base = rng.normal(size=(80, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant 5 exact duplicates under larger ids
    rows += [(1000 + i, [float(x) for x in base[i]]) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vecs_path = str(tmp_path / "sd_vecs")
    vecs.write.parquet(vecs_path)

    out_dir = str(tmp_path / "sd_out")
    assert main([
        "semdedup", vecs_path, out_dir,
        "--k", "4", "--threshold", "0.999", "--engine", "gemm",
    ]) == 0
    capsys.readouterr()
    pairs = {(r["id_a"], r["id_b"])
             for r in spark.read.parquet(out_dir + "/pairs").collect()}
    assert pairs == {(i, 1000 + i) for i in range(5)}
    kept = {r["vec_id"] for r in spark.read.parquet(out_dir + "/kept").collect()}
    assert kept == set(range(80))


def test_cli_curate_url_dedup(capsys, tmp_path, spark):
    """--url-dedup: scheme/tracking variants of one page collapse to a
    single surviving doc (smallest id), distinct pages all survive."""
    from siskin_spark.cli import main

    rows = [
        (0, "a", "https://WWW.Site.com/p?utm_source=x"),
        (1, "b", "http://site.com/p"),          # same page as 0
        (2, "c", "site.com/p/"),                # same page as 0
        (3, "d", "https://site.com/q"),         # distinct
        (4, "e", "https://other.org/"),         # distinct
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    docs_path = str(tmp_path / "ud_docs")
    docs.write.parquet(docs_path)

    out_dir = str(tmp_path / "ud_out")
    assert main(["curate", docs_path, out_dir, "--url-dedup", "url"]) == 0
    capsys.readouterr()
    kept = {r["doc_id"] for r in spark.read.parquet(out_dir + "/docs").collect()}
    assert kept == {0, 3, 4}


def test_cli_curate_url_dedup_null_urls_survive(capsys, tmp_path, spark):
    """NULL urls must NOT collapse into one group: every url-less doc
    keeps its own per-row key and survives."""
    from siskin_spark.cli import main

    rows = [
        (0, "a", "https://site.com/p"),
        (1, "b", None),
        (2, "c", None),
        (3, "d", "site.com/p"),  # dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    docs_path = str(tmp_path / "un_docs")
    docs.write.parquet(docs_path)

    out_dir = str(tmp_path / "un_out")
    assert main(["curate", docs_path, out_dir, "--url-dedup", "url"]) == 0
    capsys.readouterr()
    kept = {r["doc_id"] for r in spark.read.parquet(out_dir + "/docs").collect()}
    assert kept == {0, 1, 2}


def test_cli_curate_span_dedup(capsys, tmp_path, spark):
    """--span-dedup K cuts corpus-duplicated K-token spans from the
    chain; --span-keep-first exempts the earliest occurrence."""
    from siskin_spark.cli import main

    boiler = "one two three four"
    rows = [
        (0, f"head0 {boiler} tail0"),
        (1, f"{boiler} tail1"),
        (2, "totally unique words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs_path = str(tmp_path / "sp_docs")
    docs.write.parquet(docs_path)

    out_dir = str(tmp_path / "sp_out")
    assert main(["curate", docs_path, out_dir, "--span-dedup", "4"]) == 0
    capsys.readouterr()
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out_dir + "/docs").collect()}
    assert got == {0: "head0 tail0", 1: "tail1",
                   2: "totally unique words here"}

    out_kf = str(tmp_path / "sp_out_kf")
    assert main(["curate", docs_path, out_kf,
                 "--span-dedup", "4", "--span-keep-first"]) == 0
    capsys.readouterr()
    got_kf = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(out_kf + "/docs").collect()}
    assert got_kf[0] == f"head0 {boiler} tail0" and got_kf[1] == "tail1"


def test_cli_curate_split_labels(capsys, tmp_path, spark):
    """--split appends a deterministic multi-way label column: every
    row labeled, proportions near the requested fractions, and the
    labels match split_label's reference hash exactly."""
    from siskin_spark.cli import main
    from siskin_spark.operators.curation import split_label

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(500)], "doc_id long, text string"
    )
    docs_path = str(tmp_path / "sp_docs")
    docs.write.parquet(docs_path)

    out_dir = str(tmp_path / "sp_out")
    assert main(
        ["curate", docs_path, out_dir, "--split", "train=0.8,val=0.1,test=0.1"]
    ) == 0
    capsys.readouterr()
    out = spark.read.parquet(out_dir + "/docs")
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 500 and None not in got.values()
    # exactly the library draw at the CLI's seed offset (seed 0 -> +3)
    want = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            split_label(
                F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3
            ).alias("s"),
        ).collect()
    }
    assert got == want
    from collections import Counter

    cnt = Counter(got.values())
    assert cnt["train"] > 350 and cnt["val"] > 20 and cnt["test"] > 20


def test_cli_split_mix_spec_validation(tmp_path, spark):
    """ADVICE r10: a malformed --split/--mix spec must die with a clean
    CLI error, not a bare float('') traceback — and a duplicated name
    must be rejected instead of silently overwriting (fractions that
    only sum right by accident)."""
    import pytest as _pytest

    from siskin_spark.cli import _parse_named_fractions, main

    assert _parse_named_fractions("train=0.9, val =0.1", "--split") == {
        "train": 0.9, "val": 0.1,
    }
    with _pytest.raises(SystemExit, match="bad part 'val'"):
        _parse_named_fractions("train=0.9,val", "--split")
    with _pytest.raises(SystemExit, match="non-numeric fraction"):
        _parse_named_fractions("train=lots", "--split")
    with _pytest.raises(SystemExit, match="duplicate name 'train'"):
        _parse_named_fractions("train=0.5,train=0.5", "--split")
    with _pytest.raises(SystemExit, match="bad part '=0.5'"):
        _parse_named_fractions("=0.5", "--mix")

    # end to end: the curate verb surfaces the same clean error
    docs = spark.createDataFrame(
        [(1, "t")], "doc_id long, text string"
    )
    docs_path = str(tmp_path / "val_docs")
    docs.write.parquet(docs_path)
    with _pytest.raises(SystemExit, match="--split"):
        main(["curate", docs_path, str(tmp_path / "val_out"),
              "--split", "train=0.9,val"])


def test_cli_semdedup_index_and_batch(capsys, tmp_path, spark):
    """semdedup-index builds the persisted cell index; semdedup-batch
    admits a batch against it, writing pairs and survivors; --append
    extends the index under the frozen centroids."""
    import numpy as np

    from siskin_spark.cli import main

    rng = np.random.default_rng(17)
    X = rng.normal(size=(60, 16))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    vec_path = str(tmp_path / "vecs")
    corpus.write.parquet(vec_path)
    idx = str(tmp_path / "semidx")
    assert main([
        "semdedup-index", vec_path, idx, "--k", "4", "--sample", "60",
    ]) == 0
    capsys.readouterr()

    # batch: an exact copy of corpus vec 5 plus one novel vector
    w = rng.normal(size=16)
    batch = spark.createDataFrame(
        [(100, [float(x) for x in X[5]]),
         (101, [float(x) for x in w / np.linalg.norm(w)])],
        "vec_id long, embedding array<float>",
    )
    b_path = str(tmp_path / "batch")
    batch.write.parquet(b_path)
    out = str(tmp_path / "out")
    assert main([
        "semdedup-batch", b_path, idx, out, "--threshold", "0.95",
    ]) == 0
    capsys.readouterr()
    pairs = {(r["vec_id"], r["dup_of"])
             for r in spark.read.parquet(out + "/pairs").collect()}
    assert (100, 5) in pairs
    kept = {r["vec_id"] for r in spark.read.parquet(out + "/kept").collect()}
    assert kept == {101}

    # append the survivor; a copy of it must now hit
    k_path = str(tmp_path / "kept_in")
    spark.read.parquet(out + "/kept").write.parquet(k_path)
    assert main(["semdedup-index", k_path, idx, "--append", "--batch-id", "day-1"]) == 0
    capsys.readouterr()
    b2 = spark.createDataFrame(
        [(200, [float(x) for x in w / np.linalg.norm(w)])],
        "vec_id long, embedding array<float>",
    )
    b2_path = str(tmp_path / "batch2")
    b2.write.parquet(b2_path)
    out2 = str(tmp_path / "out2")
    assert main(["semdedup-batch", b2_path, idx, out2]) == 0
    capsys.readouterr()
    p2 = {(r["vec_id"], r["dup_of"])
          for r in spark.read.parquet(out2 + "/pairs").collect()}
    assert (200, 101) in p2

    # r13 serving verb: top-k neighbors from the same index — the
    # batch's exact copy of corpus vec 5 retrieves 5 at rank 1
    s_out = str(tmp_path / "search_out")
    assert main([
        "semdedup-search", b_path, idx, s_out, "--k", "2", "--nprobe", "2",
    ]) == 0
    assert "neighbor row(s)" in capsys.readouterr().out
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in spark.read.parquet(s_out).collect()
    }
    assert got[(100, 1)] == 5


def test_cli_daily_oneliner_append_survivors_and_compact(capsys, tmp_path, spark):
    """r11: the daily-pipeline one-liner — `semdedup-batch
    --append-survivors ID` admits, keeps, and idempotently extends the
    index in one verb (a replayed day is skipped whole: the index,
    pairs/ and kept/ are left as they were), `semdedup-compact`
    re-packs the accumulated generations without changing results;
    the neardup twin drives the same flow over text."""
    import os

    import numpy as np

    from siskin_spark.cli import main

    rng = np.random.default_rng(23)
    X = rng.normal(size=(50, 16))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    vec_path = str(tmp_path / "d_vecs")
    corpus.write.parquet(vec_path)
    idx = str(tmp_path / "d_semidx")
    assert main(["semdedup-index", vec_path, idx, "--k", "4",
                 "--sample", "50"]) == 0

    w = rng.normal(size=16)
    batch = spark.createDataFrame(
        [(100, [float(x) for x in X[5]]),   # dup of corpus 5 -> dropped
         (101, [float(x) for x in w / np.linalg.norm(w)])],  # survivor
        "vec_id long, embedding array<float>",
    )
    b_path = str(tmp_path / "d_batch")
    batch.write.parquet(b_path)
    out = str(tmp_path / "d_out")
    one = ["semdedup-batch", b_path, idx, out,
           "--threshold", "0.95", "--append-survivors", "day-1"]
    assert main(one) == 0
    capsys.readouterr()
    assert {r["vec_id"] for r in
            spark.read.parquet(out + "/kept").collect()} == {101}
    n_cells = spark.read.parquet(idx + "/cells").count()
    assert n_cells == 51  # survivor appended, dup not

    def listings(out_dir):
        return {t: sorted(os.listdir(os.path.join(out_dir, t)))
                for t in ("pairs", "kept")}

    # replayed day: skipped whole — index, pairs/ and kept/ UNCHANGED
    landed = listings(out)
    assert main(one) == 0
    assert "already committed" in capsys.readouterr().out
    assert spark.read.parquet(idx + "/cells").count() == 51
    assert listings(out) == landed
    # compact the accumulated generations; results unchanged
    assert main(["semdedup-compact", idx]) == 0
    capsys.readouterr()
    assert spark.read.parquet(idx + "/cells").count() == 51
    probe = spark.createDataFrame(
        [(200, [float(x) for x in w / np.linalg.norm(w)])],
        "vec_id long, embedding array<float>",
    )
    p_path = str(tmp_path / "d_probe")
    probe.write.parquet(p_path)
    out2 = str(tmp_path / "d_out2")
    assert main(["semdedup-batch", p_path, idx, out2]) == 0
    capsys.readouterr()
    assert (200, 101) in {
        (r["vec_id"], r["dup_of"])
        for r in spark.read.parquet(out2 + "/pairs").collect()
    }

    # neardup twin: one-liner + replay no-op on the text index
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(40))) for i in range(20)],
        "doc_id long, text string",
    )
    d_path = str(tmp_path / "d_docs")
    docs.write.parquet(d_path)
    nidx = str(tmp_path / "d_ndidx")
    assert main(["neardup-index", d_path, nidx]) == 0
    nb = spark.createDataFrame(
        [(100, " ".join(f"w3_{j}" for j in range(40))),   # dup of doc 3
         (101, " ".join(f"x{j}" for j in range(40)))],    # survivor
        "doc_id long, text string",
    )
    nb_path = str(tmp_path / "d_nbatch")
    nb.write.parquet(nb_path)
    nout = str(tmp_path / "d_nout")
    none = ["neardup-batch", nb_path, nidx, nout,
            "--threshold", "0.9", "--append-survivors", "day-1"]
    assert main(none) == 0
    capsys.readouterr()
    assert {r["doc_id"] for r in
            spark.read.parquet(nout + "/kept").collect()} == {101}
    n_sh = spark.read.parquet(nidx + "/shingles").count()
    landed = listings(nout)
    assert main(none) == 0  # replayed day
    assert "already committed" in capsys.readouterr().out
    assert spark.read.parquet(nidx + "/shingles").count() == n_sh
    assert listings(nout) == landed

    # r12 retraction verbs: literal-id removal rewrites the index and
    # the removed vector/doc stops matching
    assert main(["semdedup-remove", "101", idx]) == 0
    assert "removed 1" in capsys.readouterr().out
    assert spark.read.parquet(idx + "/cells").count() == 50
    out3 = str(tmp_path / "d_out3")
    assert main(["semdedup-batch", p_path, idx, out3]) == 0
    capsys.readouterr()
    assert spark.read.parquet(out3 + "/pairs").count() == 0
    assert main(["neardup-remove", "3,101", nidx]) == 0
    assert "removed 2" in capsys.readouterr().out
    assert spark.read.parquet(nidx + "/shingles") \
        .filter("doc_id in (3, 101)").count() == 0

    # r12 drift gauge verb: one JSON line of fit stats
    import json as _json

    assert main(["semdedup-drift", p_path, idx]) == 0
    drift = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(drift) == {"index", "batch", "drift"}
    assert drift["batch"]["n"] == 1


def test_cli_corpus_diff(capsys, tmp_path, spark):
    """r11 corpus-diff verb: change-rate-sized (id, status) delta
    between two snapshots, counts printed."""
    from siskin_spark.cli import main

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"
    )
    po, pn = str(tmp_path / "cd_old"), str(tmp_path / "cd_new")
    old.write.parquet(po)
    new.write.parquet(pn)
    out = str(tmp_path / "cd_out")
    assert main(["corpus-diff", po, pn, out]) == 0
    printed = capsys.readouterr().out
    assert "1 added, 1 changed, 1 removed" in printed
    got = {(r["doc_id"], r["status"])
           for r in spark.read.parquet(out).collect()}
    assert got == {(4, "added"), (2, "changed"), (3, "removed")}


def test_cli_curate_token_budget(capsys, tmp_path, spark):
    """r11: curate --token-budget admits docs in hash order to an
    absolute token target; --token-mix fills per-stratum budgets."""
    from siskin_spark.cli import main

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5)),
          "web" if i % 2 == 0 else "code") for i in range(100)],
        "doc_id long, text string, dom string",
    )
    docs_path = str(tmp_path / "tb_docs")
    docs.write.parquet(docs_path)
    out = str(tmp_path / "tb_out")
    assert main(["curate", docs_path, out, "--token-budget", "100"]) == 0
    capsys.readouterr()
    got = spark.read.parquet(out + "/docs")
    assert got.count() == 20  # 5 tokens/doc -> exactly 20 admitted
    assert "n_tokens" not in got.columns  # chain column hygiene

    out2 = str(tmp_path / "tb_out2")
    assert main([
        "curate", docs_path, out2, "--strata-col", "dom",
        "--token-mix", "web=50", "--token-mix", "code=25",
    ]) == 0
    capsys.readouterr()
    from pyspark.sql import functions as F
    per = {r["dom"]: r["n"] for r in
           spark.read.parquet(out2 + "/docs")
           .groupBy("dom").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"web": 10, "code": 5}

    import pytest as _pytest
    with _pytest.raises(SystemExit, match="exclusive"):
        main(["curate", docs_path, str(tmp_path / "tb_x"),
              "--token-budget", "10", "--token-mix", "web=5"])
