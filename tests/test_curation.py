"""Curation operators: deterministic sampling, stratified domain
mixing, benchmark decontamination, repetition quality signals."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from siskin_spark.functions.text import dup_line_fraction, with_top_ngram_frac
from siskin_spark.operators import curation as C


def _expected_mark(key: str, fraction: float, seed: int = 0) -> bool:
    h = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8]
    return h < C.hex_threshold(fraction)


# ---------------------------------------------------------------------------
# hex thresholds / deterministic sampling


def test_hex_threshold_bounds():
    assert C.hex_threshold(0.0) == "00000000"
    assert C.hex_threshold(1.0) == "g"  # sorts after every hex digit
    assert C.hex_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        C.hex_threshold(1.5)
    with pytest.raises(ValueError):
        C.hex_threshold(-0.1)


def test_deterministic_sample_matches_reference_hash(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    kept = {r[0] for r in C.deterministic_sample(df, 0.3).select("doc_id").collect()}
    expected = {i for i in range(2000) if _expected_mark(str(i), 0.3)}
    assert kept == expected
    # ~30% with hash-uniform tolerance
    assert 0.25 < len(kept) / 2000 < 0.35


def test_deterministic_sample_is_stable_and_nested(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    k1 = {r[0] for r in C.deterministic_sample(df, 0.2).collect()}
    k2 = {r[0] for r in C.deterministic_sample(df, 0.2).collect()}
    assert k1 == k2  # reproducible across runs
    # threshold-based draws are nested: the 10% sample is a subset of 20%
    k_small = {r[0] for r in C.deterministic_sample(df, 0.1).collect()}
    assert k_small <= k1


def test_independent_seeds_decorrelate(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r[0] for r in C.deterministic_sample(df, 0.5, seed=0).collect()}
    b = {r[0] for r in C.deterministic_sample(df, 0.5, seed=1).collect()}
    assert a != b
    # overlap of two independent 50% draws ~ 25% of the corpus
    assert 0.18 < len(a & b) / 4000 < 0.32


# ---------------------------------------------------------------------------
# stratified sampling / domain mix


def _docs(spark, counts: dict[str, int]):
    rows, i = [], 0
    for lang, n in counts.items():
        for _ in range(n):
            rows.append(Row(doc_id=i, lang=lang))
            i += 1
    return spark.createDataFrame(rows)


def test_stratified_sample_per_stratum_fractions(spark):
    df = _docs(spark, {"en": 1000, "de": 1000})
    out = C.stratified_sample(df, {"en": 0.5, "de": 0.1})
    got = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert 400 < got["en"] < 600
    assert 50 < got.get("de", 0) < 175
    # default 0.0: unknown strata are dropped entirely
    df2 = _docs(spark, {"en": 100, "fr": 100})
    out2 = C.stratified_sample(df2, {"en": 1.0})
    assert {r["lang"] for r in out2.select("lang").distinct().collect()} == {"en"}


def test_domain_mix_fractions_math():
    counts = {"en": 1000, "de": 250, "fr": 50}
    # equal thirds: fr is the binding stratum -> T = 150, every stratum
    # contributes 50 docs
    fr = C.domain_mix_fractions(counts, {"en": 1, "de": 1, "fr": 1})
    assert fr == {"en": 0.05, "de": 0.2, "fr": 1.0}
    # budget caps T below the feasible max
    fr_b = C.domain_mix_fractions(counts, {"en": 1, "de": 1, "fr": 1}, budget=30)
    assert fr_b == {"en": 0.01, "de": 0.04, "fr": 0.2}
    # zero-weight strata are dropped, weights renormalize
    fr_z = C.domain_mix_fractions(counts, {"en": 3, "de": 1, "fr": 0})
    assert fr_z["fr"] == 0.0 and abs(fr_z["en"] / fr_z["de"] - 0.75) < 1e-9
    with pytest.raises(ValueError):
        C.domain_mix_fractions({"en": 10}, {"en": 1, "xx": 1})
    with pytest.raises(ValueError):
        C.domain_mix_fractions(counts, {"en": 0})


def test_domain_mix_end_to_end(spark):
    df = _docs(spark, {"en": 2000, "de": 500, "fr": 100})
    out = C.domain_mix(df, {"en": 1, "de": 1, "fr": 1})
    got = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    # binding stratum fr keeps everything; others downsample to ~100
    assert got["fr"] == 100
    assert 70 < got["en"] < 130 and 70 < got["de"] < 130


# ---------------------------------------------------------------------------
# decontamination


def test_contamination_counts_and_fraction(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f"),     # contains the bench 4-gram
            Row(doc_id=1, text="x y z w v u"),     # disjoint
            Row(doc_id=2, text="c d e f g h"),     # shares 'c d e f'
            Row(doc_id=3, text="a b"),             # too short: no 4-grams
        ]
    )
    bench = spark.createDataFrame([Row(text="zz a b c d e f yy")])
    out = {
        r["doc_id"]: r.asDict()
        for r in C.contamination(docs, bench, n=4).collect()
    }
    # doc 0: 3 shingles, all inside the bench window
    assert out[0]["n_shingles"] == 3 and out[0]["n_overlap"] == 3
    assert out[0]["overlap_frac"] == 1.0
    assert out[1]["n_overlap"] == 0 and out[1]["overlap_frac"] == 0.0
    assert out[2]["n_overlap"] == 1  # only 'c d e f'
    assert out[3]["n_shingles"] == 0 and out[3]["overlap_frac"] == 0.0


def test_decontaminate_drops_only_contaminated(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f"),
            Row(doc_id=1, text="x y z w v u"),
            Row(doc_id=2, text="c d e f g h"),
            Row(doc_id=3, text="a b"),
        ]
    )
    bench = spark.createDataFrame([Row(text="zz a b c d e f yy")])
    # strict rule: any shared 4-gram disqualifies
    kept = {r["doc_id"] for r in C.decontaminate(docs, bench, 0.0, n=4).collect()}
    assert kept == {1, 3}
    # lenient: tolerate up to 50% overlap -> doc 2 (1/3) survives
    kept2 = {r["doc_id"] for r in C.decontaminate(docs, bench, 0.5, n=4).collect()}
    assert kept2 == {1, 2, 3}
    # all columns survive the anti-join
    assert C.decontaminate(docs, bench, 0.0, n=4).columns == ["doc_id", "text"]


def test_contamination_plan_broadcasts_benchmark(spark):
    docs = spark.createDataFrame([Row(doc_id=0, text="a b c d e f")])
    bench = spark.createDataFrame([Row(text="a b c d")])
    plan = C.contamination(docs, bench, n=4)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# review-finding regressions (nulls, empty selections, blank lines)


def test_null_edges_across_curation_ops(spark):
    # NULL doc_id still gets a deterministic sampling verdict
    df = spark.createDataFrame([(None, "en"), (1, "en"), (2, None)],
                               "doc_id long, lang string")
    marked = df.select("doc_id", C.sample_mark(F.col("doc_id"), 1.0).alias("k"))
    assert all(r["k"] for r in marked.collect())  # fraction 1.0 keeps NULLs too
    # NULL strata rows take the default (dropped), no TypeError
    out = C.domain_mix(
        df.withColumn("doc_id", F.coalesce("doc_id", F.lit(99))),
        {"en": 1.0},
    )
    assert {r["lang"] for r in out.select("lang").distinct().collect()} <= {"en"}
    with pytest.raises(ValueError):
        C.stratified_sample(df, {None: 1.0})
    # NULL text packs as a 0-token doc instead of crashing the driver
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r.asDict()
            for r in C.token_sequence_layout(docs, budget=8).collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["start_tok"] == 3
    assert rows[3]["start_tok"] == 3


def test_drop_duplicate_lines_preserves_blank_lines(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="para one\n\npara two\n"),
         Row(doc_id=1, text="banner\nunique\nbanner")],
    )
    out = {r["doc_id"]: r["text"]
           for r in C.drop_duplicate_lines(docs).collect()}
    # paragraph break and trailing newline survive untouched
    assert out[0] == "para one\n\npara two\n"
    assert out[1] == "unique"
    # keep_first mode also leaves every blank line in place
    outf = {r["doc_id"]: r["text"]
            for r in C.drop_duplicate_lines(docs, keep_first=True).collect()}
    assert outf[0] == "para one\n\npara two\n"


def test_scrub_pii_empty_kinds_is_noop(spark):
    from siskin_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame([Row(t="a@b.io and 1.2.3.4")])
    got = df.select(
        scrub_pii("t", kinds=()).alias("s"),
        pii_counts("t", kinds=("email",)).alias("n"),
    ).collect()[0]
    assert got["s"] == "a@b.io and 1.2.3.4"  # explicit empty selection masks nothing
    assert got["n"].asDict() == {"email": 1}


# ---------------------------------------------------------------------------
# corpus-level duplicate-line removal


def _line_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=0, text="cookie banner\nunique zero\nfooter"),
            Row(doc_id=1, text="cookie banner\nunique one\nfooter"),
            Row(doc_id=2, text="unique two a\nunique two b"),
            Row(doc_id=3, text="cookie banner\nfooter"),  # all boilerplate
            Row(doc_id=4, text="repeat me\nrepeat me\nunique four"),
        ]
    )


def test_drop_duplicate_lines_drops_all_occurrences(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_lines(_line_docs(spark)).collect()
    }
    assert out[0] == "unique zero"
    assert out[1] == "unique one"
    assert out[2] == "unique two a\nunique two b"  # untouched, order kept
    assert out[3] == ""  # fully-boilerplate doc survives, empty
    # within-doc repetition counts toward the corpus tally too
    assert out[4] == "unique four"
    # drop_empty_docs removes doc 3
    kept = {r["doc_id"] for r in C.drop_duplicate_lines(
        _line_docs(spark), drop_empty_docs=True).collect()}
    assert kept == {0, 1, 2, 4}


def test_drop_duplicate_lines_keep_first(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_lines(_line_docs(spark), keep_first=True).collect()
    }
    # earliest (doc_id, pos) occurrence survives: doc 0 keeps both
    assert out[0] == "cookie banner\nunique zero\nfooter"
    assert out[1] == "unique one"
    assert out[3] == ""
    assert out[4] == "repeat me\nunique four"


def test_drop_duplicate_lines_keep_first_matches_window_form(spark):
    """The de-skewed min(struct) form must equal the window form it
    replaced, on a hot-line fixture where one line is >50% of all
    lines — exactly the shape the old ``partitionBy(_line)`` window
    concentrated onto one reducer."""
    from pyspark.sql import Window

    hot = [Row(doc_id=i, text=f"HOT LINE\nunique {i}\nHOT LINE") for i in range(40)]
    hot += [Row(doc_id=100 + i, text=f"only {i}") for i in range(5)]
    docs = spark.createDataFrame(hot)
    got = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_lines(docs, keep_first=True).collect()
    }

    # window-form reference (the pre-r8 implementation, inline)
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("_pos", "_line")
    )
    blanks = lines.filter(F.length("_line") == 0)
    nb = lines.filter(F.length("_line") > 0)
    w = Window.partitionBy("_line")
    wo = w.orderBy("doc_id", "_pos")
    kept = (
        nb.withColumn("_c", F.count("*").over(w))
        .withColumn("_rn", F.row_number().over(wo))
        .filter((F.col("_c") < 2) | (F.col("_rn") == 1))
        .select("doc_id", "_pos", "_line")
        .unionByName(blanks)
    )
    want = {
        r["doc_id"]: r["text"]
        for r in kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias("text")
        )
        .collect()
    }
    assert got == want
    assert got[0] == "HOT LINE\nunique 0"  # first (doc,pos) occurrence survives
    assert got[1] == "unique 1"


def test_drop_duplicate_lines_threshold(spark):
    # min_count=3: 'footer' (3x) drops, 'repeat me' (2x) survives
    out = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_lines(_line_docs(spark), min_count=3).collect()
    }
    assert out[0] == "unique zero"  # 'cookie banner' is also 3x
    assert out[4] == "repeat me\nrepeat me\nunique four"
    assert out[2] == "unique two a\nunique two b"


def test_line_skew_profile_flags_hot_boilerplate(spark):
    """On a corpus where one boilerplate line dominates, the profile
    must flag skew, name the hot line first, and size salt buckets —
    the pre-shuffle measurement a 100 TB line-dedup runs first."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="ACCEPT COOKIES\nACCEPT COOKIES\n" + f"unique {i}")
         for i in range(30)]
    )
    prof = C.line_skew_profile(docs)
    assert prof["rows"] == 90 and prof["distinct_keys"] == 31
    assert prof["skewed"] is True
    assert prof["top"][0]["key"]["_line"] == "ACCEPT COOKIES"
    assert prof["top"][0]["n"] == 60
    assert prof["suggested_salt_buckets"] > 0
    # blank lines are exempt from the dedup shuffle and from the profile
    with_blanks = spark.createDataFrame(
        [Row(doc_id=0, text="a\n\n\nb"), Row(doc_id=1, text="a\nc")]
    )
    assert C.line_skew_profile(with_blanks)["rows"] == 4


# ---------------------------------------------------------------------------
# full pipeline composition


def test_curation_pipeline_end_to_end(spark, sf_dir):
    """The FineWeb-style chain: quality gate -> decontaminate ->
    domain mix -> deterministic sample -> packing layout, composed as
    ONE lazy plan over the documents table."""
    from siskin_spark.functions.text import quality_keep
    from siskin_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select("text")

    kept = docs.filter(quality_keep(F.col("text"), min_tokens=5))
    clean = C.decontaminate(kept, bench, n=8)
    mixed = C.domain_mix(clean, {"en": 2, "de": 1, "fr": 1}, budget=40)
    sampled = C.deterministic_sample(mixed, 0.9)
    packed = C.token_sequence_layout(sampled, budget=256)

    rows = packed.collect()
    assert 0 < len(rows) <= 40
    # layout invariants hold over the composed survivors
    rows.sort(key=lambda r: r["doc_id"])
    cum = 0
    for r in rows:
        assert r["start_tok"] == cum
        assert r["seq_first"] == cum // 256
        cum += r["n_tokens"]
    # the bench docs themselves never survive decontamination
    bench_ids = {r[0] for r in docs.filter(F.col("doc_id") % 25 == 0)
                 .select("doc_id").collect()}
    assert not bench_ids & {r["doc_id"] for r in rows}
    # determinism: the same plan yields the same corpus
    again = {r["doc_id"] for r in C.token_sequence_layout(
        C.deterministic_sample(
            C.domain_mix(C.decontaminate(kept, bench, n=8),
                         {"en": 2, "de": 1, "fr": 1}, budget=40), 0.9),
        budget=256).collect()}
    assert again == {r["doc_id"] for r in rows}


# ---------------------------------------------------------------------------
# sequence packing layout


def test_token_sequence_layout_matches_naive_cumsum(spark):
    rng_texts = [
        (i, " ".join(f"w{j}" for j in range((i * 7) % 13)))  # 0..12 tokens
        for i in range(200)
    ]
    df = spark.createDataFrame(rng_texts, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in C.token_sequence_layout(df, budget=10, n_buckets=7).collect()
    }
    # naive reference: python cumsum in doc_id order. NB the engine's
    # tokens() is a plain split (DuckDB str_split convention), so the
    # empty string counts as ONE token — mirror that, don't filter.
    cum = 0
    for i, text in rng_texts:
        n = len(text.split(" "))
        row = out[i]
        assert row["n_tokens"] == n, i
        assert row["start_tok"] == cum, i
        assert row["seq_first"] == cum // 10, i
        assert row["seq_off"] == cum % 10, i
        want_last = (cum + n - 1) // 10 if n else cum // 10
        assert row["seq_last"] == want_last, i
        cum += n
    assert len(out) == 200


def test_token_sequence_layout_sparse_ids_and_counts(spark):
    # sparse, shuffled ids + explicit token counts; single bucket edge
    df = spark.createDataFrame(
        [(1_000_000, 5), (3, 7), (999, 0), (42, 4)], ["doc_id", "n"]
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in C.token_sequence_layout(
            df, budget=8, n_tokens=F.col("n"), n_buckets=2
        ).collect()
    }
    # order: 3(7), 42(4), 999(0), 1000000(5)
    assert out[3]["start_tok"] == 0 and out[3]["seq_last"] == 0
    assert out[42]["start_tok"] == 7 and out[42]["seq_first"] == 0
    assert out[42]["seq_last"] == 1  # spans the 8-token boundary
    assert out[999]["start_tok"] == 11 and out[999]["seq_last"] == 1  # empty doc
    assert out[1_000_000]["start_tok"] == 11 and out[1_000_000]["seq_off"] == 3


def test_sequence_manifest_invariants(spark):
    """Slices reconstruct every sequence exactly: full sequences sum to
    budget, offsets tile contiguously, and each doc's slices partition
    [0, n_tokens)."""
    rows = [(i, " ".join(f"w{j}" for j in range((i * 5) % 23 + 1)))
            for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    B = 16
    layout = C.token_sequence_layout(df, budget=B)
    man = C.sequence_manifest(layout, budget=B).collect()

    total = sum(r["n_tokens"] for r in layout.collect())
    last_seq = (total - 1) // B
    by_seq: dict[int, list] = {}
    by_doc: dict[int, list] = {}
    for r in man:
        by_seq.setdefault(r["seq_id"], []).append(r)
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every sequence 0..last_seq present; full ones sum to B and tile
    assert set(by_seq) == set(range(last_seq + 1))
    for s, parts in by_seq.items():
        parts.sort(key=lambda r: r["seq_off"])
        want = B if s < last_seq else total - last_seq * B
        assert sum(p["n_slice"] for p in parts) == want, s
        off = 0
        for p in parts:
            assert p["seq_off"] == off, (s, p)
            off += p["n_slice"]
    # each doc's slices partition [0, n_tokens)
    n_by_doc = {r["doc_id"]: r["n_tokens"] for r in layout.collect()}
    for d, parts in by_doc.items():
        parts.sort(key=lambda r: r["doc_from"])
        pos = 0
        for p in parts:
            assert p["doc_from"] == pos, (d, p)
            pos += p["n_slice"]
        assert pos == n_by_doc[d], d


def test_token_sequence_layout_empty(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    out = C.token_sequence_layout(df)
    assert out.count() == 0
    assert {"n_tokens", "start_tok", "seq_first", "seq_off", "seq_last"} <= set(
        out.columns
    )


def test_token_sequence_layout_null_id_raises_at_execution(spark):
    # r13: the NULL-id guard moved from a construction-time collect to
    # an in-plan raise_error (the operator is one lazy plan now) — the
    # error must still be actionable and still fire
    df = spark.createDataFrame(
        [(1, "a b"), (None, "c")], "doc_id long, text string"
    )
    layout = C.token_sequence_layout(df, budget=8)  # lazy: must not raise
    with pytest.raises(Exception, match="contains NULLs"):
        layout.collect()


# ---------------------------------------------------------------------------
# repetition signals


def test_dup_line_fraction(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="nav\nbody text\nnav\nfooter\nnav"),  # 3x 'nav'
            Row(doc_id=1, text="one\ntwo\nthree"),
            Row(doc_id=2, text="single line no breaks"),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text="a\n\n\na"),  # empty lines ignored
        ]
    )
    got = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", dup_line_fraction("text").alias("f")).collect()
    }
    assert got[0] == pytest.approx(2 / 5)  # 5 lines, 3 distinct
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 0.0
    assert got[4] == pytest.approx(1 / 2)


def _top_ngram(df):
    return {
        r["doc_id"]: r["top_2gram_frac"] for r in with_top_ngram_frac(df).collect()
    }


def test_top_ngram_frac_values(spark):
    df = spark.createDataFrame(
        [
            # 'buy now' x3 (2-gram 'buy now' len 7, text len 23): 21/23
            Row(doc_id=0, text="buy now buy now buy now"),
            Row(doc_id=1, text="all words here differ totally"),
            Row(doc_id=2, text="tiny"),  # < n tokens -> no grams
            Row(doc_id=3, text=""),
        ]
    )
    got = _top_ngram(df)
    assert got[0] == pytest.approx(3 * len("buy now") / len("buy now buy now buy now"))
    # distinct grams: every 2-gram occurs once; fraction = len(top gram)/len(text)
    assert 0.0 < got[1] < 0.6
    assert got[2] == 0.0 and got[3] == 0.0


def test_top_ngram_tie_breaks_to_larger_gram(spark):
    # 'a b' and 'c d' both occur twice; tie resolves to 'c d'
    text = "a b x a b y c d z c d"
    got = _top_ngram(spark.createDataFrame([Row(doc_id=0, text=text)]))
    assert got[0] == pytest.approx(2 * len("c d") / len(text))


def _column_fold_top_2gram(text: str):
    """Reference Column form: sort the row's 2-grams and fold the
    longest equal run (ties to the larger gram) in one ``aggregate``."""
    c = F.col(text)
    grams = F.array_sort(F.regexp_extract_all(c, F.lit(r"(?=((\S+ \S+)))\S+ ?"), 1))
    zero = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"), F.lit("").alias("bg"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = (run > acc["best"]) | ((run == acc["best"]) & (x > acc["bg"]))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bg"]).alias("bg"),
        )

    top = F.aggregate(grams, zero, step)
    return F.when(
        F.length(c) > 0,
        (top["best"] * F.length(top["bg"])).cast("double") / F.length(c).cast("double"),
    ).otherwise(F.lit(0.0))


def test_with_top_ngram_frac_equals_column_form(spark):
    """The staged DataFrame operator must equal the row-local Column
    fold on arbitrary corpora, including the no-gram / empty / null
    edges."""
    import random

    rng = random.Random(11)
    rows = [
        Row(doc_id=i, text=" ".join(
            rng.choice(["aa", "bb", "cc"]) for _ in range(rng.randint(0, 9))))
        for i in range(80)
    ] + [Row(doc_id=100, text="solo"), Row(doc_id=101, text=""),
         Row(doc_id=102, text=None)]
    df = spark.createDataFrame(rows)
    staged = _top_ngram(df)
    fold = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", _column_fold_top_2gram("text").alias("f")).collect()
    }
    assert staged.keys() == fold.keys()
    for k in fold:
        assert staged[k] == pytest.approx(fold[k]), k
    # all original columns survive, no staging leftovers
    assert set(with_top_ngram_frac(df).columns) == {"doc_id", "text", "top_2gram_frac"}


def test_repetition_matches_explode_groupby_formulation(spark):
    """The staged row-local operator must equal the shuffle-based
    explode+count formulation (which the oracle SQL uses) on arbitrary
    corpora, including the no-gram / one-token / empty / null edges."""
    import random

    from siskin_spark.functions.similarity import word_shingles
    from siskin_spark.functions.text import tokens

    rng = random.Random(7)
    rows = [
        Row(
            doc_id=i,
            text=" ".join(rng.choice(["aa", "bb", "cc", "dd"]) for _ in range(rng.randint(0, 12))),
        )
        for i in range(60)
    ]
    rng = random.Random(11)
    rows += [
        Row(doc_id=60 + i, text=" ".join(
            rng.choice(["aa", "bb", "cc"]) for _ in range(rng.randint(0, 9))))
        for i in range(80)
    ] + [Row(doc_id=200, text="solo"), Row(doc_id=201, text=""),
         Row(doc_id=202, text=None)]
    df = spark.createDataFrame(rows)
    staged = _top_ngram(df)

    exploded = (
        df.select("doc_id", F.length("text").alias("nc"),
                  F.explode_outer(word_shingles(tokens(F.col("text")), 2)).alias("g"))
        .groupBy("doc_id", "nc", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "nc")
        .agg(F.max(F.when(F.col("g").isNotNull(), F.struct("c", "g"))).alias("top"))
        .select(
            "doc_id",
            F.when(
                F.col("top").isNotNull() & (F.col("nc") > 0),
                F.col("top.c") * F.length("top.g") / F.col("nc"),
            ).otherwise(F.lit(0.0)).alias("f"),
        )
    )
    ref = {r["doc_id"]: r["f"] for r in exploded.collect()}
    assert staged.keys() == ref.keys()
    for k in ref:
        assert staged[k] == pytest.approx(ref[k]), k
    assert staged[200] == staged[201] == staged[202] == 0.0
    # all original columns survive, one column added
    assert set(with_top_ngram_frac(df).columns) == {"doc_id", "text", "top_2gram_frac"}


def test_top_ngram_frac_filter_extracts_grams_once(spark):
    """A filter on the staged column is pushed below the projection
    with the alias inlined; the let-bound form must still extract the
    grams once per row, not once per array element (a multi-projection
    form re-inlined the extraction into every lambda: 100x slower)."""
    df = spark.createDataFrame([Row(doc_id=0, text="a b a b c")])
    kept = with_top_ngram_frac(df, out_col="_t").filter(F.col("_t") <= 0.2).drop("_t")
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1
    assert kept.count() == 0  # 'a b' x2: 2 * 3 / 9 chars > 0.2


# ---------------------------------------------------------------------------
# fused signature panel


def test_signature_panel_equals_composition(spark):
    """signature_panel must equal minhash_table + fingerprint_table +
    contamination composed, while shuffling far less."""
    from siskin_spark.operators.neardup import (
        fingerprint_table,
        minhash_table,
        signature_panel,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 3 + j) % 17}" for j in range(i % 9)))
         for i in range(40)],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0).select("text")
    panel = {
        r["doc_id"]: r.asDict()
        for r in signature_panel(docs, benchmark=bench).collect()
    }
    mh = {r["doc_id"]: r["signature"] for r in minhash_table(docs).collect()}
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint_table(docs).collect()}
    ct = {
        r["doc_id"]: r.asDict()
        for r in C.contamination(docs, bench, n=3).collect()
    }
    assert panel.keys() == mh.keys() == fp.keys() == ct.keys()
    for d, row in panel.items():
        assert row["signature"] == mh[d], d
        assert row["fingerprint"] == fp[d], d
        assert row["n_shingles"] == ct[d]["n_shingles"], d
        assert row["n_overlap"] == ct[d]["n_overlap"], d
        assert row["overlap_frac"] == pytest.approx(ct[d]["overlap_frac"]), d
    # the fused plan carries ONE doc-keyed aggregate exchange (plus the
    # small broadcast); the composition needs three + joins
    plan = (
        signature_panel(docs, benchmark=bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# per-domain document caps


def _cap_docs(spark):
    rows = [Row(doc_id=i, source="big") for i in range(20)]
    rows += [Row(doc_id=100 + i, source="small") for i in range(3)]
    rows += [Row(doc_id=200, source=None)]
    return spark.createDataFrame(rows)


def test_domain_cap_exact(spark):
    out = C.domain_cap_mark(_cap_docs(spark), cap=5, exact=True)
    kept = {r["doc_id"] for r in out.filter("cap_keep").collect()}
    big = {i for i in kept if i < 100}
    assert len(big) == 5                      # exactly cap from the big domain
    assert {100, 101, 102} <= kept            # under-cap domain: all kept
    assert 200 in kept                        # NULL domain is its own group
    # deterministic: the 5 kept are the 5 smallest by seeded hash
    import hashlib

    def h(i):
        return hashlib.md5(f"0:{i}".encode()).hexdigest()[:8]

    want = set(sorted(range(20), key=lambda i: (h(i), i))[:5])
    assert big == want
    # reproducible across runs
    again = {r["doc_id"] for r in C.domain_cap_mark(
        _cap_docs(spark), cap=5, exact=True).filter("cap_keep").collect()}
    assert again == kept


def test_domain_cap_sampled(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="huge") for i in range(400)]
        + [Row(doc_id=1000 + i, source="tiny") for i in range(4)]
    )
    out = C.domain_cap_mark(docs, cap=100, exact=False)
    kept = [r["doc_id"] for r in out.filter("cap_keep").collect()]
    tiny = [i for i in kept if i >= 1000]
    assert len(tiny) == 4                     # n <= cap: keep all, exactly
    huge = [i for i in kept if i < 1000]
    # binomial around cap=100 of 400 (sd ~8.7): generous 4-sigma bounds
    assert 60 <= len(huge) <= 140
    # deterministic: same rows kept on re-run
    again = [r["doc_id"] for r in C.domain_cap_mark(
        docs, cap=100, exact=False).filter("cap_keep").collect()]
    assert sorted(again) == sorted(kept)
    # row count unchanged (mark, not filter)
    assert out.count() == 404


def test_domain_cap_exact_bounded_matches_plain_window(spark):
    """The skew-safe exact path (hash pre-filter sized cap+6*sqrt(cap)+64,
    bounded window, unique-key join back) must keep EXACTLY the same
    rows as a plain row_number window over every row of the domain —
    on a domain large enough that the pre-filter actually engages."""
    import hashlib

    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="mega") for i in range(500)]
        + [Row(doc_id=10_000 + i, source="mini") for i in range(3)]
    )
    cap = 5  # admit ~ 5 + 6*sqrt(5) + 64 = 82 << 500: threshold engages
    got = {r["doc_id"] for r in C.domain_cap_mark(
        docs, cap=cap, exact=True).filter("cap_keep").collect()}

    h = F.substring(
        F.md5(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))), 1, 8
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id"))
    want = {r["doc_id"] for r in docs.withColumn(
        "rn", F.row_number().over(w)).filter(F.col("rn") <= cap).collect()}
    assert got == want
    assert len([i for i in got if i < 10_000]) == cap  # exactly cap from mega
    assert {10_000, 10_001, 10_002} <= got             # under-cap: all kept
    # python cross-check of the winner set
    py = set(sorted(range(500),
                    key=lambda i: (hashlib.md5(f"0:{i}".encode())
                                   .hexdigest()[:8], i))[:cap])
    assert {i for i in got if i < 10_000} == py


def test_vocab_table_counts_rank_coverage(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a b a c a b"),
         Row(doc_id=1, text="a  d"),       # double space: empty token excluded
         Row(doc_id=2, text="")]
    )
    rows = {r["token"]: r.asDict() for r in C.vocab_table(docs).collect()}
    # corpus tokens: a=4, b=2, c=1, d=1 -> total 8
    assert rows["a"]["n"] == 4 and rows["a"]["rank"] == 1
    assert rows["b"]["n"] == 2 and rows["b"]["rank"] == 2
    # tie c/d ranks lexicographically
    assert rows["c"]["rank"] == 3 and rows["d"]["rank"] == 4
    assert abs(rows["a"]["cum_frac"] - 0.5) < 1e-12
    assert abs(rows["d"]["cum_frac"] - 1.0) < 1e-12
    # top bounds the output; coverage stays a fraction of ALL tokens
    top2 = {r["token"]: r["cum_frac"]
            for r in C.vocab_table(docs, top=2).collect()}
    assert set(top2) == {"a", "b"}
    assert abs(top2["b"] - 0.75) < 1e-12  # (4+2)/8 of the WHOLE corpus
    # empty corpus: empty result, no crash
    assert C.vocab_table(spark.createDataFrame([Row(doc_id=0, text="")])).count() == 0


def test_vocab_table_single_explode_pass(spark):
    """r8 judge finding: the corpus total ran the explode+groupBy a
    second time. The total must now come from a shuffle-free map agg
    over the UNEXPLODED docs (no Generate node), so the expensive
    explode+count executes exactly once per call."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma alpha") for i in range(20)]
    )
    total_plan = (
        C._vocab_total_frame(docs, "text", " ")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" not in total_plan  # total never explodes the corpus
    out = C.vocab_table(docs, top=2)
    out.collect()
    # AQE's toString repeats the plan under "== Initial Plan ==";
    # count Generate nodes in the executed (final) section only
    head_plan = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert head_plan.count("Generate") == 1  # one explode end-to-end
    # values unchanged by the restructure
    rows = {r["token"]: r.asDict() for r in out.collect()}
    assert rows["alpha"]["n"] == 40 and rows["alpha"]["rank"] == 1
    assert abs(rows["alpha"]["cum_frac"] - 0.5) < 1e-12
    assert abs(rows["beta"]["cum_frac"] - 0.75) < 1e-12


def test_domain_cap_planted_90pct_domain_no_concentration(spark):
    """r8 verdict #7: one domain holding 90% of the corpus. The exact
    mode's window must only ever see the hash-prefiltered candidate
    set (~cap + 6*sqrt(cap) + 64 rows), never the whole hot domain —
    asserted by recomputing the pre-filter python-side — and the cap
    itself must come out exact under the skew."""
    import math

    cap = 100
    n_mega = 18_000  # 90%
    rows = [Row(doc_id=i, source="mega") for i in range(n_mega)]
    rows += [Row(doc_id=100_000 + i, source=f"d{i % 40}") for i in range(2_000)]
    docs = spark.createDataFrame(rows)

    marked = C.domain_cap_mark(docs, cap=cap, exact=True)
    kept = marked.filter("cap_keep").groupBy("source").count().collect()
    by_dom = {r["source"]: r["count"] for r in kept}
    assert by_dom["mega"] == cap                      # exact under 90% skew
    assert all(v == 50 for d, v in by_dom.items() if d != "mega")

    # structural de-skew: replicate the candidate pre-filter and show
    # the hot domain's window input is bounded candidates, not 18K rows
    admit = int(cap + 6 * math.sqrt(cap) + 64)
    thresh = format(
        min(2**32 - 1, round(admit * 2.0**32 / n_mega)), "08x"
    )
    n_cand = sum(
        1
        for i in range(n_mega)
        if hashlib.md5(f"0:{i}".encode()).hexdigest()[:8] < thresh
    )
    assert n_cand >= cap  # the margin held: enough candidates to rank
    assert n_cand <= admit + 6 * math.sqrt(admit)  # ...and bounded
    # under-cap domains take the KEEP_ALL branch: no window at all
    assert by_dom["d0"] == 50 and len(by_dom) == 41


# ---------------------------------------------------------------------------
# exact duplicated-span removal (ExactSubstr, Lee et al. 2022)


def _py_span_dedup(docs: dict[int, str], k: int, min_count: int = 2,
                   keep_first: bool = False) -> dict[int, str]:
    toks = {i: t.split() for i, t in docs.items()}
    from collections import defaultdict

    occ = defaultdict(list)
    for i in sorted(toks):
        tt = toks[i]
        for p in range(len(tt) - k + 1):
            occ[" ".join(tt[p:p + k])].append((i, p))
    cut = defaultdict(set)
    for gram, sites in occ.items():
        if len(sites) < min_count:
            continue
        first = min(sites)
        for site in sites:
            if keep_first and site == first:
                continue
            i, p = site
            cut[i].update(range(p, p + k))
    return {
        i: " ".join(t for j, t in enumerate(tt) if j not in cut[i])
        for i, tt in toks.items()
    }


def test_drop_duplicate_spans_matches_python_reference(spark):
    """Planted verbatim k-spans across otherwise-unique docs are cut in
    every document (keep_first=False) / all but the earliest occurrence
    (keep_first=True); unique text survives byte-for-byte."""
    boiler = "subscribe to our newsletter for updates now"  # 7 tokens
    docs = {
        0: f"alpha0 beta0 {boiler} gamma0 delta0",
        1: f"alpha1 {boiler} omega1",
        2: "unique2 text2 with2 no2 repeats2 at2 all2 here2",
        3: f"{boiler}",                      # the span IS the doc
        4: "short doc",                      # < k tokens: untouched
        5: f"x5   y5\t{boiler}\nz5",         # whitespace normalization
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs.items()]
    )
    for keep_first in (False, True):
        got = {
            r["doc_id"]: r["text"]
            for r in C.drop_duplicate_spans(
                df, k=7, keep_first=keep_first
            ).collect()
        }
        want = _py_span_dedup(docs, k=7, keep_first=keep_first)
        assert got == want, keep_first
    # sanity on the semantics themselves
    all_cut = _py_span_dedup(docs, k=7)
    assert all_cut[3] == "" and boiler not in all_cut[0]
    assert all_cut[2] == docs[2] and all_cut[4] == docs[4]
    kept_first = _py_span_dedup(docs, k=7, keep_first=True)
    assert boiler in kept_first[0] and boiler not in kept_first[1]


def test_drop_duplicate_spans_overlapping_spans_and_min_count(spark):
    """Overlapping duplicated spans merge their coverage; min_count
    gates how many corpus occurrences make a span 'duplicated'."""
    import random

    rng = random.Random(3)
    # two docs share an 8-token run; k=4 -> five overlapping dup 4-grams
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = {
        0: f"a0 {run} b0",
        1: f"{run} c1 d1",
        2: " ".join(f"w{rng.randrange(10**6)}" for _ in range(12)),
    }
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs.items()])
    got = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_spans(df, k=4).collect()
    }
    assert got == _py_span_dedup(docs, k=4)
    assert got[0] == "a0 b0" and got[1] == "c1 d1"
    # min_count=3: the run appears in only 2 docs -> nothing cut
    got3 = {
        r["doc_id"]: r["text"]
        for r in C.drop_duplicate_spans(df, k=4, min_count=3).collect()
    }
    assert got3 == {i: " ".join(t.split()) for i, t in docs.items()}


def test_drop_duplicate_spans_within_doc_repeat(spark):
    """A span repeated twice INSIDE one document is a corpus duplicate
    too (the paper's within-doc case); keep_first keeps the earlier
    occurrence's tokens unless another dup span covers them."""
    docs = {0: "p q r s p q r s tail"}
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs.items()])
    got = {r["doc_id"]: r["text"]
           for r in C.drop_duplicate_spans(df, k=4).collect()}
    assert got == _py_span_dedup(docs, k=4)
    gotf = {r["doc_id"]: r["text"]
            for r in C.drop_duplicate_spans(df, k=4, keep_first=True).collect()}
    assert gotf == _py_span_dedup(docs, k=4, keep_first=True)


def test_oov_fraction_against_vocab(spark):
    """OOV rate vs a bounded vocab: exact fractions, empty-doc zero,
    vocab_table frame accepted directly."""
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="a b a zz"),   # 1 of 4 OOV
         Row(doc_id=1, text="qq ww"),      # all OOV
         Row(doc_id=2, text="a  b"),       # double space: 0 OOV of 2
         Row(doc_id=3, text="")]
    )
    got = {r["doc_id"]: r["f"] for r in docs.select(
        "doc_id", C.oov_fraction(["a", "b"]).alias("f")).collect()}
    assert got == {0: 0.25, 1: 1.0, 2: 0.0, 3: 0.0}
    # vocab_table frame: top-2 of this corpus is {a, b} -> same values
    vf = C.vocab_table(docs, top=2)
    got2 = {r["doc_id"]: r["f"] for r in docs.select(
        "doc_id", C.oov_fraction(vf).alias("f")).collect()}
    assert got2 == got
    # pure map: no exchange in the plan
    plan = (docs.select(C.oov_fraction(["a"]).alias("f"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_with_oov_fraction_join_form_matches_literal(spark):
    """r9 verdict #3: the join form (vocab above literal_max) must
    equal the InSet-literal form value-for-value on a fixture that
    straddles the switch — including empty docs, all-OOV docs, and
    duplicate vocab entries (which must NOT multiply join rows)."""
    rows = [
        Row(doc_id=0, text="a b a zz"),
        Row(doc_id=1, text="qq ww"),
        Row(doc_id=2, text="a  b"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text="v1 v2 v3 junk v1"),
    ]
    docs = spark.createDataFrame(rows)
    vocab = ["a", "b"] + [f"v{i}" for i in range(50)]
    lit_form = {
        r["doc_id"]: r["oov_frac"]
        for r in C.with_oov_fraction(docs, vocab, literal_max=1000).collect()
    }
    join_form = {
        r["doc_id"]: r["oov_frac"]
        for r in C.with_oov_fraction(docs, vocab, literal_max=10).collect()
    }
    assert join_form == lit_form
    assert lit_form == {0: 0.25, 1: 1.0, 2: 0.0, 3: 0.0, 4: 0.2}
    # duplicate vocab entries are harmless in both forms
    dup = {
        r["doc_id"]: r["oov_frac"]
        for r in C.with_oov_fraction(
            docs, vocab + vocab, literal_max=10
        ).collect()
    }
    assert dup == lit_form
    # the join side broadcasts: the corpus never shuffles for the probe
    plan = (
        C.with_oov_fraction(docs, vocab, literal_max=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # all other columns pass through in both forms
    assert set(C.with_oov_fraction(docs, vocab, literal_max=10).columns) == {
        "doc_id", "text", "oov_frac"
    }


def test_quality_buckets_ccnet_terciles(spark):
    """CCNet head/middle/tail: exact-percentile thresholds match
    numpy's linear interpolation; the mark is a pure map; approx mode
    agrees on a smooth distribution; NULL scores stay NULL."""
    import numpy as np

    scores = [int(x) for x in np.random.default_rng(5).integers(-500, 500, 900)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(scores)],
                               "doc_id long, s long")
    th = C.quality_bucket_thresholds(df, "s")
    want = np.percentile(np.array(scores, dtype=float), [100 / 3, 200 / 3],
                         method="linear")
    assert abs(th[0] - want[0]) < 1e-9 and abs(th[1] - want[1]) < 1e-9

    marked = df.select("doc_id", "s",
                       C.quality_bucket_mark("s", th).alias("b"))
    got = {r["doc_id"]: r["b"] for r in marked.collect()}
    for i, s in enumerate(scores):
        exp = "head" if s <= th[0] else ("middle" if s <= th[1] else "tail")
        assert got[i] == exp
    # tercile sizes within interpolation slack
    from collections import Counter
    sizes = Counter(got.values())
    assert all(250 <= sizes[b] <= 350 for b in ("head", "middle", "tail"))
    # pure map
    plan = (df.select(C.quality_bucket_mark("s", th).alias("b"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    # approx mode lands within a few ranks on this distribution
    th_a = C.quality_bucket_thresholds(df, "s", exact=False)
    assert abs(th_a[0] - th[0]) <= 20 and abs(th_a[1] - th[1]) <= 20
    # NULL score -> NULL label
    dfn = spark.createDataFrame([(0, None)], "doc_id long, s long")
    assert dfn.select(C.quality_bucket_mark("s", th).alias("b")).first()["b"] is None
    import pytest
    with pytest.raises(ValueError, match="labels"):
        C.quality_bucket_mark("s", th, labels=("only", "two"))


def test_quality_bucket_thresholds_snap_integral(spark):
    """ADVICE r9: terciles of 0..900 land EXACTLY on 300/600 — the
    1-ulp interpolation hazard between engines. snap_integral moves
    them to 300.5/600.5, which classifies integer scores identically
    (300 -> head, 301 -> middle) while being engine-independent;
    non-integral thresholds and the default are untouched."""
    df = spark.createDataFrame([(i, i) for i in range(901)],
                               "doc_id long, s long")
    th = C.quality_bucket_thresholds(df, "s", snap_integral=True)
    assert th == [300.5, 600.5]
    # same classification as the exact-integer thresholds under <=
    marked = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", C.quality_bucket_mark("s", th).alias("b")).collect()}
    assert marked[300] == "head" and marked[301] == "middle"
    assert marked[600] == "middle" and marked[601] == "tail"
    # default stays raw; non-integral thresholds are never snapped
    assert C.quality_bucket_thresholds(df, "s") == [300.0, 600.0]
    df2 = spark.createDataFrame([(i, i) for i in range(900)],
                               "doc_id long, s long")
    raw = C.quality_bucket_thresholds(df2, "s")
    snapped = C.quality_bucket_thresholds(df2, "s", snap_integral=True)
    assert snapped == raw  # 299.666... / 599.333... pass through


# ---------------------------------------------------------------------------
# split_label / leakage_safe_split


def _expected_split(key: str, fractions: dict[str, float], seed: int = 0) -> str:
    h = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8]
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        if h < C.hex_threshold(min(cum, 1.0)):
            return name
    return names[-1]


def test_split_label_matches_reference_hash(spark):
    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", C.split_label(F.col("doc_id"), fr, seed=3).alias("s")
        ).collect()
    }
    want = {i: _expected_split(str(i), fr, seed=3) for i in range(4000)}
    assert got == want
    # every label lands, proportions are hash-uniform-ish
    from collections import Counter

    cnt = Counter(got.values())
    assert 0.85 < cnt["train"] / 4000 < 0.95
    assert 0.02 < cnt["val"] / 4000 < 0.08
    assert 0.02 < cnt["test"] / 4000 < 0.08


def test_split_label_two_way_agrees_with_sample_mark(spark):
    """A {'in': f, 'out': 1-f} split is EXACTLY sample_mark's boundary:
    the multi-way form must not re-derive a different threshold."""
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    both = df.select(
        C.split_label(F.col("k"), {"in": 0.3, "out": 0.7}, seed=1).alias("s"),
        C.sample_mark(F.col("k"), 0.3, seed=1).alias("m"),
    ).collect()
    for r in both:
        assert (r["s"] == "in") == r["m"]


def test_split_label_validation_and_nulls(spark):
    with pytest.raises(ValueError, match="sum to 1"):
        C.split_label(F.col("k"), {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match=">= 0"):
        C.split_label(F.col("k"), {"a": -0.1, "b": 1.1})
    with pytest.raises(ValueError, match="at least one"):
        C.split_label(F.col("k"), {})
    # NULL keys share ONE deterministic draw (the \x00 sentinel)
    df = spark.createDataFrame([(None,), (None,)], "k string")
    got = {r["s"] for r in df.select(
        C.split_label(F.col("k"), {"a": 0.5, "b": 0.5}).alias("s")
    ).collect()}
    assert len(got) == 1
    assert got == {_expected_split("\x00", {"a": 0.5, "b": 0.5})}
    # a zero-fraction middle split never fires
    fr0 = {"a": 0.5, "z": 0.0, "b": 0.5}
    df2 = spark.range(0, 500).withColumnRenamed("id", "k")
    labels = {r["s"] for r in df2.select(
        C.split_label(F.col("k"), fr0).alias("s")).collect()}
    assert "z" not in labels


def test_leakage_safe_split_chains_share_a_split(spark):
    """Near-dup relations CHAIN: pairs (1,2),(2,3) must put 1,2,3 in
    ONE split even though (1,3) was never a pair — hashing each id
    independently (the naive split) provably separates some chain at
    these fractions, which is the leakage this operator exists to
    prevent. Docs in no pair draw their own split."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    for seed in range(5):
        out = C.leakage_safe_split(
            docs, pairs, {"train": 0.5, "val": 0.5}, seed=seed
        )
        got = {r["doc_id"]: r["split"] for r in out.collect()}
        assert len(got) == 39  # one row per doc, label never NULL
        assert None not in got.values()
        for group in ([1, 2, 3], [10, 11], [20, 21, 22, 23]):
            assert len({got[d] for d in group}) == 1, (seed, group)
        # members share the COMPONENT-MIN draw specifically
        assert got[1] == _expected_split("1", {"train": 0.5, "val": 0.5}, seed)
        # un-paired docs draw on their own id
        assert got[5] == _expected_split("5", {"train": 0.5, "val": 0.5}, seed)


def test_leakage_safe_split_both_cc_engines_agree(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(30)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)] + [(4, 6), (6, 8)],
        "id_a long, id_b long",
    )
    fr = {"train": 0.8, "holdout": 0.2}
    fast = {r["doc_id"]: r["split"]
            for r in C.leakage_safe_split(docs, pairs, fr).collect()}
    slow = {r["doc_id"]: r["split"]
            for r in C.leakage_safe_split(
                docs, pairs, fr, driver_max_edges=0,
            ).collect()}
    from siskin_spark.operators.neardup import connected_components

    comp = {r["node"]: r["component"]
            for r in connected_components(pairs, driver_max_edges=0).collect()}
    want = {
        i: _expected_split(str(comp.get(i, i)), fr) for i in range(30)
    }
    assert fast == want and slow == want


# ---------------------------------------------------------------------------
# unigram LM log-prob scoring


def _py_unigram(texts, vocab, k=1.0):
    """Python reference: fixed-point micro-log10 mean, IEEE chain."""
    import math

    total = sum(n for _, n in vocab)
    denom = total + k * (len(vocab) + 1)
    lp6 = {t: round(math.log10((n + k) / denom) * 1e6) for t, n in vocab}
    oov = round(math.log10(k / denom) * 1e6)
    out = []
    for tx in texts:
        toks = [t for t in tx.split(" ") if t]
        if not toks:
            out.append(None)
            continue
        s = sum(lp6.get(t, oov) for t in toks)
        out.append(float(s) / len(toks) / 1e6)
    return out


def test_unigram_logprob_matches_python_reference(spark):
    vocab = [("the", 400), ("cat", 50), ("sat", 25), ("mat", 10)]
    texts = [
        "the cat sat on the mat",
        "the the the",
        "zz qq ww",
        "",
        "   ",
        "cat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["unigram_lp"]
        for r in C.with_unigram_logprob(df, vocab).collect()
    }
    want = _py_unigram(texts, vocab)
    for i, w in enumerate(want):
        assert got[i] == w, (i, got[i], w)  # bit-exact, incl. NULL empties
    # high-frequency text scores above OOV text
    assert got[1] > got[2]
    assert got[3] is None and got[4] is None


def test_unigram_logprob_forms_agree_across_literal_max(spark):
    """The map-literal fold and the explode+broadcast-join forms are
    value-identical — integer sums + one IEEE division chain both
    ways; the switch point must not change a single bit."""
    vocab = [(f"w{i}", 100 - i) for i in range(40)]
    texts = [
        " ".join(f"w{j % 53}" for j in range(i, i + 17)) for i in range(200)
    ] + ["", "only oov tokens here"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    lit_form = {
        r["doc_id"]: r["unigram_lp"]
        for r in C.with_unigram_logprob(df, vocab, literal_max=1000).collect()
    }
    join_form = {
        r["doc_id"]: r["unigram_lp"]
        for r in C.with_unigram_logprob(df, vocab, literal_max=4).collect()
    }
    assert lit_form == join_form
    assert lit_form == {
        i: w for i, w in enumerate(_py_unigram(texts, vocab))
    }


def test_unigram_logprob_composes_with_vocab_table(spark):
    """The intended composition: corpus frequencies from vocab_table
    feed the scorer; dupe-vocab rows are keep-first-deduped so they
    cannot inflate the total."""
    df = spark.createDataFrame(
        [(i, "alpha beta gamma " + ("alpha " * i).strip()) for i in range(1, 30)],
        "doc_id long, text string",
    )
    vt = C.vocab_table(df, top=3)
    scored = C.with_unigram_logprob(df, vt)
    rows = scored.orderBy("doc_id").collect()
    # more in-vocab mass -> higher (less negative) score as i grows
    assert rows[-1]["unigram_lp"] > rows[0]["unigram_lp"]
    # same result when the vocab arrives as a (token, n) list with dupes
    lst = [(r["token"], r["n"]) for r in vt.select("token", "n").collect()]
    again = {
        r["doc_id"]: r["unigram_lp"]
        for r in C.with_unigram_logprob(df, lst + lst).collect()
    }
    assert again == {r["doc_id"]: r["unigram_lp"] for r in rows}


def test_unigram_logprob_validation():
    with pytest.raises(ValueError, match="empty"):
        C.unigram_logprob_table([])
    with pytest.raises(ValueError, match="k must be > 0"):
        C.unigram_logprob_table([("a", 1)], k=0)


def test_token_budget_sample_matches_naive(spark):
    """r11 token_budget_sample: the kept set equals the naive greedy
    prefix over seeded-hash order, totals respect the budget on both
    partial modes, growth-stability holds, and per-stratum budgets
    fill independently."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from siskin_spark.operators.curation import token_budget_sample

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i % 7) + 1))) for i in range(200)],
        "doc_id long, text string",
    )
    # the naive reference: greedy prefix over (xxhash64(id), id) order
    ranked = docs.select(
        "doc_id",
        F.xxhash64(F.col("doc_id").cast("string"), F.lit(5)).alias("h"),
        F.size(F.split("text", " ")).alias("n"),
    ).collect()
    order = sorted(ranked, key=lambda r: (r["h"], r["doc_id"]))
    budget = 150
    want, want_partial, cum = set(), set(), 0
    for r in order:
        if cum < budget:
            want_partial.add(r["doc_id"])
        if cum + r["n"] <= budget:
            want.add(r["doc_id"])
        cum += r["n"]

    got = token_budget_sample(docs, budget, seed=5)
    rows = got.collect()
    assert {r["doc_id"] for r in rows} == want
    assert sum(r["n_tokens"] for r in rows) <= budget
    gp = token_budget_sample(docs, budget, seed=5, include_partial=True)
    rows_p = gp.collect()
    assert {r["doc_id"] for r in rows_p} == want_partial
    assert sum(r["n_tokens"] for r in rows_p) >= budget

    # growth stability: on a 2x corpus every kept doc whose rank still
    # fits remains kept (no reshuffling of admitted mass)
    docs2 = docs.unionByName(spark.createDataFrame(
        [(1000 + i, "a b c") for i in range(200)], "doc_id long, text string"
    ))
    got2 = {r["doc_id"] for r in
            token_budget_sample(docs2, budget, seed=5).collect()}
    # naive over the grown corpus
    ranked2 = docs2.select(
        "doc_id",
        F.xxhash64(F.col("doc_id").cast("string"), F.lit(5)).alias("h"),
        F.size(F.split("text", " ")).alias("n"),
    ).collect()
    cum2, want2 = 0, set()
    for r in sorted(ranked2, key=lambda r: (r["h"], r["doc_id"])):
        if cum2 + r["n"] <= budget:
            want2.add(r["doc_id"])
        cum2 += r["n"]
    assert got2 == want2

    # strata: independent per-stratum budgets; missing stratum raises
    sd = docs.withColumn(
        "dom", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("code")
    )
    mixed = token_budget_sample(
        sd, {"web": 80, "code": 40}, strata_col="dom", seed=5
    )
    per = {
        r["dom"]: r["t"]
        for r in mixed.groupBy("dom").agg(
            F.sum("n_tokens").alias("t")
        ).collect()
    }
    assert per["web"] <= 80 and per["code"] <= 40
    assert per["web"] > 60 and per["code"] > 25  # budgets actually fill
    with _pytest.raises(ValueError, match="strata with no budget"):
        token_budget_sample(sd, {"web": 80}, strata_col="dom", seed=5)
    with _pytest.raises(ValueError, match="budget must be an int"):
        token_budget_sample(docs, {"x": 1})
    # empty corpus keeps the output schema
    assert token_budget_sample(docs.limit(0), 10).columns == [
        "doc_id", "text", "n_tokens"
    ]

    # ADVICE r12: a NULL stratum used to surface as a TypeError from
    # sorting None against str inside the missing-budget check (and
    # could never match a string budget key anyway) — it must be a
    # dedicated, actionable error
    sn = docs.withColumn(
        "dom", F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
            F.when(F.col("doc_id") % 2 == 0, "web").otherwise("zzz")
        )
    )
    with _pytest.raises(ValueError, match="contains NULLs"):
        token_budget_sample(sn, {"web": 80, "zzz": 40}, strata_col="dom",
                            seed=5)

    # r11 ask #7: pathological declared-strata cardinality auto-clamps
    # n_buckets (bounding the offsets collect) without changing results
    many = {**{"web": 80, "code": 40},
            **{f"s{i}": 1 for i in range(300)}}  # 302 strata -> 3472 buckets
    clamped = {
        r["doc_id"]
        for r in token_budget_sample(
            sd, many, strata_col="dom", seed=5, n_buckets=4096
        ).collect()
    }
    want_mix = {
        r["doc_id"]
        for r in token_budget_sample(
            sd, {"web": 80, "code": 40}, strata_col="dom", seed=5
        ).collect()
    }
    assert clamped == want_mix  # absent strata contribute nothing


def test_token_budget_sample_md5_family(spark):
    """r12 portable-hash mode (mirrors the MinHash md5/xxhash64
    family split): hash_family='md5' ranks by the hex of
    md5('{seed}:{id}') — reproducible in any md5-bearing engine, the
    family the oracle leg rides. Checked against the naive greedy
    prefix over that exact order, plus bucket-count invariance (the
    hex-prefix bucketing must be a pure coarsening of the rank
    order) and the unknown-family error."""
    import hashlib

    import pytest as _pytest

    from pyspark.sql import functions as F

    from siskin_spark.operators.curation import token_budget_sample

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i % 7) + 1))) for i in range(200)],
        "doc_id long, text string",
    )
    budget = 150
    ranked = sorted(
        ((hashlib.md5(f"9:{i}".encode()).hexdigest(), i, (i % 7) + 1)
         for i in range(200))
    )
    want, cum = set(), 0
    for _, i, n in ranked:
        if cum + n <= budget:
            want.add(i)
        cum += n
    got = token_budget_sample(docs, budget, seed=9, hash_family="md5")
    assert {r["doc_id"] for r in got.collect()} == want
    for nb in (16, 4096):
        again = token_budget_sample(
            docs, budget, seed=9, hash_family="md5", n_buckets=nb
        )
        assert {r["doc_id"] for r in again.collect()} == want
    # the two families admit DIFFERENT (equally valid) samples
    xx = {r["doc_id"] for r in
          token_budget_sample(docs, budget, seed=9).collect()}
    assert xx != want
    with _pytest.raises(ValueError, match="hash_family"):
        token_budget_sample(docs, budget, hash_family="sha1")
    # strata ride the md5 order too
    sd = docs.withColumn(
        "dom", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("code")
    )
    per = {
        r["dom"]: r["t"]
        for r in token_budget_sample(
            sd, {"web": 80, "code": 40}, strata_col="dom", seed=9,
            hash_family="md5",
        ).groupBy("dom").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert per["web"] <= 80 and per["code"] <= 40
    assert per["web"] > 60 and per["code"] > 25


def test_token_budget_sample_checkpoint_optout_equality(spark):
    """r13: checkpoint=False (pure-plan opt-out for re-scannable
    inputs) must keep the kept set and token counts identical to the
    default lazy-checkpoint form in both hash families."""
    from pyspark.sql import functions as F

    from siskin_spark.operators.curation import token_budget_sample

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i % 9) + 1))) for i in range(300)],
        "doc_id long, text string",
    )
    for fam in ("xxhash64", "md5"):
        base = sorted(
            (r["doc_id"], r["n_tokens"])
            for r in token_budget_sample(
                docs, 180, seed=7, hash_family=fam
            ).collect()
        )
        pure = sorted(
            (r["doc_id"], r["n_tokens"])
            for r in token_budget_sample(
                docs, 180, seed=7, hash_family=fam, checkpoint=False
            ).collect()
        )
        assert base == pure and base


def test_exact_jaccard_no_broadcast_pairs_equality(spark):
    """r13: the broadcast_pairs escape hatch (pathological mostly-
    duplicates corpora) must produce the same verified pairs as the
    default broadcast form, including n_inter/n_a/n_b values."""
    from siskin_spark.operators.neardup import exact_jaccard, shingle_table

    texts = [
        "a b c d e f g", "a b c d e x y", "p q r s t u v",
        "a b c d e f g h", "p q r s t z z",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sh = shingle_table(docs)
    pairs = spark.createDataFrame(
        [(a, b) for a in range(len(texts)) for b in range(a + 1, len(texts))],
        "id_a long, id_b long",
    )
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    base = {
        key(r): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in exact_jaccard(pairs, sh, broadcast_candidates=False).collect()
    }
    plain = {
        key(r): (r["n_inter"], r["n_a"], r["n_b"], r["jaccard"])
        for r in exact_jaccard(
            pairs, sh, broadcast_candidates=False, broadcast_pairs=False
        ).collect()
    }
    assert base == plain and base


def test_token_budget_sample_plan_single_shuffle(spark):
    """Plan guard: the two-phase prefix sum must hold the CORPUS to
    ONE hash exchange (the rank shuffle). The no-strata in-plan
    offsets (r13) add one bounded hash exchange (the <=n_buckets
    totals aggregate) and one bounded single-partition exchange (the
    exclusive-prefix window over those totals) INSIDE the broadcast
    build side — a regression to a global corpus window would show as
    a single-partition exchange OUTSIDE the broadcast subtree, or as
    extra corpus-keyed hash exchanges."""
    import re

    from pyspark.sql import functions as F

    from siskin_spark.operators.curation import token_budget_sample

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = token_budget_sample(docs, 100, seed=1)._jdf.queryExecution() \
        .executedPlan().toString()
    hash_ex = re.findall(r"Exchange hashpartitioning", plan)
    single = re.findall(r"Exchange SinglePartition", plan)
    # corpus rank shuffle + bounded totals aggregate, nothing else
    assert len(hash_ex) == 2, plan
    # exactly one single-partition exchange: the <=n_buckets offsets
    # window, and it must live under the broadcast build side
    assert len(single) == 1, plan
    assert "BroadcastExchange" in plan
    assert plan.index("BroadcastExchange") < plan.index(
        "Exchange SinglePartition"
    ), plan


# ---------------------------------------------------------------------------
# C23: BM25 query-seeded relevance


def _naive_bm25(texts, terms, k1=1.2, b=0.75):
    """Row-at-a-time reference: same fixed-point contract, independent
    float path (Python floats ARE IEEE doubles, so the correctly-
    rounded division chain must agree bit-for-bit)."""
    import math

    toks = [[t for t in (s or "").lower().split(" ") if t] for s in texts]
    n = len(toks)
    totdl = sum(len(ts) for ts in toks)
    df = {t: sum(1 for ts in toks if t in ts) for t in terms}
    idf6 = {
        t: math.floor(1e6 * math.log((n - d + 0.5) / (d + 0.5) + 1.0))
        for t, d in df.items()
    }
    out = []
    for ts in toks:
        dl = float(len(ts))
        lennorm = (k1 * b) * dl * float(n) / float(totdl)
        score, hits = 0, 0
        for t in terms:
            tf = float(ts.count(t))
            if tf > 0:
                score += math.floor(
                    (idf6[t] * tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b) + lennorm)
                )
                hits += 1
        out.append((score, hits))
    return out


def test_bm25_matches_naive(spark):
    texts = [
        "spark join join window agg",
        "vector vector vector stream",
        "the a of filter scan",
        "",  # token-less: score 0, hits 0
        "SPARK Spark spark",  # case-folded
        None,  # null text behaves like empty
        "join " * 50 + "window",  # long doc: length norm bites
    ]
    terms = ["spark", "vector", "join", "window"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["bm25_micro"], r["bm25_hits"])
        for r in C.with_bm25(docs, terms).collect()
    }
    want = dict(enumerate(_naive_bm25(texts, terms)))
    assert got == want
    assert got[3] == (0, 0) and got[5] == (0, 0)
    assert got[4][1] == 1  # case-folding matched 'SPARK Spark spark'


def test_bm25_stats_reuse_and_validation(spark):
    docs = spark.createDataFrame(
        [(0, "a b spark"), (1, "spark spark c")], "doc_id long, text string"
    )
    stats = C.bm25_stats(docs, ["spark", "b"])
    assert stats == (2, 6, {"spark": 2, "b": 1})
    pre = C.with_bm25(docs, ["spark", "b"], stats=stats).collect()
    fresh = C.with_bm25(docs, ["spark", "b"]).collect()
    assert sorted(map(tuple, pre)) == sorted(map(tuple, fresh))
    with pytest.raises(ValueError):
        C.with_bm25(docs, [])
    with pytest.raises(ValueError):
        C.with_bm25(docs, ["two words"])
    with pytest.raises(ValueError):
        C.with_bm25(docs, ["a"], k1=0.0)
    with pytest.raises(ValueError):
        C.bm25_stats(docs.limit(0), ["a"])
    # duplicate terms collapse instead of double-counting
    one = C.with_bm25(docs, ["spark"]).collect()
    dup = C.with_bm25(docs, ["spark", "SPARK"]).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, dup))


def test_bm25_topk_deterministic_and_scalable(spark):
    docs = spark.createDataFrame(
        [(i, "spark " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    top = C.bm25_topk(docs, ["spark"], 5)
    rows = top.collect()
    scored = sorted(
        ((r["bm25_micro"], r["doc_id"]) for r in C.with_bm25(docs, ["spark"]).collect()),
        key=lambda p: (-p[0], p[1]),
    )
    assert [(r["bm25_micro"], r["doc_id"]) for r in rows] == scored[:5]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_scoring_is_shuffle_free(spark):
    """The scoring pass is a pure map: no exchange of any kind once
    the (bounded) stats are in hand."""
    docs = spark.createDataFrame(
        [(0, "spark join"), (1, "join join")], "doc_id long, text string"
    )
    scored = C.with_bm25(docs, ["spark", "join"], stats=(2, 4, {"spark": 1, "join": 2}))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the token array is materialized ONCE (one split per row)
    assert plan.count("split(lower(") == 1, plan


def test_bm25_join_form_matches_literal(spark):
    """Above literal_max the scorer switches to the broadcast-join
    form — bit-identical scores AND hit counts vs the inline form
    (same IEEE ops on the same operands in the same parse shape),
    including token-less / null / unmatched docs (left join + 0
    fill)."""
    texts = [
        "spark join join window agg",
        "vector vector vector stream",
        "the a of filter scan",       # zero matched terms
        "",                            # token-less
        "SPARK Spark spark",
        None,                          # null text
        "join " * 50 + "window",      # length norm bites
    ]
    terms = ["spark", "vector", "join", "window"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    lit = {
        r["doc_id"]: (r["bm25_micro"], r["bm25_hits"])
        for r in C.with_bm25(docs, terms).collect()
    }
    join = {
        r["doc_id"]: (r["bm25_micro"], r["bm25_hits"])
        for r in C.with_bm25(docs, terms, literal_max=1).collect()
    }
    assert join == lit == dict(enumerate(_naive_bm25(texts, terms)))
    # join-form output keeps the input columns + the two score columns
    cols = C.with_bm25(docs, terms, literal_max=1).columns
    assert cols == ["doc_id", "text", "bm25_micro", "bm25_hits"]
    # and bm25_topk rides the switch transparently
    topl = [
        (r["doc_id"], r["bm25_micro"])
        for r in C.bm25_topk(docs, terms, 3).collect()
    ]
    topj = [
        (r["doc_id"], r["bm25_micro"])
        for r in C.bm25_topk(docs, terms, 3, literal_max=1).collect()
    ]
    assert topl == topj


def test_bm25_stats_join_form_matches_literal(spark):
    """Beyond literal_max the df pass switches to explode + broadcast
    join + count_distinct — same (n, totdl, df) triple, including
    zero-df terms (absent from every doc) and duplicate tokens within
    one doc (df counts DOCS, not occurrences)."""
    docs = spark.createDataFrame(
        [(0, "a b spark spark"), (1, "spark c"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    terms = ["spark", "b", "nope"]
    lit = C.bm25_stats(docs, terms)
    join = C.bm25_stats(docs, terms, literal_max=1)
    assert join == lit == (4, 6, {"spark": 2, "b": 1, "nope": 0})
    # end-to-end: with_bm25 beyond literal_max computes its own stats
    # via the join form — scores still match the literal path
    a = sorted(map(tuple, C.with_bm25(docs, terms).collect()))
    b = sorted(map(tuple, C.with_bm25(docs, terms, literal_max=1).collect()))
    assert a == b


def test_bm25_join_form_plan(spark):
    """The join form broadcast-joins the (term, idf6) table onto the
    exploded tokens — the corpus-token stream never shuffles for the
    probe; only matched (id, term) rows reach the two bounded
    aggregates, plus the doc-keyed join back."""
    docs = spark.createDataFrame(
        [(0, "spark join"), (1, "join join")], "doc_id long, text string"
    )
    out = C.with_bm25(
        docs, ["spark", "join"],
        stats=(2, 4, {"spark": 1, "join": 2}), literal_max=1,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan  # the idf6-table probe
    # exactly three hash exchanges: per-(doc, term) tf, per-doc sum,
    # and the doc-keyed join back — never the raw token stream
    assert plan.count("Exchange hashpartitioning") == 3, plan


def _naive_chunks(text, chunk, overlap, sep=" "):
    toks = [t for t in (text or "").split(sep) if t]
    if not toks:
        return []
    stride = chunk - overlap
    n_chunks = max(0, -(-(len(toks) - chunk) // stride)) + 1
    return [
        (i, sep.join(toks[i * stride:i * stride + chunk]),
         len(toks[i * stride:i * stride + chunk]))
        for i in range(n_chunks)
    ]


def test_chunk_documents_matches_naive(spark):
    """Window boundaries vs a list-slicing reference across the edge
    cases: shorter-than-window, exact window, window+1, multi-window,
    zero overlap, empty and NULL docs (no chunks)."""
    texts = {
        0: " ".join(f"t{i}" for i in range(3)),    # < chunk
        1: " ".join(f"t{i}" for i in range(8)),    # == chunk
        2: " ".join(f"t{i}" for i in range(9)),    # chunk + 1
        3: " ".join(f"t{i}" for i in range(30)),   # many windows
        4: "",
        5: None,
        6: "  a   b  ",                            # empty-token filter
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for chunk, ov in ((8, 3), (8, 0), (5, 4)):
        got = {
            (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
            for r in C.chunk_documents(
                docs, chunk_tokens=chunk, overlap=ov
            ).collect()
        }
        want = {
            (d, i): (txt, n)
            for d, t in texts.items()
            for i, txt, n in _naive_chunks(t, chunk, ov)
        }
        assert got == want, (chunk, ov)
    # successive windows share exactly `overlap` tokens
    two = {
        r["chunk_id"]: r["chunk_text"].split(" ")
        for r in C.chunk_documents(
            docs.filter(F.col("doc_id") == 3), chunk_tokens=8, overlap=3
        ).collect()
    }
    assert two[0][-3:] == two[1][:3]
    with pytest.raises(ValueError):
        C.chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError):
        C.chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_chunk_documents_plan_is_mapside(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d")], "doc_id long, text string"
    )
    plan = (
        C.chunk_documents(docs, chunk_tokens=2, overlap=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_rrf_fuse(spark):
    """Hand-computed RRF on two rankings: shared ids sum their
    reciprocal contributions, singletons keep one, ties break by id
    ASC, topk trims per query."""
    import math

    def contrib(r, k=60):
        return math.floor(1e6 / (k + r))

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {
        (r["query_id"], r["neighbor_id"]): (r["rrf_micro"], r["rank"])
        for r in C.rrf_fuse([a, b]).collect()
    }
    want_scores = {
        (1, 10): contrib(1),
        (1, 11): contrib(2) + contrib(1),
        (1, 12): contrib(3),
        (1, 13): contrib(2),
        (2, 20): contrib(1) + contrib(1),
        (2, 21): contrib(2),
    }
    assert {q: s for q, (s, _) in out.items()} == want_scores
    # fused order for query 1: 11 (both lists) > 10 > 13 (= score of
    # rank-2 in one list; 10's rank-1 beats it) > 12
    order1 = sorted(
        ((rk, nid) for (q, nid), (_, rk) in out.items() if q == 1)
    )
    assert [nid for _, nid in order1] == [11, 10, 13, 12]
    # topk trims per query; every surviving rank is <= topk
    top = C.rrf_fuse([a, b], topk=2).collect()
    assert all(r["rank"] <= 2 for r in top)
    assert len([r for r in top if r["query_id"] == 1]) == 2
    # ties (same score) break by id ASC: two singleton rank-1 lists
    c1 = spark.createDataFrame(
        [(1, 7, 1)], "query_id long, neighbor_id long, rank int"
    )
    c2 = spark.createDataFrame(
        [(1, 3, 1)], "query_id long, neighbor_id long, rank int"
    )
    tie = {(r["neighbor_id"]): r["rank"] for r in C.rrf_fuse([c1, c2]).collect()}
    assert tie == {3: 1, 7: 2}
    with pytest.raises(ValueError):
        C.rrf_fuse([])
    with pytest.raises(ValueError):
        C.rrf_fuse([a], k=0)


# ---------------------------------------------------------------------------
# C24: DSIR importance log-ratio


def _naive_dsir(texts, tgt, src, k=1.0):
    import math

    def lp6(vocab):
        total = sum(n for _, n in vocab)
        denom = total + k * (len(vocab) + 1)
        return (
            {t: round(math.log10((n + k) / denom) * 1e6) for t, n in vocab},
            round(math.log10(k / denom) * 1e6),
        )

    lt, ot = lp6(tgt)
    ls, os_ = lp6(src)
    diff = {t: lt.get(t, ot) - ls.get(t, os_) for t in set(lt) | set(ls)}
    oov = ot - os_
    return [
        sum(diff.get(t, oov) for t in (s or "").split(" ") if t)
        for s in texts
    ]


def test_dsir_matches_naive_both_forms(spark):
    tgt = [("vector", 60), ("stream", 50), ("spark", 40)]
    src = [("the", 400), ("a", 320), ("vector", 5)]
    texts = [
        "vector stream spark",      # target-flavored: positive
        "the a the a",              # source-flavored: negative
        "vector the unseen",        # mixed + OOV-on-both-sides
        "",                         # token-less: 0
        None,                       # null text: 0
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = dict(enumerate(_naive_dsir(texts, tgt, src)))
    lit = {
        r["doc_id"]: r["dsir_lr6"]
        for r in C.with_dsir(docs, tgt, src).collect()
    }
    join = {
        r["doc_id"]: r["dsir_lr6"]
        for r in C.with_dsir(docs, tgt, src, literal_max=1).collect()
    }
    assert lit == want and join == want
    assert lit[0] > 0 and lit[1] < 0 and lit[3] == 0 and lit[4] == 0


def test_dsir_join_form_plan(spark):
    """The above-literal_max form broadcast-joins the diff table and
    shuffles only (id, token) rows — never the doc frame for the
    probe."""
    tgt = [(f"t{i}", 10) for i in range(8)]
    src = [(f"s{i}", 10) for i in range(8)]
    docs = spark.createDataFrame(
        [(0, "t0 s0"), (1, "t1 t2")], "doc_id long, text string"
    )
    out = C.with_dsir(docs, tgt, src, literal_max=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan, plan  # the diff-table probe
    # exactly two hash exchanges: the per-doc aggregate and the
    # doc-keyed join back — the probe itself must not shuffle the
    # token rows
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_chunk_cli(capsys, tmp_path, spark):
    from siskin_spark.cli import main

    d = str(tmp_path / "chunk_docs")
    spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10)))],
        "doc_id long, text string",
    ).write.parquet(d)
    out = str(tmp_path / "chunks")
    assert main(["chunk", d, out, "--tokens", "4", "--overlap", "1"]) == 0
    assert "chunk(s)" in capsys.readouterr().out
    got = {
        r["chunk_id"]: (r["chunk_text"], r["n_chunk_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        0: ("t0 t1 t2 t3", 4),
        1: ("t3 t4 t5 t6", 4),
        2: ("t6 t7 t8 t9", 4),
    }


def test_drop_duplicate_spans_rowlocal_rebuild_plan_and_edges(spark):
    """r13 opt: the rebuild is row-local (array_except over a per-doc
    cover set) — the plan must carry NO (id, pos) anti-join and no
    collect_list reassembly aggregate, and a fully-covered document
    must still rebuild to ''."""
    from pyspark.sql import Row

    from siskin_spark.operators import curation as C

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d"),        # fully covered (dup of 2)
            Row(doc_id=2, text="a b c d"),
            Row(doc_id=3, text="x y z w only once here"),
        ]
    )
    out = C.drop_duplicate_spans(df, k=4)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[1] == "" and got[2] == ""
    assert got[3] == "x y z w only once here"
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the old reassembly's signature nodes must be gone: the (id, pos)
    # anti-join and the collect_list sort-rebuild aggregate
    assert "LeftAnti" not in plan
    assert "collect_list" not in plan
    # the row-local rebuild is present
    assert "array_except" in plan
