"""Text-analysis column functions (functions/text.py): the single-pass
stopword_counts array vs the per-language filters, quality_keep's
stopword floor, and lang-id tie-break/und semantics.

No siskin counterpart (SURVEY.md §7.5 extension surface); semantics are
pinned so the DuckDB oracle for text_quality cannot drift.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from siskin_spark.functions import text as X

DOCS = [
    ("d1", "the cat sat on the mat and the dog is in a box"),
    ("d2", "der hund ist ein tier und die katze"),
    ("d3", "le chat est un animal et la porte les une"),
    ("d4", "xyzzy qwerty plugh corge grault"),
    ("d5", ""),
    ("d6", "und und und der die das"),
    ("d7", "a  b   c the  of"),  # multi-space -> empty tokens
]


@pytest.fixture(scope="module")
def scored(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"]).select(
        "doc_id", "text", X.tokens("text").alias("toks")
    )
    return df


def test_stopword_counts_matches_per_language_filters(spark, scored):
    """The single aggregate pass must agree with 12 independent
    stopword_count_expr filters on every row and every profile."""
    langs = tuple(X.STOPWORDS)
    got = scored.select(
        "doc_id",
        X.stopword_counts(F.col("toks")).alias("counts"),
        *[X.stopword_count_expr(F.col("toks"), lg).alias(f"n_{lg}") for lg in langs],
    ).collect()
    assert len(got) == len(DOCS)
    for r in got:
        for i, lg in enumerate(langs):
            assert r["counts"][i] == r[f"n_{lg}"], (r["doc_id"], lg)


def test_stopword_counts_multi_profile_word(spark, monkeypatch):
    """A word belonging to SEVERAL profiles increments every owning
    slot (the membership map stores an index list per word)."""
    fake = {"aa": ("shared", "only_a"), "bb": ("shared", "only_b")}
    monkeypatch.setattr(X, "STOPWORDS", fake)
    df = spark.createDataFrame([("x", ["shared", "only_b", "shared"])], ["id", "toks"])
    row = df.select(X.stopword_counts(F.col("toks")).alias("c")).first()
    # 'shared' x2 counts in both profiles; 'only_b' once in bb
    assert row["c"] == [2, 3]


def test_lang_scores_argmax_and_und(spark, scored):
    out = {
        r["doc_id"]: r["lang"]
        for r in scored.select(
            "doc_id", X.lang_from_scores(X.lang_scores(F.col("toks"))).alias("lang")
        ).collect()
    }
    assert out["d1"] == "en"
    assert out["d2"] == "de"
    assert out["d3"] == "fr"
    assert out["d4"] == "und"  # zero stopword hits
    assert out["d5"] == "und"  # empty text


def test_lang_id_tie_break_first_listed(spark):
    """'und der die' hits de 3x; a tie between two profiles goes to the
    first-listed language in STOPWORDS order (en before de here)."""
    df = spark.createDataFrame(
        [("t", ["the", "a", "der", "die"])], ["id", "toks"]
    )  # en 2, de 2 -> tie -> en (listed first)
    row = df.select(X.lang_id(F.col("toks")).alias("lang")).first()
    assert row["lang"] == "en"


def test_quality_keep_stopword_floor(spark):
    """The floor is REAL: a long, well-shaped doc with zero stopwords
    is dropped; the same doc with stopwords is kept; threshold is
    parameterized."""
    prose = "the cat sat on a mat and the dog is in to of a box now"
    gibberish = "qq ww ee rr tt yy uu ii oo pp zz xx cc vv bb"
    df = spark.createDataFrame([("p", prose), ("g", gibberish)], ["id", "text"])
    out = {
        r["id"]: r["keep"]
        for r in df.select("id", X.quality_keep("text").alias("keep")).collect()
    }
    assert out["p"] is True
    assert out["g"] is False  # fails ONLY the stopword floor
    # floor at 0.0 admits the gibberish again (and is the pre-fix behavior)
    out0 = {
        r["id"]: r["keep"]
        for r in df.select(
            "id", X.quality_keep("text", min_stopword_ratio=0.0).alias("keep")
        ).collect()
    }
    assert out0["g"] is True


def test_quality_keep_features_reuse_and_arg_contract(spark):
    df = spark.createDataFrame([("p", "the cat is on the mat here now ok yes")], ["id", "text"])
    staged = df.select("id", "text", X.tokens("text").alias("toks"))
    ft = X.quality_features(F.col("text"), toks=F.col("toks"))
    row = staged.select(X.quality_keep(features=ft).alias("keep")).first()
    assert row["keep"] is True
    with pytest.raises(ValueError):
        X.quality_keep()  # neither text nor features


def test_quality_features_shared_en_count(spark):
    """en_stopword_count passthrough yields the same stopword_ratio as
    the inline filter."""
    df = spark.createDataFrame([("p", "the cat is on the mat")], ["id", "text"])
    staged = df.select(
        "id", "text", X.tokens("text").alias("toks")
    ).withColumn("counts", X.stopword_counts(F.col("toks")))
    inline = X.quality_features(F.col("text"), toks=F.col("toks"))["stopword_ratio"]
    shared = X.quality_features(
        F.col("text"), toks=F.col("toks"), en_stopword_count=F.col("counts")[0]
    )["stopword_ratio"]
    row = staged.select(inline.alias("a"), shared.alias("b")).first()
    assert row["a"] == row["b"]


def test_bpe_and_symbol_counts_match_regex_forms(spark):
    """The regex-free bpe_token_count / symbol_count are value-
    identical to the regexp_count forms they replace (the regex forms
    materialize every match string — 3.4x/80x slower measured at 3M
    docs). Fixed adversarial cases here; random ones in
    test_properties.py."""
    rows = [
        ("a", "w3_1498 plain words 42 and 3.14!"),
        ("b", ""),
        ("c", "___---..."),
        ("d", "abc123def456"),
        ("e", "  tabs\tand\nnewlines\r\x0b\x0c end  "),
        ("f", "unicode: café über —dash sep"),
        ("g", "a"),
        ("h", "9"),
        ("i", "!"),
        ("j", "Mixed CASE With-Hyphens and_underscores 007"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = df.select(
        "id",
        X.bpe_token_count("text").alias("fast"),
        F.regexp_count("text", F.lit(X.TOKEN_REGEX)).alias("slow"),
        X.symbol_count("text").alias("fast_sym"),
        F.regexp_count("text", F.lit(r"[^A-Za-z0-9 ]")).alias("slow_sym"),
    ).collect()
    for r in got:
        assert r["fast"] == r["slow"], r
        assert r["fast_sym"] == r["slow_sym"], r


def test_scrub_pii_masks_each_kind(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            Row(i=0, t="mail bob.smith+x@sub.example.co.uk now"),
            Row(i=1, t="ssn 123-45-6789 and phone +1 (555) 010-4477"),
            Row(i=2, t="host 192.168.0.1 port 80"),
            Row(i=3, t="clean text with no identifiers at all"),
            Row(i=4, t="two mails a@b.io c@d.org one ip 10.0.0.7"),
        ]
    )
    out = {
        r["i"]: (r["s"], r["n"].asDict())
        for r in df.select(
            "i",
            scrub_pii("t").alias("s"),
            pii_counts("t").alias("n"),
        ).collect()
    }
    assert out[0][0] == "mail <EMAIL> now"
    assert out[0][1] == {"email": 1, "ssn": 0, "ipv4": 0, "phone": 0}
    # the SSN must NOT be double-billed as a phone; the phone is caught
    assert out[1][0] == "ssn <SSN> and phone <PHONE>"
    assert out[1][1] == {"email": 0, "ssn": 1, "ipv4": 0, "phone": 1}
    assert out[2][0] == "host <IPV4> port 80"
    assert out[3][0] == "clean text with no identifiers at all"
    assert sum(out[3][1].values()) == 0
    assert out[4][0] == "two mails <EMAIL> <EMAIL> one ip <IPV4>"
    assert out[4][1] == {"email": 2, "ssn": 0, "ipv4": 1, "phone": 0}


def test_scrub_pii_kind_subset(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import scrub_pii

    df = spark.createDataFrame([Row(t="a@b.io and 1.2.3.4")])
    got = df.select(scrub_pii("t", kinds=("ipv4",)).alias("s")).collect()[0]["s"]
    assert got == "a@b.io and <IPV4>"


def test_repetition_keep_gate(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import (
        dup_line_fraction,
        repetition_keep,
        with_top_ngram_frac,
    )

    df = spark.createDataFrame(
        [
            Row(i=0, t="spam spam spam spam spam spam"),      # top-2gram heavy
            # long diverse text: any single bigram is well under 20%
            # of the chars (the Gopher thresholds assume real docs,
            # not 6-word strings)
            Row(i=1, t=" ".join(f"word{k}" for k in range(40))),
            Row(i=2, t="nav\nbody one\nnav\nbody two\nnav"),  # dup lines
        ]
    )
    got = {
        r["i"]: r["keep"]
        for r in with_top_ngram_frac(df, text_col="t").select(
            "i",
            repetition_keep(
                dup_line_fraction("t"), F.col("top_2gram_frac")
            ).alias("keep"),
        ).collect()
    }
    assert got[0] is False   # one repeated bigram covers ~the whole doc
    assert got[1] is True
    assert got[2] is False   # 2/5 duplicate lines > 0.30


def test_mojibake_signal(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import mojibake_count, mojibake_frac

    df = spark.createDataFrame(
        [
            Row(i=0, t="perfectly clean ascii text"),
            Row(i=1, t="cafÃ© naÃ¯ve â€œquotedâ€"),   # cp1252 mojibake
            Row(i=2, t="failed �� decode"),  # replacement chars
            Row(i=3, t="légitime français: âge, être"),  # real accents: clean
            Row(i=4, t=""),
        ]
    )
    got = {
        r["i"]: (r["n"], r["f"])
        for r in df.select(
            "i", mojibake_count("t").alias("n"), mojibake_frac("t").alias("f")
        ).collect()
    }
    assert got[0] == (0, 0.0)
    assert got[1][0] == 4 and got[1][1] > 0.1   # 2x Ã + 2x â€
    assert got[2][0] == 2
    assert got[3] == (0, 0.0)                   # lowercase accents don't trip it
    assert got[4] == (0, 0.0)


def test_dedup_lines_within_doc(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import dedup_lines_within_doc

    df = spark.createDataFrame(
        [
            Row(i=0, t="a\nb\na\n\nb\nc"),       # repeats of a and b drop
            Row(i=1, t="x\n\n\nx\nx"),           # blanks all survive
            Row(i=2, t="only one line"),
            Row(i=3, t=""),
            Row(i=4, t=None),
        ]
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", dedup_lines_within_doc("t").alias("d")
        ).collect()
    }
    assert got[0] == "a\nb\n\nc"          # order kept, blank kept in place
    assert got[1] == "x\n\n"              # later x's drop, all blanks stay
    assert got[2] == "only one line"
    assert got[3] == ""
    assert got[4] is None
    # token-granularity variant (sep=' ')
    tok = df.filter("i = 0").select(
        dedup_lines_within_doc(F.lit("w1 w2 w1 w3 w2"), sep=" ").alias("d")
    ).first()["d"]
    assert tok == "w1 w2 w3"


def _py_bucket(tok: str, seed: int, dim: int) -> int:
    import hashlib

    h = hashlib.md5(f"{seed}:{tok}".encode()).hexdigest()
    return int(h[:2], 16) if dim == 256 else int(h[:8], 16) % dim


def test_hashed_bow_logit_matches_python(spark):
    from pyspark.sql import Row

    from siskin_spark.functions.text import hashed_bow_logit

    w256 = [((b * 2654435761) % 4096) - 2048 for b in range(256)]
    w40 = [((b * 97) % 200) - 100 for b in range(40)]
    texts = ["the quick brown fox", "a a a", "", "one"]
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
    got = {
        r["i"]: (r["l256"], r["l40"])
        for r in df.select(
            "i",
            hashed_bow_logit("t", w256, seed=0).alias("l256"),
            hashed_bow_logit("t", w40, seed=3).alias("l40"),
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")  # '' splits to [''] — engine convention
        want256 = sum(w256[_py_bucket(tok, 0, 256)] for tok in toks)
        want40 = sum(w40[_py_bucket(tok, 3, 40)] for tok in toks)
        assert got[i] == (want256, want40), (i, t)


def test_hashed_bow_logit_is_a_pure_map(spark):
    """The classifier score must add NO shuffle — corpus-scan cost."""
    from siskin_spark.functions.text import hashed_bow_logit

    w = [1] * 256
    df = spark.range(100).select(
        F.concat(F.lit("tok "), F.col("id").cast("string")).alias("t")
    )
    plan = (
        df.select(hashed_bow_logit("t", w).alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_hashed_bow_logit_xxhash64_family_golden(spark):
    """The scale family (r8 verdict ask #4): xxhash64 buckets are a
    different — pinned — distribution from the md5 oracle family, and
    the logit matches both a literal golden (regression pin) and an
    independent explode+join evaluation of the same bucket function."""
    from pyspark.sql import Row

    from siskin_spark.functions.text import hashed_bow_logit

    w256 = [((b * 2654435761) % 4096) - 2048 for b in range(256)]
    w40 = [((b * 97) % 200) - 100 for b in range(40)]
    texts = ["the quick brown fox", "a a a", "", "one"]
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(texts)])
    got = {
        r["i"]: (r["x256"], r["x40"])
        for r in df.select(
            "i",
            hashed_bow_logit("t", w256, seed=0, hash_family="xxhash64").alias("x256"),
            hashed_bow_logit("t", w40, seed=3, hash_family="xxhash64").alias("x40"),
        ).collect()
    }
    # golden literals: pinned once from the JVM xxhash64 — any change
    # to the bucket derivation breaks scoring against exported weights
    assert got == {0: (-2624, 117), 1: (5298, 138), 2: (-411, 40), 3: (-294, 89)}

    # per-token bucket distributions, both families, pinned side by side
    toks = ["the", "quick", "brown", "fox", "a", "", "one"]
    td = spark.createDataFrame([Row(t=t) for t in toks])
    buckets = {
        r["t"]: (r["bx"], r["bm"])
        for r in td.select(
            "t",
            F.pmod(F.xxhash64(F.lit(0), F.col("t")), F.lit(256)).alias("bx"),
            F.conv(
                F.substring(F.md5(F.concat(F.lit("0:"), F.col("t"))), 1, 2), 16, 10
            ).cast("long").alias("bm"),
        ).collect()
    }
    assert buckets == {
        "the": (48, 215), "quick": (210, 105), "brown": (82, 35),
        "fox": (108, 209), "a": (198, 2), "": (245, 154), "one": (250, 248),
    }
    # independent reference: the xxhash64 logit equals summing the
    # pinned per-token bucket weights
    for i, t in enumerate(texts):
        want = sum(w256[buckets[tok][0]] for tok in t.split(" "))
        assert got[i][0] == want, (i, t)

    import pytest

    with pytest.raises(ValueError, match="hash_family"):
        df.select(hashed_bow_logit("t", w256, hash_family="sha1"))


def _py_dedup_lines(t: str, sep: str = "\n") -> str:
    seen, out = set(), []
    for ln in t.split(sep):
        if ln == "":
            out.append(ln)
        elif ln not in seen:
            seen.add(ln)
            out.append(ln)
    return sep.join(out)


def test_dedup_lines_sorted_form_matches_quadratic(spark):
    """Both routing branches must implement the identical contract:
    random docs (with blanks, repeats, unicode) evaluated with the
    threshold forcing each form give the python-reference answer."""
    import random

    from pyspark.sql import Row

    from siskin_spark.functions.text import dedup_lines_within_doc

    rng = random.Random(11)
    vocab = ["alpha", "beta", "", "gämma", "x y", "beta", "Z"]
    docs = [
        "\n".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([Row(i=i, t=t) for i, t in enumerate(docs)])
    for thresh in (0, 10_000):  # force sorted form / force quadratic form
        got = {
            r["i"]: r["d"]
            for r in df.select(
                "i", dedup_lines_within_doc("t", sort_above=thresh).alias("d")
            ).collect()
        }
        for i, t in enumerate(docs):
            assert got[i] == _py_dedup_lines(t), (thresh, i, t)


def test_dedup_lines_adversarial_100k_line_doc(spark):
    """r8 verdict #3: a pathological 100K-line document must complete in
    bounded time (the quadratic form would do ~10^10 comparisons; the
    sort-based route does ~10^6). Value checked against the python
    reference."""
    import time

    from pyspark.sql import Row

    from siskin_spark.functions.text import dedup_lines_within_doc

    # 50K distinct lines, each appearing twice, interleaved
    lines = [f"line-{i % 50_000}" for i in range(100_000)]
    doc = "\n".join(lines)
    df = spark.createDataFrame([Row(t=doc)])
    t0 = time.perf_counter()
    out = df.select(dedup_lines_within_doc("t").alias("d")).first()["d"]
    elapsed = time.perf_counter() - t0
    assert out == _py_dedup_lines(doc)
    assert elapsed < 120, f"adversarial doc took {elapsed:.0f}s"


def test_canonical_url_dedup_key(spark):
    """URL canonicalization: scheme/case/www/port/tracking/fragment
    variants of the same page map to one key; distinct pages stay
    distinct."""
    from pyspark.sql import Row

    from siskin_spark.functions.text import canonical_url

    cases = {
        "https://WWW.Example.com/Path/": "example.com/path",
        "http://example.com:80/Path": "example.com/path",
        "https://example.com:443/path#section-2": "example.com/path",
        "example.com/path?utm_source=tw&utm_medium=x": "example.com/path",
        "https://example.com/path?id=7&utm_campaign=y": "example.com/path?id=7",
        "https://example.com/path?utm_source=a&id=7": "example.com/path?id=7",
        "https://example.com/path?fbclid=abc&gclid=Z": "example.com/path",
        "https://example.com/other": "example.com/other",
        "https://example.com/path?page=2": "example.com/path?page=2",
        "HTTPS://sub.example.com/": "sub.example.com",
        "example.com": "example.com",
        # r9 review regressions: param-boundary anchoring (a param
        # NAMED xgclid is not a tracking param), port before '?', a
        # path segment that happens to contain ':80/', and a URL whose
        # first surviving param lost its '?' lead
        # (r10 param sort reorders; the point is xgclid SURVIVES)
        "https://example.com/p?xgclid=1&id=2": "example.com/p?id=2&xgclid=1",
        "https://example.com:443?a=1": "example.com?a=1",
        "http://example.com:80?a=1": "example.com?a=1",
        "https://example.com/t:80/x": "example.com/t:80/x",
        "https://example.com/p?utm_x=1&id=7": "example.com/p?id=7",
        "https://example.com/p?utm_a=1&utm_b=2&c=3": "example.com/p?c=3",
        # a literal '&' in a query-less path must NOT be rewritten to
        # '?' (would falsely merge with the real ?-page) — r9 review
        "https://example.com/news&events": "example.com/news&events",
        # each global pass strips every other consecutive tracking
        # param, so 3 chained passes cover runs up to ~8 (beyond that
        # params survive — fail-safe: no false merge, weaker key)
        "https://e.com/p?utm_a=1&utm_b=2&utm_c=3&z=9": "e.com/p?z=9",
        "https://e.com/p?utm_a=1&utm_b=2&utm_c=3&utm_d=4&z=9": "e.com/p?z=9",
        "https://e.com/p?utm_a=1&utm_b=2&utm_c=3&utm_d=4&utm_e=5&utm_f=6": "e.com/p",
        # r10: query-param ORDER no longer splits a page's dedup key
        # (the same page via different referrers), and the sort never
        # touches query-less paths — '&' in a path stays in place
        "https://e.com/p?b=2&a=1": "e.com/p?a=1&b=2",
        "https://e.com/p?a=1&b=2": "e.com/p?a=1&b=2",
        "https://e.com/p?b=2&utm_x=t&a=1": "e.com/p?a=1&b=2",
        "https://e.com/x&y?b=2&a=1": "e.com/x&y?a=1&b=2",
        "https://e.com/p?z=": "e.com/p?z=",
        # r10: unreserved percent-escapes decode ('%7Euser' == '~user',
        # '%41' == 'a' since the key is lowercased anyway); reserved
        # escapes like %2F stay encoded (decoding them WOULD change
        # path structure)
        "https://e.com/%7Euser": "e.com/~user",
        "https://e.com/~user": "e.com/~user",
        "https://e.com/%41%62c": "e.com/abc",
        "https://e.com/a%2Fb": "e.com/a%2fb",
    }
    df = spark.createDataFrame([Row(i=i, u=u) for i, u in enumerate(cases)])
    got = {
        r["i"]: r["k"]
        for r in df.select("i", canonical_url("u").alias("k")).collect()
    }
    for i, (u, want) in enumerate(cases.items()):
        assert got[i] == want, (u, got[i], want)


def test_with_top_ngram_frac_toks_col_matches_regex_form(spark):
    """r13 opt: the staged-tokens gram path (toks_col=) must equal the
    regex-extraction path wherever token separators are single spaces
    (the corpus contract both forms assume)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from siskin_spark.functions.text import tokens, with_top_ngram_frac

    rows = [
        Row(i=0, t="spam spam spam spam"),
        Row(i=1, t="one two three two three two"),
        Row(i=2, t="single"),
        Row(i=3, t=""),
        Row(i=4, t="a b"),
        Row(i=5, t=" ".join(f"w{k % 3}" for k in range(25))),
    ]
    df = spark.createDataFrame(rows).withColumn("_toks", tokens("t"))
    a = {
        r["i"]: r["top_2gram_frac"]
        for r in with_top_ngram_frac(df, text_col="t").collect()
    }
    b = {
        r["i"]: r["top_2gram_frac"]
        for r in with_top_ngram_frac(df, text_col="t", toks_col="_toks").collect()
    }
    assert a == b
    assert a[0] > 0.0  # the repeated bigram really registers
