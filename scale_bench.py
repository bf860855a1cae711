#!/usr/bin/env python
"""At-scale throughput proof for the two span-tool-shaped operators the
baseline quantifies (BASELINE.md):

- ``oa_flag``   vs span-oa-filter: 2.5M rec/min = ~41.7K rec/s (Go,
  single node; reference workflows/ai.py:778)
- ``licensing`` vs span-tag: ~20K rec/s with 22 ISILs and ~30 holdings
  files of 10-50K entries (reference sources/amsl.py:919-922)

The sf0.1 bench numbers are overhead-dominated (150K records finish in
under a second), so this harness synthesizes an sf1+-equivalent
intermediate-schema corpus (default 10M records, ~REAL workload shape:
1-2 ISSNs per record, 22-ISIL filter config, 30 KBART files x ~30K
rows, 50K-entry OA ISSN list) ONCE into a local parquet dir, then
times the operators end-to-end (parquet scan -> operator -> noop sink)
and reports records/second.

    python scale_bench.py                 # 10M records, local[$CPUS]
    SCALE_RECORDS=2000000 python scale_bench.py
    SCALE_ONLY=licensing SCALE_RECORDS=2000000 python scale_bench.py
                                          # controls + oa_flag/licensing legs

Prints ONE JSON line:
    {"metric": "records_per_second", "oa_flag": N, "licensing_tag": N,
     "records": R, ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from siskin_spark.session import get_spark  # noqa: E402

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scale_corpus")

N_ISSN_POOL = 200_000
N_OA_ISSNS = 50_000
N_HOLDINGS_FILES = 30
HOLDINGS_ROWS_PER_FILE = 30_000
N_ISILS = 22
N_SOURCES = 40
N_COLLECTIONS = 400


def _issn(col):
    """Deterministic ISSN-shaped string from an int column."""
    return F.concat(
        F.lpad((col % 10_000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(((col / 10_000).cast("long") % 1_000).cast("string"), 3, "0"),
        F.lit("X"),
    )


def build_corpus(spark, n_records: int) -> None:
    """Synthesize the IS-shaped corpus once (records + holdings), so
    timed runs scan parquet exactly like the production pipeline."""
    recs = (
        spark.range(n_records)
        .select(
            F.concat(F.lit("ai-x-"), F.col("id").cast("string")).alias("finc_id"),
            (F.col("id") % N_SOURCES).cast("string").alias("finc_source_id"),
            F.array(
                F.concat(F.lit("Coll "), (F.col("id") % N_COLLECTIONS).cast("string"))
            ).alias("finc_mega_collection"),
            F.array(F.lit("Topic"), F.lit("Other")).alias("subjects"),
            F.array(_issn(F.col("id") % N_ISSN_POOL)).alias("rft_issn"),
            F.when(
                F.col("id") % 2 == 0,
                F.array(_issn((F.col("id") * 7 + 13) % N_ISSN_POOL)),
            ).alias("rft_eissn"),
            F.timestamp_seconds(
                F.lit(631_152_000) + (F.col("id") % 1_000_000_000)
            ).alias("x_date"),  # 1990..~2021
            ((F.col("id") % 50) + 1).cast("string").alias("rft_volume"),
            ((F.col("id") % 12) + 1).cast("string").alias("rft_issue"),
            F.array(F.lit("x")).alias("x_labels"),
        )
    )
    recs.write.mode("overwrite").parquet(os.path.join(CORPUS, "records"))

    n_hold = N_HOLDINGS_FILES * HOLDINGS_ROWS_PER_FILE
    holdings = spark.range(n_hold).select(
        F.concat(
            F.lit("file:kbart_"), (F.col("id") % N_HOLDINGS_FILES).cast("string")
        ).alias("file_uri"),
        F.concat(F.lit("Title "), F.col("id").cast("string")).alias(
            "publication_title"
        ),
        # holdings cover a contiguous band of the ISSN pool so a
        # realistic fraction of records hits the KBART join
        _issn(F.col("id") % (N_ISSN_POOL // 2)).alias("print_identifier"),
        F.when(F.col("id") % 3 == 0, _issn((F.col("id") + 1) % (N_ISSN_POOL // 2)))
        .alias("online_identifier"),
        F.date_add(F.lit("1950-01-01").cast("date"), (F.col("id") % 20_000).cast("int"))
        .alias("date_first_issue_online"),
        F.when(
            F.col("id") % 4 != 0,
            F.date_add(
                F.lit("1990-01-01").cast("date"), (F.col("id") % 12_000).cast("int")
            ),
        ).alias("date_last_issue_online"),
        F.when(F.col("id") % 5 == 0, F.lit("R1Y"))
        .when(F.col("id") % 11 == 0, F.lit("P3Y"))
        .alias("embargo_info"),
        F.when(F.col("id") % 7 == 0, (F.col("id") % 30).cast("int")).alias(
            "num_first_vol_online"
        ),
        F.lit(None).cast("int").alias("num_first_issue_online"),
        F.when(F.col("id") % 9 == 0, (F.col("id") % 60 + 10).cast("int")).alias(
            "num_last_vol_online"
        ),
        F.lit(None).cast("int").alias("num_last_issue_online"),
    )
    holdings.write.mode("overwrite").parquet(os.path.join(CORPUS, "holdings"))

    # D1 snapshot corpus: an append-only feed of record VERSIONS, ~3
    # versions per DOI (reference: span-crossref-snapshot compacts
    # 600M-1B feed rows to 130-157M keys; BASELINE.md:15 = 28K docs/s)
    n_keys = max(n_records // 3, 1)
    versions = spark.range(n_records).select(
        F.concat(F.lit("10.1000/d"), (F.col("id") % n_keys).cast("string")).alias(
            "doi"
        ),
        F.col("id").alias("vid"),
        F.timestamp_seconds(F.lit(1_500_000_000) + (F.col("id") / n_keys).cast("long"))
        .alias("indexed_ts"),
        F.concat(F.lit("Title v"), (F.col("id") % 7).cast("string")).alias("title"),
        (F.col("id") % 20_000).cast("string").alias("member"),
    )
    versions.write.mode("overwrite").parquet(os.path.join(CORPUS, "versions"))

    # near-dup corpus: 1/10th of n_records documents, ~40 words each,
    # with a planted ~3% near-duplicate tail (same word stream, one
    # token perturbed) so LSH banding has real work to do
    n_docs = max(n_records // 10, 1)
    base = spark.range(n_docs).select(
        F.col("id"),
        # ~3% of docs (id % 33 == 0) share a text seed with a sibling
        # (id - id%10 -> seed family, perturbed by id%10 below)
        F.when(F.col("id") % 33 == 0, F.col("id") - (F.col("id") % 10))
        .otherwise(F.col("id"))
        .alias("seed"),
    )
    # modulus must exceed the seed space: with a small modulus, seeds a
    # multiple of it apart generate IDENTICAL word streams and the
    # corpus silently becomes ~half duplicates
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"w{j}_"),
                ((F.col("seed") * (j + 7)) % 2_147_483_647).cast("string"),
            )
            for j in range(40)
        ],
    )
    docs = base.select(
        F.col("id").alias("doc_id"),
        F.concat(
            words, F.lit(" tail"), (F.col("id") % 10).cast("string")
        ).alias("text"),
    )
    docs.write.mode("overwrite").parquet(os.path.join(CORPUS, "docs"))

    # embedding corpus: n_records/10 vectors (dim 64, hash-derived
    # pseudo-random), with planted near-dup pairs (id-1, id) at two
    # perturbation levels so both recall thresholds have real truth:
    #   id % 50 == 1  -> eps 0.25 (cos ~0.97)
    #   id % 50 == 26 -> eps 0.62 (cos ~0.85)
    # For iid uniform components cos ~ 1/sqrt(1+eps^2); the truth set
    # is decided by the EXACT computed cosine, eps only spreads pairs
    # across the two thresholds.
    n_vec = max(n_records // 10, 100_000)
    eps = (
        F.when(F.col("id") % 50 == 1, F.lit(0.25))
        .when(F.col("id") % 50 == 26, F.lit(0.62))
    )
    seed = F.when(eps.isNotNull(), F.col("id") - 1).otherwise(F.col("id"))
    comp = lambda s, tag: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (F.hash(s, j, F.lit(tag)) % 10_000).cast("double") / 10_000.0,
    )
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.zip_with(
            comp(seed, "b"),
            comp(F.col("id"), "p"),
            lambda b, p: (b + F.coalesce(eps, F.lit(0.0)) * p).cast("float"),
        ).alias("embedding"),
        eps.isNotNull().alias("planted"),
    )
    vecs.write.mode("overwrite").parquet(os.path.join(CORPUS, "vectors"))

    # groupcover corpus: n_records narrow local-data rows with a SKEWED
    # key distribution — 1% of rows pile onto 1,000 hot DOIs (up to
    # ~100 sources competing per label), the rest spread over n/3 keys;
    # mixed-case DOIs exercise -lower
    gc = spark.range(n_records).select(
        F.concat(F.lit("rec-"), F.col("id").cast("string")).alias("finc_id"),
        (F.col("id") % 7).cast("string").alias("finc_source_id"),
        F.when(
            F.col("id") % 100 == 0,
            F.concat(F.lit("10.1/HOT"), (F.col("id") % 1_000).cast("string")),
        )
        .otherwise(
            F.concat(
                F.when(F.col("id") % 2 == 0, F.lit("10.1/D")).otherwise(
                    F.lit("10.1/d")
                ),
                (F.col("id") % (n_records // 3 + 1)).cast("string"),
            )
        )
        .alias("doi"),
        F.array(
            F.concat(F.lit("L"), (F.col("id") % 5).cast("string")),
            F.concat(F.lit("L"), (F.col("id") % 7 + 5).cast("string")),
        ).alias("labels"),
    )
    gc.write.mode("overwrite").parquet(os.path.join(CORPUS, "groupcover"))


def filter_config() -> dict:
    """22-ISIL config in the reference's styles (amsl.py:880-886):
    source+collection conjunctions, ISSN-list branches, and
    holdings-file leaves spread over the 30 KBART files."""
    cfg: dict = {}
    for i in range(N_ISILS):
        isil = f"DE-{i:02d}"
        sids = [str((i * 3 + k) % N_SOURCES) for k in range(3)]
        colls = [f"Coll {(i * 17 + k) % N_COLLECTIONS}" for k in range(8)]
        if i % 3 == 0:
            cfg[isil] = {"and": [{"source": sids}, {"collection": colls}]}
        elif i % 3 == 1:
            issns = [
                f"{(i * 997 + k * 13) % 10_000:04d}-{(i + k) % 1_000:03d}X"
                for k in range(2_000)
            ]
            cfg[isil] = {
                "or": [
                    {"and": [{"source": sids}, {"collection": colls}]},
                    {"and": [{"source": sids}, {"issn": {"list": issns}}]},
                ]
            }
        else:
            files = [
                f"file:kbart_{(i + k) % N_HOLDINGS_FILES}" for k in range(1 + i % 3)
            ]
            cfg[isil] = {
                "and": [{"source": sids}, {"holdings": {"files": files}}]
            }
    return cfg


def _timed_build(fn) -> float:
    """Clock CONSTRUCTION + materialization: operators that do eager
    work up front (semantic_dedup_pairs' assignment/checkpoint/
    histogram, vocab_table's corpus total) would otherwise escape a
    timer that only wraps the noop write."""
    t0 = time.perf_counter()
    fn().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _control_leg(spark, results: dict, timed) -> None:
    """Host-speed calibration (r9, verdict #5): the r8 session measured
    20-60% uniform slowdown on UNTOUCHED code (hypervisor steal), which
    made cross-session absolute comparisons guesswork. Two fixed
    CPU-bound controls run first so every artifact carries its own
    normalizer — consumers should report operator ratios against the
    SAME round's control, and compare rounds via control-to-control:

    - ``control_jvm_xxhash_s``: bit_xor(xxhash64(id)) over a pinned
      2e10-row range — pure JVM whole-stage-codegen arithmetic on all
      cores, the substrate every operator leg runs on (~3s on an
      unloaded 32-thread host: long enough to average over scheduler
      jitter, short enough to run three times).
    - ``control_py_md5_s``: 2M-iteration single-thread hashlib loop on
      the driver — catches steal/core-pinning issues independent of
      the JVM.
    """
    import hashlib

    # magnitudes recorded NEXT TO the timings (never hardcoded into
    # record-assembly code elsewhere): tuning either workload then
    # keeps every artifact self-describing instead of silently
    # mislabeling the normalizer
    jvm_rows = 20_000_000_000
    py_iters = 2_000_000

    def ctrl():
        return (
            spark.range(jvm_rows)
            .select(F.xxhash64("id").alias("h"))
            # bit_xor, not sum: ANSI mode overflows a long sum of 2e10
            # uniform 64-bit hashes
            .agg(F.expr("bit_xor(h)").alias("s"))
        )

    timed(ctrl())
    results["control_jvm_xxhash_s"] = min(timed(ctrl()) for _ in range(3))
    results["control_jvm_xxhash_rows"] = jvm_rows

    def py_ctrl() -> float:
        t0 = time.perf_counter()
        h = b"seed"
        for _ in range(py_iters):
            h = hashlib.md5(h).digest()
        return time.perf_counter() - t0

    results["control_py_md5_s"] = min(py_ctrl() for _ in range(3))
    results["control_py_md5_iters"] = py_iters


def _semdedup_leg(spark, vectors, results: dict, timed) -> None:
    """C13 SemDeDup at full scale: the GEMM pair engine over (a) a
    balanced fitted-centroid set and (b) a DELIBERATELY skewed one —
    64 centroids of which 62 are exact copies of centroid 0 (ties
    assign to the smaller cid, so the copies never win): the corpus
    piles onto two cells at ~50% each, the degenerate k-means outcome
    (duplicate/collapsed centroids from empty-cell reseeding, dense
    paraphrase clusters) real web embeddings produce. Without the
    hot-cell guard the skewed case is sum(cell²) ≈ 2·(n/2)² cosine
    pairs on two join keys — 2.2e12 pairs at 3M vectors, unrunnable.

    The skewed case runs the sub-centroid split and scores it against
    the PLANTED near-dup truth (the corpus's (id-1, id) pairs at cos
    >= 0.95), recording recall where duplicates concentrate. (Its
    comparison against a hash-only split is in ``SCALE_r10_30M.json``.)
    Pair counts come from the parquet the timed run writes (ADVICE r9:
    the old ``.count()`` re-executed the whole eager pipeline a third
    time just to count)."""
    from siskin_spark.functions.vectors import (
        cosine,
        ivf_fit_centroids,
        semantic_dedup_pairs,
    )

    max_cell = 20_000
    cents = ivf_fit_centroids(vectors, k=256, sample=20_000, iters=10).cache()
    cents.count()

    # semantic_dedup_pairs is EAGER up front (GEMM assignment +
    # localCheckpoint + cell histogram + sub-centroid fit run at
    # construction) — wrap construction AND materialization; the sink
    # is the parquet the pair counts are read from afterwards
    def run_writing(fn, name: str):
        out = os.path.join(CORPUS, "semdedup_pairs", name)

        def once() -> float:
            t0 = time.perf_counter()
            fn().write.mode("overwrite").parquet(out)
            return time.perf_counter() - t0

        once()  # warm-up (scan cache, codegen, Arrow workers)
        t = min(once() for _ in range(2))
        return t, spark.read.parquet(out)

    def bal():
        return semantic_dedup_pairs(
            vectors, cents, threshold=0.95, engine="gemm",
            max_cell_rows=max_cell,
        )

    t, pairs = run_writing(bal, "balanced")
    results["semdedup_balanced_s"] = t
    results["semdedup_balanced_pairs"] = pairs.count()

    c0 = cents.filter(F.col("cid") == 0).first()["cv"]
    c0_lit = F.array(*[F.lit(float(x)).cast("float") for x in c0])
    skew = cents.filter(F.col("cid") < 64).select(
        "cid",
        F.when(F.col("cid") < 2, F.col("cv")).otherwise(c0_lit).alias("cv"),
    ).cache()
    skew.count()

    # the skew histogram + implied pair budgets, recorded so the claim
    # "the guard made this runnable" is checkable from the artifact
    from siskin_spark.functions.vectors import ivf_assign_gemm

    hist = (
        ivf_assign_gemm(vectors, skew)
        .groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = sorted((int(r["n"]) for r in hist), reverse=True)
    results["semdedup_hot_max_cell"] = counts[0]
    results["semdedup_hot_pairs_unguarded"] = sum(c * (c - 1) // 2 for c in counts)
    # per cell: s = ceil(c/max_cell) sub-cells -> ~c^2/(2s) pairs
    results["semdedup_hot_pairs_guarded"] = sum(
        c * c // (2 * (-(-c // max_cell))) for c in counts
    )

    # planted truth inside the skewed cells: the corpus's (id-1, id)
    # near-dup pairs at the operator threshold — the duplicate mass a
    # recall-preserving split must keep co-located
    truth_dir = os.path.join(CORPUS, "semdedup_truth")
    planted = vectors.filter(F.col("planted"))
    base_v = vectors.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("_b")
    )
    (
        planted.join(base_v, on="vec_id")
        .select(
            (F.col("vec_id") - 1).alias("id_a"),
            F.col("vec_id").alias("id_b"),
            cosine(F.col("_b"), F.col("embedding")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(truth_dir)
    )
    truth = spark.read.parquet(truth_dir)
    results["semdedup_planted_truth_pairs"] = truth.count()

    def hot():
        return semantic_dedup_pairs(
            vectors, skew, threshold=0.95, engine="gemm",
            max_cell_rows=max_cell,
        )

    t, pairs = run_writing(hot, "hot_subcentroid")
    results["semdedup_hot_subcentroid_s"] = t
    results["semdedup_hot_subcentroid_pairs"] = pairs.count()
    results["semdedup_hot_subcentroid_planted_found"] = truth.join(
        pairs, on=["id_a", "id_b"], how="left_semi"
    ).count()
    cents.unpersist()
    skew.unpersist()


def _clf_vocab_leg(spark, docs, results: dict, timed) -> None:
    """r9 verdict #4: the hashed-BoW classifier leg at full scale, both
    hash families (md5 = oracle parity, xxhash64 = one JVM-intrinsic
    hash per token), plus the single-pass vocab_table (r9 #2: the
    corpus total no longer re-runs the explode+count)."""
    from siskin_spark.functions.text import hashed_bow_logit
    from siskin_spark.operators.curation import vocab_table

    w = [((b * 2654435761) % 4096) - 2048 for b in range(256)]

    def clf(fam: str):
        return docs.select(
            "doc_id",
            hashed_bow_logit("text", w, seed=7, hash_family=fam).alias("logit"),
        )

    timed(clf("md5"))
    results["clf_md5_s"] = min(timed(clf("md5")) for _ in range(3))
    timed(clf("xxhash64"))
    results["clf_xxhash64_s"] = min(timed(clf("xxhash64")) for _ in range(3))

    # vocab_table runs its corpus-total agg eagerly at construction —
    # _timed_build sees BOTH passes (this is the number that would
    # catch a double-scan regression of the r9 single-pass fix)
    run = _timed_build

    def vocab():
        return vocab_table(docs, top=100_000)

    run(vocab)
    results["vocab_table_s"] = min(run(vocab) for _ in range(3))

    # r10 (r9 verdict #3): the OOV gate composed with vocab_table's
    # DEFAULT top=100_000 — far past literal_max, so this measures the
    # explode + broadcast-join + per-doc-agg form end-to-end (including
    # rebuilding the 100K-row broadcast vocab frame per call)
    from siskin_spark.operators.curation import with_oov_fraction

    toks_100k = [r["token"] for r in vocab().select("token").collect()]
    results["oov_vocab_size"] = len(toks_100k)

    def oov():
        return with_oov_fraction(docs, toks_100k).select("doc_id", "oov_frac")

    timed(oov())
    results["oov_join_100k_s"] = min(timed(oov()) for _ in range(3))


def _semdedup_incremental_leg(spark, vectors, results: dict, timed) -> None:
    """Incremental SemDeDup vs the persisted cell index (r10): a daily
    embedding batch must cost BATCH-sized assignment work plus co-cell
    cosines — never a corpus re-assignment. Measures (a) the one-time
    index build over the 99% corpus (fit + GEMM assign + clustered
    write), (b) incremental dedup of the held-out 1% batch against it —
    compare with the full-recompute `semdedup_balanced_s` leg in the
    same round's r10 artifact."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        incremental_semdedup_keep,
        semdedup_index_build,
    )

    n_vec = vectors.count()
    # batch = 1% novel slice PLUS the planted near-dup ids ≡ 1 mod 1000
    # (their eps-0.25 partners at id-1 ≡ 0 mod 1000 stay in the corpus),
    # so the leg verifies real cross-index hits, not a vacuous 0
    is_batch = (F.col("vec_id") % 100 == 37) | (F.col("vec_id") % 1000 == 1)
    batch = vectors.filter(is_batch)
    corpus = vectors.filter(~is_batch)
    idx_dir = os.path.join(CORPUS, "sem_index")
    _sh.rmtree(idx_dir, ignore_errors=True)

    t0 = time.perf_counter()
    semdedup_index_build(corpus, idx_dir, k=256, sample=100_000, iters=10)
    results["semdedup_index_build_s"] = time.perf_counter() - t0
    results["semdedup_index_vectors"] = n_vec - batch.count()

    pairs_dir = os.path.join(CORPUS, "sem_incr_pairs")

    def incr():
        return incremental_semdedup(spark, batch, idx_dir, threshold=0.95)

    # warm-up, then timed runs that WRITE the pairs once (count the
    # written table instead of re-executing the eager pipeline)
    timed(incr())
    t0 = time.perf_counter()
    incr().write.mode("overwrite").parquet(pairs_dir)
    results["semdedup_incremental_s"] = time.perf_counter() - t0
    found = spark.read.parquet(pairs_dir)
    results["semdedup_incremental_batch"] = batch.count()
    results["semdedup_incremental_pairs"] = found.count()
    results["semdedup_incremental_survivors"] = incremental_semdedup_keep(
        batch, found
    ).count()


def _semincr_chunked_leg(spark, vectors, results: dict, timed) -> None:
    """r11 verdict #1: the CODED batch-chunking path in the gemm admit,
    measured with a batch several times the chunk size. Index over 90%
    of the corpus, admit the 10% slice (≈n_vec/10 vectors — at 64-dim
    that is under the default 256 MB packed budget, so the 'unchunked'
    leg runs as ONE packed broadcast) and again with
    ``batch_chunk_rows=65_536`` (≈5 chunks): pair counts must agree
    and the chunked run's cost shows what the driver-memory bound
    costs — cid-sorted chunks prune the index scan to their own
    cells, so the index is still read ~once in total."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    # the %10 slice alone would MISS every planted id (≡1 mod 50 is
    # never ≡3 mod 10) and the leg would verify zero real hits; pull
    # the ≡1 mod 1000 planted ids in so cross-index pairs exist while
    # their id-1 partners stay in the corpus (same trick as the r10
    # _semdedup_incremental_leg)
    is_batch = (F.col("vec_id") % 10 == 3) | (F.col("vec_id") % 1000 == 1)
    batch = vectors.filter(is_batch)
    corpus = vectors.filter(~is_batch)
    idx_dir = os.path.join(CORPUS, "sem_index_r11")
    _sh.rmtree(idx_dir, ignore_errors=True)
    t0 = time.perf_counter()
    semdedup_index_build(corpus, idx_dir, k=256, sample=100_000, iters=10)
    results["semincr_chunk_index_build_s"] = time.perf_counter() - t0
    results["semincr_chunk_batch"] = batch.count()

    legs = (
        ("unchunked", {}),
        ("chunked64k", {"batch_chunk_rows": 65_536}),
    )
    for label, kw in legs:
        pairs_dir = os.path.join(CORPUS, f"sem_incr_pairs_{label}")

        def incr():
            return incremental_semdedup(
                spark, batch, idx_dir, threshold=0.95, **kw
            )

        timed(incr())  # warm-up
        t0 = time.perf_counter()
        incr().write.mode("overwrite").parquet(pairs_dir)
        results[f"semincr_{label}_s"] = time.perf_counter() - t0
        results[f"semincr_{label}_pairs"] = (
            spark.read.parquet(pairs_dir).count()
        )


def _vectors768(spark):
    """Synthesize-once 400 K x 768 corpus (+ planted (id-1, id) pairs
    at eps 0.25) shared by the 768-dim legs; returns the DataFrame."""
    n_vec, dim = 400_000, 768
    path = os.path.join(CORPUS, "vectors768")
    if not os.path.exists(path):
        eps = F.when(F.col("id") % 50 == 1, F.lit(0.25))
        seed = F.when(eps.isNotNull(), F.col("id") - 1).otherwise(F.col("id"))
        comp = lambda s, tag: F.transform(  # noqa: E731
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.hash(s, j, F.lit(tag)) % 10_000).cast("double")
            / 10_000.0,
        )
        spark.range(n_vec).select(
            F.col("id").alias("vec_id"),
            F.zip_with(
                comp(seed, "b"), comp(F.col("id"), "p"),
                lambda b, p: (b + F.coalesce(eps, F.lit(0.0)) * p)
                .cast("float"),
            ).alias("embedding"),
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _dim768_leg(spark, results: dict, timed) -> None:
    """r11: the chunked-admit claim at REALISTIC embedding width. The
    main corpus is 64-dim, where the default 256 MB packed budget is
    ~512 K rows and real batches never chunk; sentence embeddings are
    768-dim, where the same budget derives ~43 K rows/chunk. This leg
    synthesizes a 400 K x 768 corpus (+ planted (id-1, id) pairs),
    indexes 75 % of it, and admits the 100 K-vector remainder — which
    the budget math splits into ~3 chunks — BOTH ways, pinning pair
    parity and pricing the chunking at the width the docstring
    reasons about."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    vecs = _vectors768(spark)
    is_batch = (F.col("vec_id") % 4 == 3) | (F.col("vec_id") % 1000 == 1)
    batch = vecs.filter(is_batch)
    corpus = vecs.filter(~is_batch)
    idx = os.path.join(CORPUS, "sem_index_768")
    _sh.rmtree(idx, ignore_errors=True)
    t0 = time.perf_counter()
    semdedup_index_build(corpus, idx, k=128, sample=50_000, iters=8)
    results["d768_index_build_s"] = time.perf_counter() - t0
    results["d768_batch"] = batch.count()
    for label, kw in (
        ("budget_chunked", {}),  # default 256 MB -> ~43K rows/chunk
        ("one_broadcast", {"batch_chunk_rows": 1 << 30}),
    ):
        pairs_dir = os.path.join(CORPUS, f"sem_incr_pairs_768_{label}")

        def incr():
            return incremental_semdedup(
                spark, batch, idx, threshold=0.95, **kw
            )

        timed(incr())  # warm-up
        t0 = time.perf_counter()
        incr().write.mode("overwrite").parquet(pairs_dir)
        results[f"d768_{label}_s"] = time.perf_counter() - t0
        results[f"d768_{label}_pairs"] = (
            spark.read.parquet(pairs_dir).count()
        )


def _rss_watch():
    """Background sampler of the DRIVER process's resident set (VmRSS
    from /proc/self/status, 20 Hz): peak-during-window, not the
    lifetime ru_maxrss high-water (which earlier legs would mask).
    The py4j JVM is a separate process, so this is exactly the Python
    driver residency the chunked-collect claim is about."""
    import threading

    def probe() -> int:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])  # kB
        return 0

    state = {"peak": probe(), "base": probe(), "stop": False}

    def run():
        while not state["stop"]:
            state["peak"] = max(state["peak"], probe())
            time.sleep(0.05)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    state["_thread"] = t
    return state


def _daily_gate_leg(spark, results: dict, timed) -> None:
    """r12 (verdict asks #1 + #6): the COMPOSED daily-gate path at
    realistic 768-dim width, end to end — SQ8 int8 build -> idempotent
    staged append -> compaction -> nprobe=2 chunked admit under a
    32 MB batch budget (the ~0.6 GB packed batch x nprobe 2 is ~38x
    the budget, so the admit runs as ~dozens of per-cid-range
    collects) — against its float32 / nprobe=1 sibling, plus a
    one-broadcast admit of the SAME composed index for the r12 driver
    claim: per-range collects must keep the driver's peak RSS near
    its base while one_broadcast pays the whole packed batch. The
    one-broadcast run goes LAST because glibc retains freed arenas —
    its high-water would contaminate later samples. Pair parity
    between the chunked and one-broadcast admits is recorded, not
    assumed."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_append,
        semdedup_index_build,
        semdedup_index_compact,
    )

    vecs = spark.read.parquet(os.path.join(CORPUS, "vectors768"))
    is_admit = F.col("vec_id") % 4 == 3
    is_append = (F.col("vec_id") % 4 == 2) & (F.col("vec_id") % 5 == 0)
    admit_batch = vecs.filter(is_admit)
    append_slice = vecs.filter(is_append)
    corpus = vecs.filter(~is_admit & ~is_append)
    results["dg_admit_rows"] = admit_batch.count()
    results["dg_append_rows"] = append_slice.count()
    budget = 32 << 20
    results["dg_budget_mb"] = budget >> 20
    # packed float64 probe bytes at nprobe=2 — what one_broadcast holds
    results["dg_packed_batch_mb"] = round(
        results["dg_admit_rows"] * 2 * 768 * 8 / (1 << 20)
    )

    def build_chain(store: str, tag: str) -> str:
        idx = os.path.join(CORPUS, f"sem_index_dg_{tag}")
        _sh.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        semdedup_index_build(
            corpus, idx, k=128, sample=50_000, iters=8, store=store
        )
        results[f"dg_build_{tag}_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        semdedup_index_append(append_slice, idx, batch_id="day-1")
        results[f"dg_append_{tag}_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        stats = semdedup_index_compact(spark, idx)
        results[f"dg_compact_{tag}_s"] = time.perf_counter() - t0
        results[f"dg_compact_{tag}_files"] = (
            f"{stats['files_before']}->{stats['files_after']}"
        )
        results[f"dg_index_{tag}_mb"] = round(stats["bytes_after"] / (1 << 20))
        return idx

    idx_q8 = build_chain("int8", "int8")
    idx_f32 = build_chain("float32", "f32")

    def admit(idx: str, tag: str, **kw) -> None:
        pairs_dir = os.path.join(CORPUS, f"sem_incr_pairs_dg_{tag}")
        rss = _rss_watch()
        t0 = time.perf_counter()
        incremental_semdedup(
            spark, admit_batch, idx, threshold=0.95, **kw
        ).write.mode("overwrite").parquet(pairs_dir)
        results[f"dg_admit_{tag}_s"] = time.perf_counter() - t0
        rss["stop"] = True
        results[f"dg_admit_{tag}_rss_base_mb"] = rss["base"] >> 10
        results[f"dg_admit_{tag}_rss_peak_mb"] = rss["peak"] >> 10
        results[f"dg_admit_{tag}_pairs"] = (
            spark.read.parquet(pairs_dir).count()
        )

    # composed and sibling first (chunked: driver peak ~flat), the
    # whole-batch collect last (its arena high-water is sticky)
    admit(idx_q8, "composed", nprobe=2, batch_budget_bytes=budget)
    admit(idx_f32, "plain", nprobe=1, batch_budget_bytes=budget)
    admit(idx_q8, "onebc", nprobe=2, batch_chunk_rows=1 << 30)
    results["dg_pair_parity"] = (
        results["dg_admit_composed_pairs"] == results["dg_admit_onebc_pairs"]
    )


def _jvm_rchar(spark) -> int:
    """Cumulative bytes the py4j JVM has read via syscalls
    (/proc/<jvm pid>/io rchar). Hadoop FileSystem.Statistics misses
    the vectorized parquet data path entirely (measured: 12 KB
    counted for a 1 MB full scan), so row-group-skip claims are
    gauged at the process level instead — rchar counts every read
    the executors issue, page-cache hits included."""
    jpid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jpid}/io") as fh:
        for line in fh:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def _search_leg(spark, vectors, results: dict, timed) -> None:
    """r13 (verdict asks #1 + #5): the SERVING half priced. Builds
    float32 and int8 indexes over the full vector corpus, then:

    - top-k=10 for a 10 K-query batch (6 K planted + 4 K background)
      at nprobe 1/2/4 against both stores — wall clock, and recall of
      the planted cos~0.97 partner (the id%50==1 construction puts
      vec_id-1 in the corpus; brute force always ranks it top-10,
      spot-verified by the exhaustive subset below);
    - an exhaustive-truth subset: ~80 queries searched with nprobe =
      n_cells (true top-10 from the stored vectors, same code path),
      overlap@10 per nprobe — honest ANN recall, not just planted;
    - the cid-pruning proof for a REALISTIC serving batch (10
      queries): JVM bytes read (rchar) and wall for prune_cells
      on/off. The pruned form reads ~nprobe x 10 of ~256 cells; the
      unpruned form reads the whole index per lookup — the r12
      verdict's scale-killer, now measured.
    """
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    idx_by_store = {}
    for store, tag in (("float32", "f32"), ("int8", "int8")):
        idx = os.path.join(CORPUS, f"sem_index_search_{tag}")
        _sh.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        semdedup_index_build(
            vectors, idx, k=256, sample=100_000, iters=10, store=store
        )
        results[f"search_build_{tag}_s"] = time.perf_counter() - t0
        idx_by_store[tag] = idx
    results["search_index_rows"] = vectors.count()

    planted_q = F.col("vec_id") % 500 == 1  # subset of the %50==1 plant
    background_q = F.col("vec_id") % 750 == 7
    queries = vectors.filter(planted_q | background_q).select(
        "vec_id", "embedding"
    )
    results["search_queries"] = queries.count()
    results["search_planted_queries"] = vectors.filter(planted_q).count()

    for tag, idx in idx_by_store.items():
        for npb in (1, 2, 4):
            out = os.path.join(CORPUS, f"search_topk_{tag}_np{npb}")

            def run():
                return semdedup_index_search(
                    spark, queries, idx, k=10, nprobe=npb,
                    exclude_self=True,
                )

            timed(run())  # warm-up: footer cache, codegen, probes
            t0 = time.perf_counter()
            run().write.mode("overwrite").parquet(out)
            results[f"search_{tag}_np{npb}_s"] = time.perf_counter() - t0
            got = spark.read.parquet(out)
            # planted recall@10: partner vec_id-1 among the neighbors
            results[f"search_{tag}_np{npb}_planted_recall"] = round(
                got.filter(
                    (F.col("query_id") % 500 == 1)
                    & (F.col("neighbor_id") == F.col("query_id") - 1)
                ).count() / max(results["search_planted_queries"], 1),
                4,
            )

    # exhaustive truth on a subset: same code path, every cell probed
    qsub = vectors.filter(F.col("vec_id") % 37_500 == 1).select(
        "vec_id", "embedding"
    )
    results["search_truth_queries"] = qsub.count()
    truth_dir = os.path.join(CORPUS, "search_truth")
    t0 = time.perf_counter()
    semdedup_index_search(
        spark, qsub, idx_by_store["f32"], k=10, nprobe=1 << 20,
        exclude_self=True,
    ).write.mode("overwrite").parquet(truth_dir)
    results["search_truth_exhaustive_s"] = time.perf_counter() - t0
    truth = spark.read.parquet(truth_dir)
    n_truth_rows = truth.count()
    for npb in (1, 2, 4):
        sub_out = os.path.join(CORPUS, f"search_sub_np{npb}")
        semdedup_index_search(
            spark, qsub, idx_by_store["f32"], k=10, nprobe=npb,
            exclude_self=True,
        ).write.mode("overwrite").parquet(sub_out)
        hit = truth.join(
            spark.read.parquet(sub_out),
            on=["query_id", "neighbor_id"],
            how="left_semi",
        ).count()
        results[f"search_np{npb}_overlap_at10"] = round(
            hit / max(n_truth_rows, 1), 4
        )

    _search_prune_leg(spark, vectors, results, timed)


def _search_prune_leg(spark, vectors, results: dict, timed) -> None:
    """The cid-pruning proof in isolation: 10-query serving batch
    against the f32 search index, JVM bytes read (rchar) + wall for
    prune_cells on/off. The query batch is LANDED in its own small
    parquet first — reading queries out of the 3M-row vectors table
    inside the measured window would bill a ~600 MB query-side scan
    to both forms and bury the index-side difference (the first cut
    of this leg did exactly that). Rebuilds the index only if the
    sweep leg hasn't already."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    idx = os.path.join(CORPUS, "sem_index_search_f32")
    if not os.path.exists(os.path.join(idx, "cells")):
        _sh.rmtree(idx, ignore_errors=True)
        semdedup_index_build(
            vectors, idx, k=256, sample=100_000, iters=10
        )
    qdir = os.path.join(CORPUS, "search_queries10")
    vectors.filter(F.col("vec_id") % 300_000 == 7).select(
        "vec_id", "embedding"
    ).coalesce(1).write.mode("overwrite").parquet(qdir)
    q10 = spark.read.parquet(qdir)
    results["search_prune_queries"] = q10.count()
    idx_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(idx, "cells"))
        for f in fs
    )
    results["search_index_cells_mb"] = round(idx_bytes / (1 << 20))
    for label, prune in (("pruned", True), ("fullscan", False)):
        def lookup():
            return semdedup_index_search(
                spark, q10, idx, k=10, nprobe=2,
                exclude_self=True, prune_cells=prune,
            )

        timed(lookup())  # pay listing/codegen once; rchar counts
        # page-cache reads too, so warm data stays visible
        b0 = _jvm_rchar(spark)
        t0 = time.perf_counter()
        lookup().write.format("noop").mode("overwrite").save()
        results[f"search_prune_{label}_s"] = time.perf_counter() - t0
        results[f"search_prune_{label}_read_mb"] = round(
            (_jvm_rchar(spark) - b0) / (1 << 20)
        )


def _ndsearch_leg(spark, docs, results: dict, timed) -> None:
    """r13: the lexical serving twin priced — `neardup_index_search`
    over the persisted 3 M-doc signature index. Queries are ~3 K
    planted near-dups (id%990==33: one-token perturbations of their
    id-3 base doc, exact Jaccard ~0.86) + ~3 K background docs;
    recall is the banding s-curve's prediction for the default
    k=16/bands=4 scheme (~0.95 at j=0.86) made measurable."""
    from siskin_spark.operators.neardup import (
        neardup_index_build,
        neardup_index_search,
    )

    idx = os.path.join(CORPUS, "nd_index_search")
    if not os.path.exists(os.path.join(idx, "bands")):
        t0 = time.perf_counter()
        neardup_index_build(docs, idx)
        results["ndsearch_build_s"] = time.perf_counter() - t0
    planted_q = F.col("doc_id") % 990 == 33
    queries = docs.filter(planted_q | (F.col("doc_id") % 1000 == 7))
    results["ndsearch_queries"] = queries.count()
    n_planted = docs.filter(planted_q).count()
    results["ndsearch_planted_queries"] = n_planted
    out = os.path.join(CORPUS, "ndsearch_topk")

    def run():
        neardup_index_search(
            spark, queries, idx, k=5, min_jaccard=0.2, exclude_self=True
        ).write.mode("overwrite").parquet(out)

    run()  # warm-up
    t0 = time.perf_counter()
    run()
    results["ndsearch_s"] = time.perf_counter() - t0
    got = spark.read.parquet(out)
    results["ndsearch_rows"] = got.count()
    results["ndsearch_planted_recall"] = round(
        got.filter(
            (F.col("query_id") % 990 == 33)
            & (F.col("neighbor_id") == F.col("query_id") - 3)
        ).count() / max(n_planted, 1),
        4,
    )


def _search_gemm_leg(spark, vectors, results: dict, timed) -> None:
    """r13: the serving sweep on ``engine='gemm'`` — same 10 K-query
    batch and index params as ``_search_leg``, the interpreted
    per-row cosine fold replaced by per-(batch, cell) BLAS blocks
    with local top-k pre-prune (ranking parity with expr is pinned
    in tests/test_vectors.py; this leg prices the swap). The gemm
    path is eager (Arrow probe collect + checkpointed scan), so
    walls time construction + write together."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        semdedup_index_build,
        semdedup_index_search,
    )

    idx_by_store = {}
    for store, tag in (("float32", "f32"), ("int8", "int8")):
        idx = os.path.join(CORPUS, f"sem_index_search_{tag}")
        if not os.path.exists(os.path.join(idx, "cells")):
            _sh.rmtree(idx, ignore_errors=True)
            semdedup_index_build(
                vectors, idx, k=256, sample=100_000, iters=10, store=store
            )
        idx_by_store[tag] = idx
    planted_q = F.col("vec_id") % 500 == 1
    background_q = F.col("vec_id") % 750 == 7
    queries = vectors.filter(planted_q | background_q).select(
        "vec_id", "embedding"
    )
    results["sgemm_queries"] = queries.count()
    n_planted = vectors.filter(planted_q).count()
    for tag, idx in idx_by_store.items():
        for npb in (1, 2, 4):
            out = os.path.join(CORPUS, f"sgemm_topk_{tag}_np{npb}")

            def run():
                semdedup_index_search(
                    spark, queries, idx, k=10, nprobe=npb,
                    exclude_self=True, engine="gemm",
                ).write.mode("overwrite").parquet(out)

            run()  # warm-up: footer cache, Arrow path, codegen
            t0 = time.perf_counter()
            run()
            results[f"sgemm_{tag}_np{npb}_s"] = time.perf_counter() - t0
            got = spark.read.parquet(out)
            results[f"sgemm_{tag}_np{npb}_planted_recall"] = round(
                got.filter(
                    (F.col("query_id") % 500 == 1)
                    & (F.col("neighbor_id") == F.col("query_id") - 1)
                ).count() / max(n_planted, 1),
                4,
            )


def _gate_leg(spark, results: dict, timed) -> None:
    """r13 (verdict ask #4): the streaming daily gate PRICED. Drains
    an 8-micro-batch backlog (availableNow, maxFilesPerTrigger=1)
    of the 768-dim admit slice through ``semdedup_gate_writer``
    against a copy of the same index, vs the identical rows as ONE
    direct ``gate_batch`` call (admit -> keep -> land -> append, the
    function each micro-batch runs). The feed files are
    id-range-ordered (mtime-sequenced), so the gate's sequential
    semantics — later batches see earlier survivors in the index —
    and the one-shot admit's smaller-id-wins rule agree; survivor
    parity is recorded, not assumed. The delta / 8 is the per-micro-
    batch overhead the gate adds (ledger read, survivors re-read,
    staged append + recount)."""
    import shutil as _sh

    from siskin_spark.functions.vectors import semdedup_index_build
    from siskin_spark.streaming.gate import gate_batch, semdedup_gate_writer

    vecs = _vectors768(spark)
    is_admit = F.col("vec_id") % 4 == 3
    admit = vecs.filter(is_admit).select("vec_id", "embedding")
    corpus = vecs.filter(~is_admit).select("vec_id", "embedding")
    n_admit = admit.count()
    results["gate_admit_rows"] = n_admit
    n_batches = 8
    results["gate_batches"] = n_batches

    idx_base = os.path.join(CORPUS, "sem_index_gate_base")
    _sh.rmtree(idx_base, ignore_errors=True)
    t0 = time.perf_counter()
    semdedup_index_build(corpus, idx_base, k=128, sample=50_000, iters=8)
    results["gate_index_build_s"] = time.perf_counter() - t0

    # id-range feed files, mtime-sequenced so the file source drains
    # them oldest-first in id order
    feed = os.path.join(CORPUS, "gate_feed")
    _sh.rmtree(feed, ignore_errors=True)
    os.makedirs(feed)
    hi = 400_000
    step = hi // n_batches
    now = time.time() - n_batches
    for i in range(n_batches):
        tmp = os.path.join(CORPUS, "gate_feed_tmp")
        admit.filter(
            (F.col("vec_id") >= i * step) & (F.col("vec_id") < (i + 1) * step)
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(feed, f"batch-{i:02d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))
    _sh.rmtree(os.path.join(CORPUS, "gate_feed_tmp"), ignore_errors=True)

    # streaming drain against a COPY of the index (appends mutate it)
    idx_gate = os.path.join(CORPUS, "sem_index_gate_stream")
    _sh.rmtree(idx_gate, ignore_errors=True)
    _sh.copytree(idx_base, idx_gate)
    out_gate = os.path.join(CORPUS, "gate_out_stream")
    ckpt = os.path.join(CORPUS, "gate_ckpt")
    for d in (out_gate, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    gate = semdedup_gate_writer(idx_gate, out_gate, threshold=0.95)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    t0 = time.perf_counter()
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    results["gate_stream_total_s"] = time.perf_counter() - t0
    results["gate_stream_survivors"] = (
        spark.read.parquet(out_gate).count()
    )

    # plain batch path: same rows through one gate_batch call
    idx_plain = os.path.join(CORPUS, "sem_index_gate_plain")
    _sh.rmtree(idx_plain, ignore_errors=True)
    _sh.copytree(idx_base, idx_plain)
    out_plain = os.path.join(CORPUS, "gate_out_plain")
    _sh.rmtree(out_plain, ignore_errors=True)
    t0 = time.perf_counter()
    gate_batch(
        "semdedup", admit, idx_plain, out_plain,
        batch_id="plain-0", threshold=0.95,
    )
    results["gate_plain_total_s"] = time.perf_counter() - t0
    results["gate_plain_survivors"] = spark.read.parquet(out_plain).count()
    results["gate_survivor_parity"] = (
        results["gate_stream_survivors"] == results["gate_plain_survivors"]
    )
    results["gate_per_batch_overhead_s"] = round(
        (results["gate_stream_total_s"] - results["gate_plain_total_s"])
        / n_batches,
        3,
    )


def _nprobe_leg(spark, vectors, results: dict, timed) -> None:
    """r11 nprobe: price the multi-probe admit — wall and pairs found
    at nprobe 1/2/4 against the same index/batch as the chunked leg.
    Extra pairs over nprobe=1 are exactly the cell-boundary recoveries
    (the planted (id-1, id) partners whose eps-perturbation crossed a
    centroid boundary)."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    is_batch = (F.col("vec_id") % 100 == 37) | (F.col("vec_id") % 1000 == 1)
    batch = vectors.filter(is_batch)
    corpus = vectors.filter(~is_batch)
    idx = os.path.join(CORPUS, "sem_index_nprobe")
    _sh.rmtree(idx, ignore_errors=True)
    semdedup_index_build(corpus, idx, k=256, sample=100_000, iters=10)

    # planted truth the admit CAN find: (id-1, id) pairs >= 0.95 whose
    # planted side is in the batch and whose base stays in the corpus
    # — recall per nprobe is found/this, and the nprobe=1 shortfall is
    # by construction exactly the cross-cell planted mass
    from siskin_spark.functions.vectors import cosine

    base_v = vectors.select(
        (F.col("vec_id") + 1).alias("vec_id"),
        F.col("embedding").alias("_b"),
    )
    truth_dir = os.path.join(CORPUS, "nprobe_truth")
    (
        vectors.filter(F.col("planted") & is_batch)
        .join(base_v, on="vec_id")
        .select(
            F.col("vec_id"),
            (F.col("vec_id") - 1).alias("dup_of"),
            cosine(F.col("_b"), F.col("embedding")).alias("c"),
        )
        .filter((F.col("c") >= 0.95) & (F.col("dup_of") % 1000 != 1))
        .select("vec_id", "dup_of")
        .write.mode("overwrite").parquet(truth_dir)
    )
    truth = spark.read.parquet(truth_dir)
    results["nprobe_truth_pairs"] = truth.count()
    for n in (1, 2, 4):
        pairs_dir = os.path.join(CORPUS, f"sem_incr_pairs_np{n}")

        def incr():
            return incremental_semdedup(
                spark, batch, idx, threshold=0.95, nprobe=n
            )

        timed(incr())  # warm-up
        t0 = time.perf_counter()
        incr().write.mode("overwrite").parquet(pairs_dir)
        results[f"nprobe_{n}_s"] = time.perf_counter() - t0
        found = spark.read.parquet(pairs_dir)
        results[f"nprobe_{n}_pairs"] = found.count()
        results[f"nprobe_{n}_planted_found"] = truth.join(
            found, on=["vec_id", "dup_of"], how="left_semi"
        ).count()


def _subcentroid_sweep_leg(spark, vectors, results: dict, timed) -> None:
    """r11 verdict #4: the recall–budget curve the README promises for
    the sub-centroid hot-cell guard, priced. Same skewed centroid
    construction as ``_semdedup_leg`` (62 of 64 centroids are copies
    of centroid 0 — the corpus piles onto two cells), swept over
    ``max_cell_rows``: smaller bound = more sub-cells = smaller pair
    budget AND lower planted recall. Each point records wall-clock,
    emitted pairs, and recall against the planted (id-1, id) truth."""
    from siskin_spark.functions.vectors import (
        cosine,
        ivf_fit_centroids,
        semantic_dedup_pairs,
    )

    cents = ivf_fit_centroids(vectors, k=256, sample=20_000, iters=10).cache()
    cents.count()
    c0 = cents.filter(F.col("cid") == 0).first()["cv"]
    c0_lit = F.array(*[F.lit(float(x)).cast("float") for x in c0])
    skew = cents.filter(F.col("cid") < 64).select(
        "cid",
        F.when(F.col("cid") < 2, F.col("cv")).otherwise(c0_lit).alias("cv"),
    ).cache()
    skew.count()

    truth_dir = os.path.join(CORPUS, "semdedup_truth_r11")
    base_v = vectors.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("_b")
    )
    (
        vectors.filter(F.col("planted"))
        .join(base_v, on="vec_id")
        .select(
            (F.col("vec_id") - 1).alias("id_a"),
            F.col("vec_id").alias("id_b"),
            cosine(F.col("_b"), F.col("embedding")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
        .select("id_a", "id_b")
        .write.mode("overwrite").parquet(truth_dir)
    )
    truth = spark.read.parquet(truth_dir)
    n_truth = truth.count()
    results["semsweep_planted_truth_pairs"] = n_truth

    for max_cell in (10_000, 20_000, 40_000, 80_000):
        out = os.path.join(CORPUS, "semdedup_pairs", f"sweep_{max_cell}")

        def run():
            return semantic_dedup_pairs(
                vectors, skew, threshold=0.95, engine="gemm",
                max_cell_rows=max_cell, hot_cell="subcentroid",
            )

        t0 = time.perf_counter()  # no warm-up repeat: 4 points, the
        run().write.mode("overwrite").parquet(out)  # curve is the story
        results[f"semsweep_{max_cell}_s"] = time.perf_counter() - t0
        pairs = spark.read.parquet(out)
        results[f"semsweep_{max_cell}_pairs"] = pairs.count()
        results[f"semsweep_{max_cell}_planted_found"] = truth.join(
            pairs, on=["id_a", "id_b"], how="left_semi"
        ).count()
    cents.unpersist()
    skew.unpersist()


def _sq8_leg(spark, vectors, results: dict, timed) -> None:
    """r11 SQ8 storage: the int8-quantized cell index vs float32 at
    full scale — index bytes (the point: 4x), admit wall (often
    FASTER: 4x less scan IO), and pair parity at the operator
    threshold (quantization moves cosines ~1e-3; planted dups sit at
    ~0.97, nowhere near 0.95... so parity here also demonstrates the
    error bound holds where it matters)."""
    import shutil as _sh

    from siskin_spark.functions.vectors import (
        incremental_semdedup,
        semdedup_index_build,
    )

    is_batch = (F.col("vec_id") % 100 == 37) | (F.col("vec_id") % 1000 == 1)
    batch = vectors.filter(is_batch)
    corpus = vectors.filter(~is_batch)

    def leg(store: str, tag: str):
        idx = os.path.join(CORPUS, f"sem_index_{tag}")
        _sh.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        semdedup_index_build(
            corpus, idx, k=256, sample=100_000, iters=10, store=store
        )
        results[f"sq8_{tag}_build_s"] = time.perf_counter() - t0
        results[f"sq8_{tag}_index_bytes"] = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(idx, "cells"))
            for f in fs if f.endswith(".parquet")
        )
        pairs_dir = os.path.join(CORPUS, f"sem_incr_pairs_{tag}")

        def incr():
            return incremental_semdedup(spark, batch, idx, threshold=0.95)

        timed(incr())  # warm-up
        t0 = time.perf_counter()
        incr().write.mode("overwrite").parquet(pairs_dir)
        results[f"sq8_{tag}_admit_s"] = time.perf_counter() - t0
        return {
            (r["vec_id"], r["dup_of"])
            for r in spark.read.parquet(pairs_dir).collect()
        }

    pf = leg("float32", "f32ref")
    pq = leg("int8", "q8")
    results["sq8_f32_pairs"] = len(pf)
    results["sq8_q8_pairs"] = len(pq)
    results["sq8_pair_set_diff"] = len(pf ^ pq)


def _token_budget_leg(spark, docs, results: dict, timed) -> None:
    """r11 token_budget_sample at full scale: admit ~40% of the 3M-doc
    corpus's token mass by absolute target — the two-phase prefix sum
    must hold the corpus to ONE shuffle (a global-window form would
    single-reducer the cumsum). Also the per-stratum form over a
    10-way synthetic domain split."""
    from siskin_spark.operators.curation import token_budget_sample

    total = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).first()["t"]
    results["tokbudget_corpus_tokens"] = int(total)
    target = int(total * 0.4)

    def flat():
        return token_budget_sample(docs, target, seed=7)

    timed(flat())
    results["tokbudget_flat_s"] = min(timed(flat()) for _ in range(3))
    kept = flat().agg(F.sum("n_tokens").alias("t")).first()["t"]
    results["tokbudget_flat_kept_tokens"] = int(kept)
    assert kept <= target

    # r12: price the portable md5 admission-order family (the oracle
    # family) against the xxhash64 default — md5 pays a string concat
    # + hex hash + string-ordered sort key per row, xxhash64 a single
    # JVM long. Same two-phase plan, different rank expression.
    def flat_md5():
        return token_budget_sample(docs, target, seed=7, hash_family="md5")

    timed(flat_md5())
    results["tokbudget_md5_s"] = min(timed(flat_md5()) for _ in range(3))
    kept_md5 = flat_md5().agg(F.sum("n_tokens").alias("t")).first()["t"]
    results["tokbudget_md5_kept_tokens"] = int(kept_md5)
    assert kept_md5 <= target

    sd = docs.withColumn("dom", (F.col("doc_id") % 10).cast("string"))
    budgets = {str(i): target // 20 for i in range(10)}

    def strat():
        return token_budget_sample(
            sd, budgets, strata_col="dom", seed=7
        )

    timed(strat())
    results["tokbudget_strata_s"] = min(timed(strat()) for _ in range(3))


def _unilp_join_leg(spark, docs, results: dict, timed) -> None:
    """r11 verdict #5: the >literal_max explode + broadcast-join form
    of ``with_unigram_logprob`` at full scale with a 100K-token lp6
    table (its OOV sibling has the measurement since r10; the unigram
    join form had only tests). The vocab list is collected once
    outside the clock; each timed pass still pays the driver-side lp6
    compile + broadcast build, exactly like a production run."""
    from siskin_spark.operators.curation import vocab_table, with_unigram_logprob

    vocab_rows = [
        (r["token"], r["n"])
        for r in vocab_table(docs, top=100_000).select("token", "n").collect()
    ]
    results["unilp_vocab_size"] = len(vocab_rows)

    def unilp():
        return with_unigram_logprob(docs, vocab_rows).select(
            "doc_id", "unigram_lp"
        )

    timed(unilp())
    results["unilp_join_100k_s"] = min(timed(unilp()) for _ in range(3))


def _bm25_leg(spark, docs, results: dict, timed) -> None:
    """r12 BM25 topical selection at full scale: one bounded stats
    aggregate + a pure-map scoring pass over the 3M-doc corpus with an
    8-term topic seed — the whole operator is two scans, nothing
    corpus-sized shuffles. Also the TakeOrdered top-k form (heap per
    task, k rows per partition move)."""
    from siskin_spark.operators.curation import bm25_stats, bm25_topk, with_bm25

    # terms FROM the synthetic vocabulary (w{slot}_{val}) so tf/df/idf
    # are real — a term set absent from the corpus times the same scan
    # but scores everything 0
    terms = ["w0_0", "w1_8", "w2_18", "w3_10", "w4_22", "w5_12", "w6_26", "w7_14"]
    import time as _time

    t0 = _time.perf_counter()
    stats = bm25_stats(docs, terms)
    results["bm25_stats_s"] = round(_time.perf_counter() - t0, 4)
    results["bm25_n_docs"] = stats[0]

    def score():
        return with_bm25(docs, terms, stats=stats).select(
            "doc_id", "bm25_micro", "bm25_hits"
        )

    timed(score())
    results["bm25_score_s"] = min(timed(score()) for _ in range(3))

    t0 = _time.perf_counter()
    top = bm25_topk(docs, terms, 1000, stats=stats).select("doc_id", "bm25_micro").collect()
    results["bm25_top1000_s"] = round(_time.perf_counter() - t0, 4)
    results["bm25_top_score"] = int(top[0]["bm25_micro"])

    # r13 (verdict ask #2): the literal-vs-join crossover for topic
    # LEXICONS — real corpus tokens so tf/df are nonzero. The literal
    # form's tf vector costs O(|terms| x L) per row (the DSIR-measured
    # blowup); the join form shuffles only matched (id, term) rows and
    # should hold ~flat. The stats pass is timed separately per size
    # (it switches form at 256 too).
    from siskin_spark.operators.curation import vocab_table

    lex = [
        r["token"]
        for r in vocab_table(docs, top=4_096).select("token").collect()
    ]
    for n_terms in (64, 256, 1024, 4096):
        terms_n = lex[:n_terms]
        t0 = _time.perf_counter()
        stats_n = bm25_stats(docs, terms_n)
        results[f"bm25x_{n_terms}_stats_s"] = round(
            _time.perf_counter() - t0, 3
        )

        def score_form(lm: int):
            return with_bm25(
                docs, terms_n, stats=stats_n, literal_max=lm
            ).select("doc_id", "bm25_micro", "bm25_hits")

        if n_terms <= 1024:  # the blowup point is made by 1024
            timed(score_form(1 << 20))
            results[f"bm25x_{n_terms}_lit_s"] = min(
                timed(score_form(1 << 20)) for _ in range(2)
            )
        timed(score_form(1))
        results[f"bm25x_{n_terms}_join_s"] = min(
            timed(score_form(1)) for _ in range(2)
        )


def _dsir_leg(spark, docs, results: dict, timed) -> None:
    """r12 DSIR importance scoring at full scale, both plan forms:
    literal (union vocab <= 2K: map-literal fold, pure map) and
    broadcast-join (10K source vocab from the corpus itself — the
    paper's raw-distribution denominator). The integer lp6-diff table
    means the score column is exact BIGINT either way."""
    from siskin_spark.operators.curation import vocab_table, with_dsir

    # target model: a synthetic "domain" skew over real corpus tokens
    tgt = [(f"w{i}_0", 100 - i) for i in range(64)]

    src_small = [
        (r["token"], r["n"])
        for r in vocab_table(docs, top=1_500).select("token", "n").collect()
    ]
    src_large = [
        (r["token"], r["n"])
        for r in vocab_table(docs, top=10_000).select("token", "n").collect()
    ]
    results["dsir_src_small"] = len(src_small)
    results["dsir_src_large"] = len(src_large)

    def lit():
        return with_dsir(docs, tgt, src_small).select("doc_id", "dsir_lr6")

    timed(lit())
    results["dsir_literal_s"] = min(timed(lit()) for _ in range(3))

    def join():
        return with_dsir(docs, tgt, src_large).select("doc_id", "dsir_lr6")

    timed(join())
    results["dsir_join_10k_s"] = min(timed(join()) for _ in range(3))


def _curate_chain_leg(spark, docs, results: dict, timed) -> None:
    """r9 verdict #5: the CLI's `curate` pipeline measured END-TO-END
    (url-dedup -> quality -> line-dedup -> wd-dedup -> span-dedup ->
    sample), not stage-by-stage, two ways:

    - ``composed``: ONE lazy plan through every stage — what the CLI
      builds today. The dedup stages are multi-pass operators
      (snapshot_earliest reads its input for the window and the join
      back; span dedup reads its input for the gram table, the token
      table and the final join), so lazy composition RE-EXECUTES the
      upstream chain once per reference.
    - ``staged``: an eager ``localCheckpoint`` barrier after each
      stage — each stage's lineage is cut, so every stage runs exactly
      once regardless of how many times the next stage reads it; the
      checkpoint also yields the per-stage row counts for free.

    The corpus is the near-dup docs plus a synthesized url column
    (~3% shared canonical keys, mirroring the text's planted sibling
    rate) and a per-language stopword suffix so the quality gate does
    real discrimination. Whichever form wins is the committed
    recommendation (SCALE.md) for composing the chain at 100 TB."""
    from siskin_spark.functions.text import (
        canonical_url,
        dedup_lines_within_doc,
        dup_line_fraction,
        quality_keep,
        repetition_keep,
        with_top_ngram_frac,
    )
    from siskin_spark.operators import curation as cur
    from siskin_spark.operators.dedup import snapshot_earliest

    src_path = os.path.join(CORPUS, "docs_curate")
    if not os.path.exists(src_path):
        d = F.col("doc_id")
        sfx = (
            F.when(d % 4 == 0, F.lit(" the cat of a house and the dog is in to it"))
            .when(d % 4 == 1, F.lit(" der hund und die katze ist ein haus"))
            .when(d % 4 == 2, F.lit(" le chien et la maison est un une les chats"))
            .otherwise(F.lit(" zzz qqq xxx"))
        )
        # host AND path both key off the sibling id, so a planted dup's
        # url canonicalizes to its base doc's key exactly
        pid = F.when(d % 33 == 0, d - d % 10).otherwise(d)
        docs.select(
            "doc_id",
            F.concat(F.col("text"), sfx).alias("text"),
            F.concat(
                F.lit("https://WWW.Ex"),
                (pid % 50).cast("string"),
                F.lit(".com:443/p/"),
                pid.cast("string"),
                F.lit("?utm_source=x&b=1"),
            ).alias("url"),
        ).write.mode("overwrite").parquet(src_path)
    src = spark.read.parquet(src_path)

    def stage_url(df):
        canon = canonical_url(F.col("url"))
        key = F.when(F.length(canon) > 0, canon).otherwise(
            F.concat(F.lit("\x00nourl:"), F.col("doc_id").cast("string"))
        )
        return snapshot_earliest(
            df.withColumn("_uk", key), ["_uk"], ["doc_id"]
        ).drop("_uk")

    def stage_quality(df):
        return (
            with_top_ngram_frac(df, out_col="_top_ngram")
            .filter(
                quality_keep(F.col("text"))
                & repetition_keep(
                    dup_line_fraction("text", sep=" "), F.col("_top_ngram")
                )
            )
            .drop("_top_ngram")
        )

    def stage_line(df):
        return cur.drop_duplicate_lines(
            df, min_count=100_000, sep=" ", drop_empty_docs=True
        )

    def stage_wd(df):
        return df.withColumn(
            "text", dedup_lines_within_doc(F.col("text"), sep=" ")
        )

    def stage_span(df):
        return cur.drop_duplicate_spans(df, k=8)

    def stage_sample(df):
        return cur.deterministic_sample(df, 0.5, key_col="doc_id", seed=7)

    stages = [
        ("url_dedup", stage_url),
        ("quality", stage_quality),
        ("line_dedup", stage_line),
        ("wd_dedup", stage_wd),
        ("span_dedup", stage_span),
        ("sample", stage_sample),
    ]

    def composed():
        df = src
        for _, fn in stages:
            df = fn(df)
        return df

    # single runs: the chain is minutes-long at 3M docs — per-run noise
    # amortizes over the run itself (documented in SCALE.md). Warm-up
    # hygiene: the src parquet is scanned once untimed (page cache),
    # and the STAGED form runs FIRST — it warms the JIT/codegen of
    # every shared operator, so any residual warm-up asymmetry favors
    # the COMPOSED form, the side the committed conclusion argues
    # against (the r10 first-cut ran composed cold-first, which biased
    # toward staged).
    src.write.format("noop").mode("overwrite").save()

    t_total = 0.0
    df = src
    for name, fn in stages:
        t0 = time.perf_counter()
        staged = fn(df).localCheckpoint(eager=True)
        dt = time.perf_counter() - t0
        t_total += dt
        results[f"curate_chain_stage_{name}_s"] = dt
        results[f"curate_chain_stage_{name}_rows"] = staged.count()
        df = staged
    results["curate_chain_staged_s"] = t_total

    t0 = time.perf_counter()
    composed().write.format("noop").mode("overwrite").save()
    results["curate_chain_composed_s"] = time.perf_counter() - t0


def _span_leg(spark, docs, results: dict, timed) -> None:
    """C16 exact duplicated-span removal at full scale: the synthetic
    near-dup corpus plants ~3% of docs as same-stream siblings with one
    perturbed token — long verbatim shared spans, exactly the
    ExactSubstr target — plus the 'tail<d>' suffix every doc carries.
    k=8 over ~40-token docs: the gram table is ~33 rows/doc, the dup
    set is the planted tail, and the rebuild touches every doc."""
    from siskin_spark.operators.curation import drop_duplicate_spans

    def spans(keep_first: bool):
        return drop_duplicate_spans(docs, k=8, keep_first=keep_first)

    timed(spans(False))
    results["span_dedup_s"] = min(timed(spans(False)) for _ in range(2))
    timed(spans(True))
    results["span_dedup_keepfirst_s"] = min(timed(spans(True)) for _ in range(2))


def _incremental_leg(spark, docs, results: dict, timed) -> None:
    """Incremental near-dup vs the persisted index: a daily batch must
    cost BATCH-sized work. Measures (a) the one-time index build over
    the 99% corpus, (b) incremental dedup of the held-out 1% batch
    against it — compare with the full-recompute legs (neardup_s /
    neardup_xx_s) that re-shingle everything to admit the same docs.
    xxhash64 family: the index path has no oracle-parity constraint,
    so it takes the fast family outright."""
    from siskin_spark.operators.neardup import (
        incremental_neardup,
        neardup_index_build,
    )

    idx_dir = os.path.join(CORPUS, "neardup_index")
    batch = docs.filter(F.col("doc_id") % 100 == 0)
    corpus_old = docs.filter(F.col("doc_id") % 100 != 0)
    t0 = time.perf_counter()
    neardup_index_build(corpus_old, idx_dir, hash_family="xxhash64")
    results["neardup_index_build_s"] = time.perf_counter() - t0

    def incr():
        return incremental_neardup(spark, batch, idx_dir, threshold=0.8)

    timed(incr())
    results["neardup_incremental_s"] = min(timed(incr()) for _ in range(3))
    results["neardup_incremental_batch"] = batch.count()
    results["neardup_incremental_pairs"] = incr().count()


def _curation_leg(spark, docs, results: dict, timed) -> None:
    """Corpus-curation legs at full scale (operators/curation.py):
    (a) benchmark decontamination — the eval-set n-gram universe
    (a 0.1% corpus slice standing in for a held-out benchmark)
    broadcasts against the corpus-wide 8-gram shingle explode, one
    map-side-combined tally per doc, then the anti-join drop; (b) the
    row-local curation-signal map (deterministic + stratified sample
    marks, Gopher duplicate-token and top-bigram char fractions) —
    a single shuffle-free projection over every document."""
    from siskin_spark.functions.text import (
        dup_line_fraction,
        with_top_ngram_frac,
    )
    from siskin_spark.operators.curation import (
        decontaminate,
        sample_mark,
        stratified_mark,
    )

    n_docs = docs.count()
    bench = docs.filter(F.col("doc_id") % 1000 == 0).select("text")

    def decon():
        return decontaminate(docs, bench, n=8)

    timed(decon())
    results["decontam_s"] = min(timed(decon()) for _ in range(3))
    results["decontam_docs"] = n_docs
    results["decontam_bench_docs"] = bench.count()
    results["decontam_survivors"] = decon().count()

    strata = (F.col("doc_id") % 4).cast("string")

    def signals():
        return with_top_ngram_frac(docs).select(
            "doc_id",
            sample_mark(F.col("doc_id"), 0.3).alias("sample_keep"),
            stratified_mark(
                strata, F.col("doc_id"), {"0": 0.5, "1": 0.25, "2": 0.75}, seed=7
            ).alias("strat_keep"),
            dup_line_fraction("text", sep=" ").alias("dup_token_frac"),
            "top_2gram_frac",
        )

    timed(signals())
    results["curation_signals_s"] = min(timed(signals()) for _ in range(3))

    # fused signature panel vs the 3-pass composition it replaces:
    # same values (test-pinned), one shingle exchange vs three + joins
    from siskin_spark.operators.neardup import (
        fingerprint_table,
        minhash_table,
        signature_panel,
    )

    def panel():
        return signature_panel(docs, benchmark=bench)

    def composed():
        from siskin_spark.operators.curation import contamination

        return (
            minhash_table(docs)
            .join(fingerprint_table(docs), "doc_id", "left")
            .join(contamination(docs, bench, n=3), "doc_id", "left")
        )

    timed(panel())
    results["signature_panel_s"] = min(timed(panel()) for _ in range(3))
    timed(composed())
    results["signatures_composed_s"] = min(timed(composed()) for _ in range(3))

    # corpus-level boilerplate removal at token granularity (this
    # corpus has no newlines; the shape is identical — explode, count,
    # anti-join, reassemble): drops units occurring >= 100K times
    # across the corpus ('tail0'..'tail9' at ~300K each)
    from siskin_spark.operators.curation import drop_duplicate_lines

    def line_dedup():
        return drop_duplicate_lines(docs, min_count=100_000, sep=" ")

    timed(line_dedup())
    results["line_dedup_s"] = min(timed(line_dedup()) for _ in range(3))

    # skewed-corpus leg: ONE unit at ~9% of the whole corpus line table
    # (five 'hotline' tokens appended to every ~50-word doc) — the hot
    # boilerplate shape that killed the old keep_first window form,
    # which shipped all ~15M occurrences to one reducer. keep_first must
    # stay within ~2x of the skew-safe drop-all mode on the same input.
    hot_docs = docs.select(
        "doc_id",
        F.concat_ws(
            " ", "text", F.lit("hotline hotline hotline hotline hotline")
        ).alias("text"),
    )

    def hot_dedup(keep_first: bool):
        return drop_duplicate_lines(
            hot_docs, min_count=100_000, sep=" ", keep_first=keep_first
        )

    timed(hot_dedup(False))
    results["line_dedup_hot_all_s"] = min(
        timed(hot_dedup(False)) for _ in range(3)
    )
    timed(hot_dedup(True))
    results["line_dedup_hot_keepfirst_s"] = min(
        timed(hot_dedup(True)) for _ in range(3)
    )


def _licensing_inputs(spark) -> tuple:
    """(records, KBART holdings, 50K OA ISSN list, free collections)."""
    return (
        spark.read.parquet(os.path.join(CORPUS, "records")),
        spark.read.parquet(os.path.join(CORPUS, "holdings")),
        spark.range(N_OA_ISSNS).select(_issn(F.col("id") * 3).alias("issn")),
        [f"Coll {k}" for k in range(0, N_COLLECTIONS, 20)],
    )


def _licensing_leg(spark, results: dict, timed) -> None:
    """The two span-tool legs: ``apply_oa_flag`` with the 50K OA list
    and ``attach_labels`` with the 22-ISIL config over the records
    parquet (best of three after a warm-up). Also the driver-side plan
    build of the first ``attach_labels`` call, which compiles the config
    (what a one-shot CLI run pays), and of a later one, which reuses it
    (``licensing_build_cold_s`` / ``licensing_build_warm_s``)."""
    import datetime

    from siskin_spark.operators.licensing import apply_oa_flag, attach_labels

    records, holdings, oa_issns, free_colls = _licensing_inputs(spark)

    oa = lambda: apply_oa_flag(  # noqa: E731
        records,
        oa_issns=oa_issns,
        free_collections=free_colls,
        oa_source_ids=["5", "17"],
        excluded_source_ids=["39"],
    )
    timed(oa())  # warm-up: scan cache, codegen, broadcast
    results["oa_flag_s"] = min(timed(oa()) for _ in range(3))

    lic = lambda: attach_labels(  # noqa: E731
        records,
        filter_config(),
        holdings=holdings,
        now=datetime.date(2026, 8, 13),
    )
    for leg in ("cold", "warm"):
        t0 = time.perf_counter()
        df = lic()
        results[f"licensing_build_{leg}_s"] = time.perf_counter() - t0
        timed(df)
    results["licensing_tag_s"] = min(timed(lic()) for _ in range(3))


def main() -> None:
    import datetime

    n_records = int(os.environ.get("SCALE_RECORDS", 10_000_000))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("siskin-scale-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    marker = os.path.join(CORPUS, f".built4_{n_records}")
    if not os.path.exists(marker):
        shutil.rmtree(CORPUS, ignore_errors=True)
        build_corpus(spark, n_records)
        open(marker, "w").close()

    if os.environ.get("SCALE_ONLY") in (
        "neardup_incremental", "curation", "r9", "r10", "semincr", "r11",
        "sq8", "tokbudget", "nprobe", "dim768", "dailygate", "bm25", "dsir",
        "search", "searchprune", "searchgemm", "gatebench", "ndsearch",
        "licensing",
    ):
        # iterate on this one leg without the ~25-minute full suite;
        # emits a partial JSON with only the leg's keys
        results: dict[str, float] = {}

        def timed_only(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        docs_only = spark.read.parquet(os.path.join(CORPUS, "docs"))
        if os.environ["SCALE_ONLY"] == "curation":
            _curation_leg(spark, docs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "r9":
            _control_leg(spark, results, timed_only)
            _clf_vocab_leg(spark, docs_only, results, timed_only)
            _span_leg(spark, docs_only, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _semdedup_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "r10":
            # round-10 additions: sub-centroid hot-cell recall,
            # affected-docs span rebuild, 100K-vocab OOV join form, the
            # composed curate chain — with the host controls first
            _control_leg(spark, results, timed_only)
            _clf_vocab_leg(spark, docs_only, results, timed_only)
            _span_leg(spark, docs_only, results, timed_only)
            _curate_chain_leg(spark, docs_only, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _semdedup_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "semincr":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _semdedup_incremental_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "sq8":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _sq8_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "tokbudget":
            _control_leg(spark, results, timed_only)
            _token_budget_leg(spark, docs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "bm25":
            _control_leg(spark, results, timed_only)
            _bm25_leg(spark, docs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "dsir":
            _control_leg(spark, results, timed_only)
            _dsir_leg(spark, docs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "nprobe":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _nprobe_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "dim768":
            _control_leg(spark, results, timed_only)
            _dim768_leg(spark, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "dailygate":
            _control_leg(spark, results, timed_only)
            _daily_gate_leg(spark, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "search":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _search_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "searchprune":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _search_prune_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "searchgemm":
            _control_leg(spark, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _search_gemm_leg(spark, vecs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "ndsearch":
            _control_leg(spark, results, timed_only)
            _ndsearch_leg(spark, docs_only, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "licensing":
            _control_leg(spark, results, timed_only)
            _licensing_leg(spark, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "gatebench":
            _control_leg(spark, results, timed_only)
            _gate_leg(spark, results, timed_only)
        elif os.environ["SCALE_ONLY"] == "r11":
            # round-11 additions: multi-chunk gemm admit, sub-centroid
            # recall curve, 100K-vocab unigram join form — controls first
            _control_leg(spark, results, timed_only)
            _unilp_join_leg(spark, docs_only, results, timed_only)
            vecs_only = spark.read.parquet(os.path.join(CORPUS, "vectors"))
            _semincr_chunked_leg(spark, vecs_only, results, timed_only)
            _subcentroid_sweep_leg(spark, vecs_only, results, timed_only)
        else:
            _incremental_leg(spark, docs_only, results, timed_only)
        print(json.dumps({"metric": "records_per_second", "records": n_records, **{
            k: round(v, 2) if isinstance(v, float) else v
            for k, v in results.items()
        }}))
        spark.stop()
        return

    from siskin_spark.operators.licensing import apply_oa_flag, attach_labels

    records, holdings, oa_issns, free_colls = _licensing_inputs(spark)

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    results: dict[str, float] = {}
    _control_leg(spark, results, timed)
    _licensing_leg(spark, results, timed)

    from siskin_spark.operators.dedup import snapshot_latest

    versions = spark.read.parquet(os.path.join(CORPUS, "versions"))
    snap = lambda: snapshot_latest(  # noqa: E731
        versions, ["doi"], ["indexed_ts", "vid"]
    )
    timed(snap())
    results["snapshot_s"] = min(timed(snap()) for _ in range(3))

    from siskin_spark.operators.neardup import (
        exact_jaccard,
        lsh_candidates,
        shingle_table,
    )

    docs = spark.read.parquet(os.path.join(CORPUS, "docs"))
    n_docs = docs.count()

    def neardup():
        sh = shingle_table(docs)
        cands = lsh_candidates(docs, shingles=sh)
        return exact_jaccard(cands, sh, corpus_docs=n_docs).filter(
            F.col("jaccard") >= 0.8
        )

    timed(neardup())
    results["neardup_s"] = min(timed(neardup()) for _ in range(3))
    n_pairs = neardup().count()

    # same pipeline on the xxhash64 signature family (one JVM-intrinsic
    # hash per function vs md5 chunks — the md5 leg stays as the
    # oracle-parity reference measurement)
    def neardup_xx():
        sh = shingle_table(docs)
        cands = lsh_candidates(docs, shingles=sh, hash_family="xxhash64")
        return exact_jaccard(cands, sh, corpus_docs=n_docs).filter(
            F.col("jaccard") >= 0.8
        )

    timed(neardup_xx())
    results["neardup_xx_s"] = min(timed(neardup_xx()) for _ in range(3))

    # full collapse: pairs -> connected-components closure -> one
    # survivor per cluster via anti-join back on the corpus. The CC
    # loop is the only iterative algorithm in the engine (localCheckpoint
    # per round), so its at-scale cost needs its own number — pairs are
    # materialized first so this times the CLOSURE+COLLAPSE, not a
    # re-run of candidate generation.
    from siskin_spark.operators.neardup import keep_canonical_cc

    pairs_path = os.path.join(CORPUS, "neardup_pairs")
    neardup().select("id_a", "id_b").write.mode("overwrite").parquet(pairs_path)
    saved_pairs = spark.read.parquet(pairs_path)

    def collapse():
        return keep_canonical_cc(docs, saved_pairs)

    timed(collapse())
    results["neardup_collapse_s"] = min(timed(collapse()) for _ in range(2))
    n_survivors = collapse().count()

    _incremental_leg(spark, docs, results, timed)
    _curation_leg(spark, docs, results, timed)
    _clf_vocab_leg(spark, docs, results, timed)
    _span_leg(spark, docs, results, timed)
    _curate_chain_leg(spark, docs, results, timed)

    # -- §7.5 text analysis at full scale ------------------------------
    # text_quality was the flagged 100x-scale cost center (12
    # interpreted HOF stopword filters per row); the single-pass
    # stopword_counts rewrite needs an at-scale number, not just the
    # 5K-row sf0.1 one. The synthetic near-dup docs carry no real
    # stopwords (every token is w<j>_<n>), so the counts fold over the
    # hit list would be vacuously cheap; a one-time enriched copy
    # appends a per-language function-word suffix (en/de/fr/und by
    # doc_id % 4) so the fold does real work, then the timed leg scans
    # parquet exactly like the other legs.
    from siskin_spark.functions import text as X

    tq_path = os.path.join(CORPUS, "docs_text")
    if not os.path.exists(tq_path):
        d = F.col("doc_id")
        sfx = (
            F.when(d % 4 == 0, F.lit(" the cat of a house and the dog is in to it"))
            .when(d % 4 == 1, F.lit(" der hund und die katze ist ein haus"))
            .when(d % 4 == 2, F.lit(" le chien et la maison est un une les chats"))
            .otherwise(F.lit(" zzz qqq xxx"))
        )
        docs.select(
            "doc_id", F.concat(F.col("text"), sfx).alias("text")
        ).write.mode("overwrite").parquet(tq_path)
    tq_docs = spark.read.parquet(tq_path)

    def text_quality():
        # same staged shape as the sf0.1 text_quality query (minus its
        # display-only orderBy): tokens and the 12-slot counts array
        # are projected once; every downstream signal reads attributes
        staged = tq_docs.select(
            "doc_id", "text", X.tokens("text").alias("_toks")
        ).withColumn("_counts", X.stopword_counts(F.col("_toks")))
        ft = X.quality_features(
            F.col("text"),
            toks=F.col("_toks"),
            en_stopword_count=F.col("_counts")[0],
        )
        scored = staged.select(
            "doc_id",
            ft["n_tokens"].alias("n_tokens"),
            ft["mean_word_len"].alias("mean_word_len"),
            ft["stopword_ratio"].alias("stopword_ratio"),
            ft["symbol_ratio"].alias("symbol_ratio"),
            X.scores_from_counts(F.col("_counts")).alias("_best"),
            X.quality_keep(features=ft).alias("keep"),
            X.bpe_token_count("text").alias("n_bpe_tokens"),
        )
        return scored.select(
            "doc_id",
            "n_tokens",
            "mean_word_len",
            "stopword_ratio",
            "symbol_ratio",
            X.lang_from_scores(F.col("_best")).alias("predicted_lang"),
            "keep",
            "n_bpe_tokens",
        )

    timed(text_quality())
    results["text_quality_s"] = min(timed(text_quality()) for _ in range(3))
    tq_kept = text_quality().filter(F.col("keep")).count()

    # -- D5 groupcover at full scale, skewed keys ----------------------
    from siskin_spark.operators.dedup import groupcover

    gc_rows = spark.read.parquet(os.path.join(CORPUS, "groupcover"))
    gc = lambda: groupcover(  # noqa: E731
        gc_rows,
        preferences=("3", "1", "5", "0", "2", "4"),
        lower_key=True,
    )
    timed(gc())
    results["groupcover_s"] = min(timed(gc()) for _ in range(3))

    # -- ANN top-k over the full vector corpus -------------------------
    from siskin_spark.functions.vectors import (
        bucketed_ann_topk,
        embedding_neardup_pairs,
        ivf_assign,
        ivf_topk,
    )

    vectors = spark.read.parquet(os.path.join(CORPUS, "vectors"))
    n_vec = vectors.count()
    _semdedup_leg(spark, vectors, results, timed)
    probes = vectors.filter(F.col("vec_id") % (n_vec // 200) == 7)

    lsh_topk = lambda: bucketed_ann_topk(probes, vectors, k=10, dims=6)  # noqa: E731
    timed(lsh_topk())
    results["topk_lsh_s"] = min(timed(lsh_topk()) for _ in range(3))

    # real coarse quantizer: spherical k-means on a bounded sample
    # (r3 used the first 64 vectors as stand-in centroids)
    from siskin_spark.functions.vectors import ivf_fit_centroids

    t0 = time.perf_counter()
    centroids = ivf_fit_centroids(vectors, k=64, sample=20_000, iters=10)
    centroids = centroids.cache()
    centroids.count()
    results["ivf_fit_s"] = time.perf_counter() - t0

    # IVF is build-once / query-many: the index-side cell assignment is
    # a one-time build cost amortized over every query batch, so time
    # the two phases separately (the r3 leg re-ran the build inside
    # every query timing, reporting build cost as query cost).
    from siskin_spark.functions.vectors import ivf_assign_gemm

    assigned_path = os.path.join(CORPUS, "ivf_assigned")
    shutil.rmtree(assigned_path, ignore_errors=True)

    def ivf_build():
        ivf_assign_gemm(vectors, centroids).write.mode("overwrite").parquet(
            assigned_path
        )

    t0 = time.perf_counter()
    ivf_build()
    results["ivf_build_s"] = time.perf_counter() - t0
    # expression-path build for comparison (what r3's topk_ivf_s timed)
    results["ivf_build_expr_s"] = timed(ivf_assign(vectors, centroids))
    assigned = spark.read.parquet(assigned_path)

    def ivf():
        return ivf_topk(ivf_assign(probes, centroids), assigned, k=10)

    timed(ivf())
    results["topk_ivf_s"] = min(timed(ivf()) for _ in range(3))

    # -- embedding-LSH recall vs exact truth on planted pairs ----------
    # Truth: exact cosine of every planted (id-1, id) pair — the
    # brute-force oracle restricted to where near-dups exist by
    # construction (random 64-dim pairs essentially never reach 0.8).
    # Recall = recovered planted pairs / planted pairs above threshold.
    from siskin_spark.functions.vectors import cosine

    planted = vectors.filter(F.col("planted"))
    base_v = vectors.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("embedding").alias("_b")
    )
    truth = (
        planted.join(base_v, on="vec_id")
        .select(
            (F.col("vec_id") - 1).alias("id_a"),
            F.col("vec_id").alias("id_b"),
            cosine(F.col("_b"), F.col("embedding")).alias("cos_sim"),
        )
    )
    truth.cache()
    n_truth95 = truth.filter(F.col("cos_sim") >= 0.95).count()
    n_truth80 = truth.filter(F.col("cos_sim") >= 0.8).count()

    # recall corpus: 100K-vector slice (candidate volume at the claimed
    # 4x4 banding is quadratic in bucket occupancy; the scale banding
    # 16x12 runs on the full slice)
    recall_slice = vectors.filter(F.col("vec_id") < 100_000)
    t_slice = truth.filter(F.col("id_b") < 100_000)

    def recall(threshold: float, n_bands: int, band_bits: int, corpus, tr):
        found = embedding_neardup_pairs(
            corpus, threshold=threshold, n_bands=n_bands, band_bits=band_bits
        ).select("id_a", "id_b")
        want = tr.filter(F.col("cos_sim") >= threshold).select("id_a", "id_b")
        n_want = want.count()
        if n_want == 0:
            return None, 0
        hit = want.join(found, on=["id_a", "id_b"], how="left_semi").count()
        return round(hit / n_want, 4), n_want

    # the r3-claimed config (4 bands x 4 bits, ~0.985 theoretical at
    # cos 0.95) measured on a 10K slice where 16-bucket bands stay cheap
    tiny = vectors.filter(F.col("vec_id") < 10_000)
    t_tiny = truth.filter(F.col("id_b") < 10_000)
    r95_claim, n95_tiny = recall(0.95, 4, 4, tiny, t_tiny)
    # the at-scale banding (16 bands x 12 bits = 4096-bucket bands) on
    # the 100K slice, both thresholds
    t0 = time.perf_counter()
    r95_scale, n95 = recall(0.95, 16, 12, recall_slice, t_slice)
    recall95_s = time.perf_counter() - t0
    r80_scale, n80 = recall(0.80, 16, 12, recall_slice, t_slice)
    truth.unpersist()

    # -- composed AIUpdate chain at full scale -------------------------
    # The capstone DAG (oa_flag -> span-tag w/ drop -> groupcover ->
    # label update -> solr export) as ONE plan over the 10M corpus: the
    # per-operator legs above prove each stage; this proves the
    # COMPOSITION holds its throughput when Catalyst fuses the stages
    # (shared scans, one licensing broadcast, groupcover's narrow
    # shuffle feeding the label join-back). DOIs are synthesized
    # skewed: ~1% of records contend on 1K hot DOIs, 5% have none.
    from siskin_spark.operators.dedup import groupcover as _gc
    from siskin_spark.operators.export import solr_export
    from siskin_spark.operators.joins import update_labels
    from siskin_spark.schema import INTERMEDIATE_SCHEMA

    h = F.xxhash64("finc_id")
    doi = F.when(
        h % 100 == 0,
        F.concat(F.lit("10.9/hot"), (h % 1_000).cast("string")),
    ).when(
        h % 20 != 1,
        F.concat(F.lit("10.9/x"), (h % (n_records // 2)).cast("string")),
    )
    base = records.withColumns(
        {
            "doi": doi,
            "rft_atitle": F.concat(F.lit("Title "), F.col("finc_id")),
            "rft_date": F.date_format("x_date", "yyyy-MM-dd"),
            "languages": F.array(F.lit("eng")),
            "finc_format": F.lit("ElectronicArticle"),
            "url": F.array(F.concat(F.lit("https://example.org/"), F.col("finc_id"))),
        }
    )
    have = set(base.columns)
    conformed = base.select(
        *[
            F.col(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in INTERMEDIATE_SCHEMA.fields
        ]
    )

    def ai_chain():
        flagged = apply_oa_flag(
            conformed,
            oa_issns=oa_issns,
            free_collections=free_colls,
            oa_source_ids=["5", "17"],
            excluded_source_ids=["39"],
        )
        tagged = attach_labels(
            flagged,
            filter_config(),
            holdings=holdings,
            now=datetime.date(2026, 8, 13),
            drop_unlabeled=True,
        )
        # same barrier as the sf0.1 capstone: tagged feeds BOTH
        # groupcover and the label join-back; without it Catalyst
        # executes the whole flag+licensing chain once per consumer
        tagged = tagged.localCheckpoint(eager=False)
        changes = _gc(
            tagged.select("finc_id", "finc_source_id", "doi", "x_labels"),
            labels_col="x_labels",
            preferences=("3", "1", "5", "0", "2", "4"),
            lower_key=True,
        )
        updated = update_labels(
            tagged, changes, labels_col="x_labels", new_labels_col="x_labels"
        )
        return solr_export(updated)

    timed(ai_chain())
    results["ai_chain_s"] = min(timed(ai_chain()) for _ in range(3))

    # -- Structured Streaming throughput (availableNow) ----------------
    # Two shapes: the JVM-native keep-first dedup and the JVM-native
    # watermarked windowed aggregation. min-of-2 with a
    # FRESH checkpoint each run (a reused checkpoint would no-op: the
    # state store remembers every emitted key — that exactly-once
    # bookkeeping is the feature, but it makes rerun timings vacuous);
    # runs are tens of seconds, so per-run noise amortizes.
    import tempfile

    from siskin_spark.streaming.incremental import windowed_counts
    from siskin_spark.streaming.stateful import streaming_dedup_native

    n_stream = int(os.environ.get("SCALE_STREAM_ROWS", 2_000_000))
    stream_dir = os.path.join(CORPUS, f"stream_src2_{n_stream}")
    if not os.path.exists(stream_dir):
        spark.range(n_stream).select(
            F.concat(
                F.lit("10.1000/s"), (F.col("id") % (n_stream // 2)).cast("string")
            ).alias("doi"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") % 864_000)
            ).alias("ts"),
            (F.col("id") % 7).cast("string").alias("event_type"),
            (F.col("id") % 100).cast("double").alias("value"),
        ).repartition(16).write.mode("overwrite").parquet(stream_dir)
    stream_schema = spark.read.parquet(stream_dir).schema

    def run_stream(make_sink) -> float:
        ckpt = tempfile.mkdtemp(prefix="siskin-ckpt-")
        try:
            src = spark.readStream.schema(stream_schema).parquet(stream_dir)
            t0 = time.perf_counter()
            q = make_sink(src, ckpt)
            q.awaitTermination()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    def dedup_native_sink(src, ckpt):
        # keep-first dedup, JVM dropDuplicatesWithinWatermark: the
        # production path (bounded state, zero Python in the loop)
        return (
            streaming_dedup_native(
                src, ["doi"], event_time_col="ts", watermark="1 hour"
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )

    def window_sink(src, ckpt):
        return (
            windowed_counts(
                src, ts_col="ts", key_col="event_type",
                window="1 hour", watermark="1 hour",
            )
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )

    results["stream_dedup_native_s"] = min(
        run_stream(dedup_native_sink) for _ in range(2)
    )
    results["stream_window_s"] = min(run_stream(window_sink) for _ in range(2))

    out = {
        "metric": "records_per_second",
        "records": n_records,
        "cpus": cpus,
        # host-speed normalizer (fixed workloads — see _control_leg):
        # compare rounds via control-to-control, operators via
        # operator/control within one artifact
        "control_jvm_xxhash_s": round(results["control_jvm_xxhash_s"], 2),
        "control_jvm_xxhash_rows": results["control_jvm_xxhash_rows"],
        "control_py_md5_s": round(results["control_py_md5_s"], 2),
        "control_py_md5_iters": results["control_py_md5_iters"],
        "oa_flag_s": round(results["oa_flag_s"], 2),
        "oa_flag_rps": round(n_records / results["oa_flag_s"]),
        "oa_flag_baseline_rps": 41_700,
        "licensing_tag_s": round(results["licensing_tag_s"], 2),
        "licensing_tag_rps": round(n_records / results["licensing_tag_s"]),
        "licensing_tag_baseline_rps": 20_000,
        "snapshot_s": round(results["snapshot_s"], 2),
        "snapshot_rps": round(n_records / results["snapshot_s"]),
        "snapshot_keys": n_records // 3,
        "snapshot_baseline_rps": 28_000,
        "neardup_s": round(results["neardup_s"], 2),
        "neardup_docs": n_docs,
        "neardup_dps": round(n_docs / results["neardup_s"]),
        "neardup_verified_pairs": n_pairs,
        "neardup_collapse_s": round(results["neardup_collapse_s"], 2),
        "neardup_survivors": n_survivors,
        "neardup_xx_s": round(results["neardup_xx_s"], 2),
        "neardup_xx_dps": round(n_docs / results["neardup_xx_s"]),
        "neardup_index_build_s": round(results["neardup_index_build_s"], 2),
        "neardup_incremental_s": round(results["neardup_incremental_s"], 2),
        "neardup_incremental_batch": results["neardup_incremental_batch"],
        "neardup_incremental_pairs": results["neardup_incremental_pairs"],
        "neardup_incremental_dps": round(
            results["neardup_incremental_batch"]
            / results["neardup_incremental_s"]
        ),
        "decontam_s": round(results["decontam_s"], 2),
        "decontam_dps": round(results["decontam_docs"] / results["decontam_s"]),
        "decontam_docs": results["decontam_docs"],
        "decontam_bench_docs": results["decontam_bench_docs"],
        "decontam_survivors": results["decontam_survivors"],
        "curation_signals_s": round(results["curation_signals_s"], 2),
        "curation_signals_dps": round(
            results["decontam_docs"] / results["curation_signals_s"]
        ),
        "line_dedup_s": round(results["line_dedup_s"], 2),
        "line_dedup_dps": round(
            results["decontam_docs"] / results["line_dedup_s"]
        ),
        "signature_panel_s": round(results["signature_panel_s"], 2),
        "signatures_composed_s": round(results["signatures_composed_s"], 2),
        "text_quality_s": round(results["text_quality_s"], 2),
        "text_quality_docs": n_docs,
        "text_quality_dps": round(n_docs / results["text_quality_s"]),
        "text_quality_kept": tq_kept,
        "groupcover_s": round(results["groupcover_s"], 2),
        "groupcover_rps": round(n_records / results["groupcover_s"]),
        "groupcover_hot_keys": 1_000,
        "topk_lsh_s": round(results["topk_lsh_s"], 2),
        "topk_ivf_s": round(results["topk_ivf_s"], 2),
        "ivf_fit_s": round(results["ivf_fit_s"], 2),
        "ivf_build_s": round(results["ivf_build_s"], 2),
        "ivf_build_expr_s": round(results["ivf_build_expr_s"], 2),
        "topk_vectors": n_vec,
        "topk_probes": probes.count(),
        "recall95_claimed_banding_4x4": r95_claim,
        "recall95_claimed_truth_pairs": n95_tiny,
        "recall95_scale_banding_16x12": r95_scale,
        "recall95_truth_pairs": n95,
        "recall80_scale_banding_16x12": r80_scale,
        "recall80_truth_pairs": n80,
        "recall95_scale_run_s": round(recall95_s, 2),
        "ai_chain_s": round(results["ai_chain_s"], 2),
        "ai_chain_rps": round(n_records / results["ai_chain_s"]),
        "stream_rows": n_stream,
        "stream_dedup_native_s": round(results["stream_dedup_native_s"], 2),
        "stream_dedup_native_rps": round(
            n_stream / results["stream_dedup_native_s"]
        ),
        "stream_window_s": round(results["stream_window_s"], 2),
        "stream_window_rps": round(n_stream / results["stream_window_s"]),
        **{
            k: (round(v, 2) if isinstance(v, float) else v)
            for k, v in results.items()
            if k.startswith(("semdedup_", "curate_chain_", "oov_"))
        },
        "clf_md5_s": round(results["clf_md5_s"], 2),
        "clf_xxhash64_s": round(results["clf_xxhash64_s"], 2),
        "clf_docs": n_docs,
        "clf_md5_dps": round(n_docs / results["clf_md5_s"]),
        "clf_xxhash64_dps": round(n_docs / results["clf_xxhash64_s"]),
        "vocab_table_s": round(results["vocab_table_s"], 2),
        "vocab_table_dps": round(n_docs / results["vocab_table_s"]),
        "span_dedup_s": round(results["span_dedup_s"], 2),
        "span_dedup_dps": round(n_docs / results["span_dedup_s"]),
        "span_dedup_keepfirst_s": round(results["span_dedup_keepfirst_s"], 2),
        "n_truth_pairs_full": {"cos>=0.95": n_truth95, "cos>=0.8": n_truth80},
        "n_isils": N_ISILS,
        "n_holdings_rows": N_HOLDINGS_FILES * HOLDINGS_ROWS_PER_FILE,
        "n_oa_issns": N_OA_ISSNS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
