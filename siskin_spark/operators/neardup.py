"""Near-duplicate detection operators over a document table
(SURVEY.md §7.5): MinHash+LSH, SimHash, exact n-gram Jaccard, and an
incremental path against a persisted signature index.

Scale design (the point of LSH): candidate generation is a group-by on
band keys — one shuffle of (band_key, doc_id) pairs, never an all-pairs
join. Exact-Jaccard verification then runs only on candidates. The
brute-force `ngram_jaccard_pairs` exists as the small-scale oracle and
for verification sampling; at 100 TB you only ever run the LSH path —
and for recurring batches, `neardup_index_build` + `incremental_neardup`
so admitting a batch costs batch-sized work, not a corpus re-shingle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from siskin_spark import index_store
from siskin_spark.functions.similarity import (
    lsh_band_keys,
    minhash_signature,
    simhash_bits,
    token_hash_u32,
    word_shingles,
)
from siskin_spark.functions.text import tokens
from siskin_spark.session import local_table


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    outer: bool = False,
) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc — the Jaccard universe.

    With ``outer=True`` a document with no shingles (fewer than ``n``
    tokens) keeps one row with a NULL shingle, so per-doc aggregates
    downstream cover the whole corpus without a join back to ``docs``
    (``count(shingle)`` skips the NULL; a join on the shingle column
    never matches it).

    Overlapping word n-grams are extracted with a single
    lookahead-capture regex pass (codegen'd JVM regex) instead of a
    ``transform``/``slice`` higher-order lambda: Catalyst interprets
    HOF lambdas per element, which measured ~3x slower, and the regex
    form keeps the whole stage in one scan.
    Equivalent to slicing ``split(text, ' ')`` for single-space-
    separated text (normalize whitespace upstream if the corpus has
    runs of spaces; :func:`word_shingles` remains the general path).

    Per-doc distinctness comes from ``array_distinct`` BEFORE the
    explode — shingles only ever repeat within a document, so this is
    semantically identical to a global ``distinct()`` but needs NO
    shuffle: the whole table is produced map-side.
    """
    pat = "(?=((" + r"\S+ " * (n - 1) + r"\S+)))\S+ ?"
    # Shingling + hashing downstream is CPU-bound; a small input (one
    # parquet row-group -> one split) would otherwise pin the whole
    # pipeline to a single core. Repartition BEFORE the ~50x explode so
    # the shuffle moves raw docs, not shingles. At 100 TB the scan
    # already yields >= cores splits and this is a no-op. The
    # small/large decision reads Catalyst's size estimate (driver-only;
    # an rdd.getNumPartitions() probe would run upstream stages under
    # AQE — a hidden job per call).
    from siskin_spark.functions.vectors import _parallel

    docs = _parallel(docs, id_col)
    explode = F.explode_outer if outer else F.explode
    return docs.select(
        F.col(id_col),
        explode(
            F.array_distinct(F.regexp_extract_all(F.col(text_col), F.lit(pat), 1))
        ).alias("shingle"),
    )


_XX_EMPTY_SENTINEL = str(2**63 - 1)  # Long.MAX: "no shingles" sorts last


def _family_sentinel(hash_family: str) -> str:
    """The per-family signature element marking "doc has no shingles"
    (:func:`minhash_table` coalesces it in). Banding must EXCLUDE
    all-sentinel signatures: every shingle-less doc carries the same
    one, so B such docs would band into one clique and emit B^2
    candidate pairs — quadratic in e.g. the empty-after-cleaning doc
    count of a web corpus — all of which verification then discards
    anyway (no counts row -> inner join drops them). The oracle SQL
    never bands them either (its sig CTE derives FROM shingles)."""
    return "ffffffff" if hash_family == "md5" else _XX_EMPTY_SENTINEL


def _minhash_aggs(hash_family: str, k: int):
    """The k-min signature aggregate, shared by every signature
    producer (:func:`minhash_table`, :func:`signature_panel`,
    :func:`neardup_index_build`): returns ``(aggs, sentinel, elem)``
    where ``aggs`` are the k ``min()`` expressions over a ``shingle``
    column, ``sentinel`` is the per-family "no shingles" element, and
    ``elem(i)`` renders signature element i as its canonical string
    column. One definition means the persisted index, the fused panel,
    and the ad-hoc table can never drift apart."""
    if hash_family == "md5":
        aggs = [
            F.min(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i // 4}:"), F.col("shingle"))),
                    (i % 4) * 8 + 1,
                    8,
                )
            ).alias(f"_s{i}")
            for i in range(k)
        ]
        sentinel = "ffffffff"
        elem = lambda i: F.col(f"_s{i}")  # noqa: E731
    elif hash_family == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"_s{i}")
            for i in range(k)
        ]
        sentinel = _XX_EMPTY_SENTINEL
        elem = lambda i: F.col(f"_s{i}").cast("string")  # noqa: E731
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return aggs, sentinel, elem


def lsh_params_for_threshold(
    threshold: float,
    k_max: int = 256,
    recall_min: float = 0.9,
    precision_guard: float = 0.3,
) -> dict:
    """Solve (k, bands, rows) for a target Jaccard ``threshold`` from
    the banding S-curve: a pair with Jaccard s collides in at least
    one band with probability p(s) = 1 − (1 − s^rows)^bands. Users
    know the threshold they care about ("dedup at 0.8"); the banding
    parameters that realize it are S-curve algebra nobody should
    re-derive per pipeline. Scans rows × bands grids with
    rows·bands = k ≤ ``k_max`` and returns the SMALLEST k whose curve
    has p(threshold) ≥ ``recall_min`` while keeping the sub-threshold
    mass bounded — p(threshold − 0.2) ≤ the candidate-waste guard
    (``precision_guard`` + the recall shortfall), because banding
    false positives are pure wasted exact-Jaccard verification at
    corpus scale (the verify stage keeps correctness either way; this
    knob prices its input volume). Among same-k admissible grids the
    steepest curve (max p(t) − p(t−0.2)) wins. Returns
    {k, bands, rows, p_at_threshold, p_below} — feed straight to
    :func:`minhash_table` / :func:`lsh_candidates` /
    :func:`neardup_index_build`. Deterministic pure math, no Spark."""
    if not 0 < threshold < 1:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    below = max(threshold - 0.2, 0.01)
    best = None
    for k in range(2, k_max + 1):
        for rows in range(1, k + 1):
            if k % rows:
                continue
            bands = k // rows
            p_t = 1.0 - (1.0 - threshold ** rows) ** bands
            p_b = 1.0 - (1.0 - below ** rows) ** bands
            if p_t < recall_min or p_b > precision_guard + (1.0 - p_t):
                continue
            cand = (k, -(p_t - p_b))  # smallest k, then steepest curve
            if best is None or cand < best[0]:
                best = (cand, {
                    "k": k, "bands": bands, "rows": rows,
                    "p_at_threshold": round(p_t, 4),
                    "p_below": round(p_b, 4),
                })
        if best is not None and best[1]["k"] == k:
            # smaller k can no longer win; finish this k's grids only
            break
    if best is None:
        raise ValueError(
            f"no (bands, rows) grid under k_max={k_max} reaches "
            f"recall {recall_min} at threshold {threshold} with "
            f"p({below:.2f}) <= {precision_guard} + shortfall; relax "
            "recall_min/precision_guard or raise k_max"
        )
    return best[1]


def minhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    shingles: DataFrame | None = None,
    hash_family: str = "md5",
) -> DataFrame:
    """doc_id -> minhash signature (array<string> of k minima).

    Implemented as explode(shingles) -> k min() hash aggregates rather
    than per-row array lambdas: Catalyst evaluates higher-order
    ``transform`` lambdas interpreted and re-derives the shingle array
    for every signature element (16x per row — measured ~30 ms/doc),
    while the exploded form runs hash+min inside whole-stage codegen
    with map-side partial aggregation (one narrow shuffle per corpus).

    Two hash families, same MinHash guarantees (any uniform per-
    function hash works; collision probability over k functions equals
    Jaccard either way):

    - ``'md5'`` (default): k/4 md5 calls per shingle, four independent
      8-hex-char chunks each — bit-reproducible in ANY engine with
      md5, which is what the DuckDB oracle checks.
    - ``'xxhash64'``: one JVM-intrinsic xxhash64 per function seeded
      by the function index — measured 4.3x faster on the signature
      aggregate over 118M shingles (24.6s -> 5.7s; it skips md5's
      digest allocation and hex encoding). The min runs on raw longs;
      the signature renders them as decimal strings per DOC (3M rows,
      not 118M shingles) so banding and every downstream consumer see
      the same array<string> shape. Use at scale; the md5 family
      remains the cross-engine-checkable default.
    """
    sh = shingle_table(docs, id_col, text_col, n) if shingles is None else shingles
    aggs, sentinel, elem = _minhash_aggs(hash_family, k)
    sig = sh.groupBy(id_col).agg(*aggs)
    out = docs.select(id_col).join(sig, on=id_col, how="left")
    return out.select(
        F.col(id_col),
        F.array(
            *[F.coalesce(elem(i), F.lit(sentinel)) for i in range(k)]
        ).alias("signature"),
    )


def lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
    hash_family: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band.

    Plan: signature -> explode band keys -> self-join per band key via
    groupBy+collect (bounded buckets), emit pairs, distinct. The heavy
    operation is one shuffle on band keys; bucket sizes are bounded by
    banding so the pair expansion is local and small.
    ``hash_family`` passes through to :func:`minhash_table` ('md5'
    oracle-parity default, 'xxhash64' for the fast scale path).
    """
    rows = k // bands
    sigs = minhash_table(
        docs, id_col, text_col, n, k, shingles=shingles, hash_family=hash_family
    )
    # shingle-less docs share one all-sentinel signature: exclude them
    # from banding or they clique quadratically (see _family_sentinel)
    banded = sigs.filter(
        F.element_at("signature", 1) != F.lit(_family_sentinel(hash_family))
    ).select(
        F.col(id_col), F.explode(lsh_band_keys(F.col("signature"), bands, rows)).alias("band")
    )
    a = banded.withColumnRenamed(id_col, "id_a")
    b = banded.withColumnRenamed(id_col, "id_b")
    pairs = (
        a.join(b, on="band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs


#: "auto" ``broadcast_candidates`` threshold: below this many corpus
#: docs the semi-filter's cost (the candidate LSH pipeline runs a
#: second time as the broadcast subquery) exceeds what it saves in
#: shuffled shingle rows. Measured: pure overhead at ~60K docs
#: (sf0.1, ~+1s/query), 4.5x end-to-end win at 3M docs.
BROADCAST_CANDIDATES_MIN_DOCS = 200_000


def exact_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    broadcast_candidates: bool | str = "auto",
    corpus_docs: int | None = None,
    broadcast_pairs: bool | str = "auto",
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over shingle sets.
    Set-based (r13, guide §2.1/§2.3): each candidate doc's shingle set
    is collected ONCE into a per-doc array (one doc-keyed aggregate —
    the only corpus-sized shuffle), the pair list is attached by id_a
    and id_b, and |A∩B| / |A| / |B| are computed ROW-LOCALLY with
    ``array_intersect``/``count``; jaccard = inter/(|A|+|B|-inter) as
    a single IEEE division (engine-portable exact). Identical output
    to the former join form (|A∩B| from a shingle equi-join, counts
    from a second aggregate, three joins back) — pinned by the naive-
    equality property test — but the shingle rows cross the network
    once instead of three times and the (id_a, id_b) re-aggregate,
    the counts aggregate and both count joins disappear: 5 exchanges
    → 2 at any scale.

    Only CANDIDATE docs' shingles matter — non-candidates affect
    neither the intersection nor the |A|/|B| counts — so with
    ``broadcast_candidates`` the candidate id set is broadcast and the
    corpus-sized shingle table is semi-filtered MAP-SIDE before any
    shuffle: at 3M docs that shrinks the verify stage's shuffles from
    118M shingle rows to the ~6M belonging to candidates. The
    candidate set is near-dup-rate-sized (two ids per surviving
    pair), so it broadcasts comfortably; for a pathological corpus
    where most docs are candidates, pass False to keep the
    shuffle-join plan instead of a giant broadcast.

    The semi-filter is NOT free on small inputs: building the
    broadcast re-evaluates the candidate pipeline (``pairs`` is lazy),
    so below ~:data:`BROADCAST_CANDIDATES_MIN_DOCS` docs it costs more
    than the shuffle it avoids. ``broadcast_candidates="auto"``
    (default) resolves via the ``corpus_docs`` hint — a cheap
    ``docs.count()`` at the call site (metadata-only on parquet):
    filter when ``corpus_docs >= BROADCAST_CANDIDATES_MIN_DOCS``,
    skip when smaller, and assume scale (filter) when no hint is
    given, since the at-scale downside of skipping dwarfs the
    small-input overhead of filtering.

    ``broadcast_pairs`` (default on) broadcasts the pair list into the
    id_a attach so the per-doc sets stream map-side — the same
    near-dup-rate size argument as the candidate-id broadcast, and the
    pair plan is only evaluated once either way (the id_b attach joins
    the OUTPUT of the first join, not ``pairs`` again). Pass False
    together with ``broadcast_candidates=False`` for the pathological
    mostly-duplicates corpus; the id_b attach then reuses the set
    aggregate's hash partitioning, so only the pair rows shuffle.

    Memory: one doc's distinct shingle set per row — bounded by
    document length, the same rows the join form materialized in its
    per-pair aggregate buffers.

    See README.md "Operator selection at scale" for the full
    small-vs-large-input decision table across operators."""
    if broadcast_candidates == "auto":
        broadcast_candidates = (
            corpus_docs is None or corpus_docs >= BROADCAST_CANDIDATES_MIN_DOCS
        )
    if broadcast_pairs == "auto":
        broadcast_pairs = True
    if broadcast_candidates:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingles = shingles.join(
            F.broadcast(cand_ids), on=id_col, how="left_semi"
        )
    # one corpus-sized aggregate: the doc's distinct shingle set plus
    # its row count (count("*"), not size(set): a NULL shingle row —
    # outer shingle tables — counts toward |A| but can never match,
    # exactly as in the join form)
    sets = shingles.groupBy(id_col).agg(
        F.collect_set("shingle").alias("_sh"),
        F.count("*").alias("_n"),
    )
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sh_a"),
        F.col("_n").alias("n_a"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sh_b"),
        F.col("_n").alias("n_b"),
    )
    p = F.broadcast(pairs) if broadcast_pairs else pairs
    out = a.join(p, on="id_a").join(b, on="id_b")
    return (
        out.withColumn(
            "n_inter", F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .drop("_sh_a", "_sh_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force exact n-gram Jaccard over all pairs sharing >= 1
    shingle (small-scale oracle path; use :func:`lsh_candidates` +
    :func:`exact_jaccard` at scale)."""
    sh = shingle_table(docs, id_col, text_col, n)
    counts = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(counts.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), on="id_a")
        .join(counts.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard"
    )


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """doc_id -> SimHash value over distinct whitespace tokens.

    Per-bit majority vote of token hashes: bit j of the simhash is set
    when the sum over tokens of (+1 if token-hash bit j set else -1)
    is >= 0. One token explode, then the ``bits`` votes are ``bits``
    sum columns of a SINGLE doc-keyed aggregate — scales linearly in
    corpus token count. (r13 opt: the previous form exploded every
    token row a further ``bits``x into (doc, bit) rows and ran two
    stacked groupBys — a 32x row shuffle and an extra exchange for
    the identical integer votes.)
    """
    tok = (
        docs.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("h", token_hash_u32(F.col("tok")))
    )
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(F.expr(f"(shiftright(h, {j}) & 1) * 2 - 1")).alias(f"_v{j}")
            for j in range(bits)
        ]
    )
    simhash = None
    for j in range(bits):
        bitval = F.when(
            F.col(f"_v{j}") >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = bitval if simhash is None else simhash + bitval
    return votes.select(F.col(id_col), simhash.alias("simhash"))


def fingerprint_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, k: int = 4
) -> DataFrame:
    """Winnowing-style fingerprints: the k smallest distinct shingle
    hashes per doc, sorted and '|'-joined ('' for shingle-less docs).

    Exploded groupBy form of :func:`siskin_spark.functions.similarity.
    fingerprint` — the per-row ``transform`` lambda is interpreted by
    Catalyst and runs on however few splits the scan produced, while
    this form hashes on the repartitioned shingle table and aggregates
    with map-side partials."""
    from siskin_spark.functions.similarity import seeded_hash

    sh = shingle_table(docs, id_col, text_col, n)
    fp = (
        sh.select(F.col(id_col), seeded_hash(F.col("shingle"), 0).alias("_h"))
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_set("_h")), 1, k)
            ).alias("fingerprint")
        )
    )
    return docs.select(id_col).join(fp, on=id_col, how="left").select(
        F.col(id_col), F.coalesce("fingerprint", F.lit("")).alias("fingerprint")
    )


def signature_panel(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    fp_k: int = 4,
    bench_text_col: str = "text",
) -> DataFrame:
    """Fused per-document signature panel: the k=16 MinHash signature,
    the winnowing fingerprint, and (with ``benchmark``) the
    decontamination tally — out of ONE shingle explode and ONE groupBy.

    Composing :func:`minhash_table` + :func:`fingerprint_table` +
    ``curation.contamination`` costs three shingle passes, three
    doc-keyed shuffles, and three joins back together; every aggregate
    here rides the same exchange instead (the benchmark's distinct
    shingles broadcast-join onto the shingle table BEFORE the groupBy,
    so the tally is map-side work). The outer shingle explode keeps
    shingle-less docs as one NULL row, so no join back to ``docs`` is
    needed either: ``min``/``collect_set``/``count`` all skip the NULL.
    Values are identical to the composed form (same hash family, same
    fingerprint slice, same counts) — the DuckDB oracle pins them.
    """
    from siskin_spark.functions.similarity import seeded_hash

    sh = shingle_table(docs, id_col, text_col, n, outer=True)
    aggs, sentinel, elem = _minhash_aggs("md5", k)
    aggs = list(aggs)
    aggs.append(
        F.concat_ws(
            "|",
            F.slice(
                F.array_sort(F.collect_set(seeded_hash(F.col("shingle"), 0))),
                1,
                fp_k,
            ),
        ).alias("fingerprint")
    )
    if benchmark is not None:
        bench_sh = (
            shingle_table(
                benchmark.select(
                    F.monotonically_increasing_id().alias("_bid"),
                    F.col(bench_text_col).alias("_btext"),
                ),
                "_bid",
                "_btext",
                n,
            )
            .select("shingle")
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        sh = sh.join(F.broadcast(bench_sh), "shingle", "left")
        aggs.append(F.count("shingle").alias("n_shingles"))
        aggs.append(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap")
        )
    panel = sh.groupBy(id_col).agg(*aggs)
    sig = F.array(
        *[F.coalesce(elem(i), F.lit(sentinel)) for i in range(k)]
    ).alias("signature")
    cols = [F.col(id_col), sig, F.col("fingerprint")]
    if benchmark is not None:
        cols += [
            F.col("n_shingles"),
            F.col("n_overlap"),
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_overlap").cast("double")
                / F.col("n_shingles").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_frac"),
        ]
    return panel.select(*cols)


def keep_canonical(
    docs: DataFrame, verified_pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse verified near-duplicate pairs into a kept set: a doc is
    dropped when any verified duplicate with a smaller id exists (the
    standard keep-first rule over (id_a < id_b) pairs — deterministic,
    one anti-join, no iterative connected components).

    ``verified_pairs`` is (id_a, id_b) with id_a < id_b, e.g. the
    thresholded output of :func:`exact_jaccard` over
    :func:`lsh_candidates`. Returns the ``docs`` rows that survive.
    At 100 TB the duplicate-id side is a small fraction of the corpus,
    so the anti-join broadcasts it; the corpus itself never shuffles.
    """
    dropped = verified_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(dropped, on=id_col, how="left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Transitive closure of a near-duplicate pair list: (node,
    component) where component = the minimum id reachable through any
    chain of pairs. :func:`keep_canonical`'s one-join keep-first rule
    keeps every LOCAL minimum, which over-keeps star components (pairs
    (a,c),(b,c) keep both a and b); component-wise collapse needs the
    closure.

    Two engines, same output by construction (equality pinned in
    tests):

    - **Bounded driver union-find** when the edge list fits under
      ``driver_max_edges`` (probed with ``limit(n+1).collect()`` — ONE
      execution of the pair pipeline, early-exiting past the bound; a
      1M-edge list is ~100-200 MB of transient Row objects on the
      driver — bounded, freed after the linear union-find pass, and
      sized for real driver heaps). Verified near-dup pair
      lists are SMALL relative to the corpus — LSH banding plus a
      Jaccard threshold leaves a few duplicates per thousand docs —
      so this is the common case, and it replaces per-round
      join+checkpoint+count machinery with one linear pass.
      ``driver_max_edges=0`` disables the probe (for callers that
      KNOW the pair list is huge and don't want the bounded collect).
    - **Min-label propagation** otherwise: each round joins labels
      across edges and takes the per-node min (two shuffles/round,
      both on node id — AQE coalesces as labels shrink). Rounds
      needed = graph diameter, which for near-dup clusters (dense
      cliques from band collisions) is 2-3; the driver-side loop
      stops at the first fixpoint (the count() per round is a scalar,
      not a collect of data). Same primitive as GraphFrames' label
      propagation, dependency-free.
    """
    edges0 = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # NULL-keyed edges: drop them in ONE place so both engines agree.
    # Without this the union-find raises TypeError on `rb < ra` (None
    # is not orderable) while the propagation engine silently loses
    # NULL rows to join semantics — same dirty input, two behaviors.
    edges0 = edges0.where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if driver_max_edges:
        head = edges0.limit(driver_max_edges + 1).collect()
        if len(head) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                a, b = row["src"], row["dst"]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN id: the root is always the component
                    # minimum, matching the propagation engine's label
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            from pyspark.sql.types import StructField, StructType

            t = edges0.schema["src"].dataType
            schema = StructType(
                [StructField("node", t), StructField("component", t)]
            )
            return local_table(
                pairs.sparkSession, [(n, find(n)) for n in parent], schema
            )
    edges = edges0
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component"))
    for _ in range(max_iter):
        # min neighbor label per node, then fold into own label
        via = (
            edges.join(
                labels.withColumnRenamed("node", "src"), on="src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr"))
        )
        new = (
            labels.join(via, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr", F.col("component"))
                ).alias("component"),
            )
        )
        new = new.localCheckpoint(eager=True)  # cut the lineage per round
        changed = (
            new.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # min-label propagation needs rounds >= component diameter; a
        # silent early exit leaves components split and every caller
        # (keep_canonical_cc) under-collapses with no signal
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise "
            "max_iter — the pair graph has a chain longer than "
            f"{max_iter} hops"
        )
    return labels


def keep_canonical_cc(
    docs: DataFrame, verified_pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Component-wise collapse: keep exactly ONE doc (the min id) per
    connected near-duplicate cluster. Strictly stronger than
    :func:`keep_canonical` on non-clique pair graphs; costs the
    closure's iterations, so prefer it when banding makes chains
    likely (multiple bands, high thresholds -> sparse pair lists).
    """
    comp = connected_components(verified_pairs, max_iter=25)
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(dropped, on=id_col, how="left_anti")


# --- incremental near-dup: dedup a new batch against a persisted -----
# --- signature index without recomputing the corpus ------------------
# The meta (index_store: "neardup") pins the banding parameters the
# index was built with; a query with different ones would silently
# produce wrong candidates, so every incremental call reads them from it.


def neardup_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    hash_family: str = "md5",
) -> None:
    """Persist the near-dup signature index for a corpus: band keys
    (``bands/``: band, doc_id) and the shingle universe (``shingles/``:
    doc_id, shingle) as parquet under ``index_dir``, plus a meta file
    pinning the banding parameters. Built ONCE over the corpus; daily
    batches then dedup against it via :func:`incremental_neardup` —
    the per-batch corpus cost drops from a full re-shingle + re-hash
    of all text to two narrow-column parquet scans (bands, shingles;
    neither ever shuffles) — and new survivors extend the index with
    :func:`neardup_index_append` (new part files, no rewrite).
    Measured on the 3M-doc scale corpus (SCALE.md): build 12.6 s once,
    then a 30K-doc batch verifies in 4.4 s vs 8.9-28.4 s full
    recompute — a floor, since those docs are ~50 words; at real
    document sizes the recompute side grows with corpus text bytes,
    this path doesn't.

    The reference recomputes full-corpus artifacts per run (its
    incremental story is input caching, e.g. workflows/ai.py); a 100 TB
    corpus can't re-shingle 3B docs to admit a 3M-doc batch, so the
    index IS the scale path. Scale posture: both tables are written
    repartitioned on their join key (band / doc_id), so incremental
    reads scan narrow 2-column parquet and the batch side broadcasts —
    the index is never shuffled."""
    import os

    # Deliberately TWO text scans (bands job, shingles job), not a
    # fused single-shingle-pass build. Fusion was measured three ways
    # at 3M docs/118M shingles and every variant lost: write-shingles-
    # then-aggregate-the-parquet 40.9s, persist(MEMORY_AND_DISK) the
    # shingle frame 112.7s, one groupBy emitting signature +
    # collect_list(shingle) 96.8s — vs 35.5s composed (same session,
    # same cold JIT). The unavoidable cost is materializing/moving the
    # shingle table, which is ~3x the text bytes plus per-row overhead
    # (each word appears in n shingles); the composed form pays that
    # exactly once (the clustered shingles write) and re-derives
    # shingles from the much smaller text with a cheap map-side regex,
    # while every fusion round-trips or caches the big table instead.
    # The same economics hold at 100 TB: shingle-table bytes > text
    # bytes by construction.
    banded, sh = _index_frames(docs, id_col, text_col, n, k, bands, hash_family)
    banded.repartition("band").write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands")
    )
    sh.repartition("doc_id").write.mode("overwrite").parquet(
        os.path.join(index_dir, "shingles")
    )
    index_store.write_meta(index_dir, "neardup", {
        "version": 1,
        "n": n,
        "k": k,
        "bands": bands,
        "hash_family": hash_family,
        "id_col": id_col,
    })


def _index_frames(docs, id_col, text_col, n, k, bands, hash_family):
    """The two index tables (band keys, shingle universe) as lazy
    frames in the canonical column names — the one place batch bands
    are built: build and append write them, admit and search probe
    with them, so none of the four can drift schema- or
    semantics-wise."""
    rows = k // bands
    sigs = minhash_table(docs, id_col, text_col, n, k, hash_family=hash_family)
    banded = sigs.filter(
        F.element_at("signature", 1) != F.lit(_family_sentinel(hash_family))
    ).select(
        F.col(id_col).alias("doc_id"),
        F.explode(lsh_band_keys(F.col("signature"), bands, rows)).alias("band"),
    )
    sh = shingle_table(docs, id_col, text_col, n).select(
        F.col(id_col).alias("doc_id"), "shingle"
    )
    return banded, sh


def neardup_index_append(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    batch_id: str,
) -> None:
    """Extend an existing index with new documents (typically the
    batch survivors :func:`incremental_keep` returned) under
    ``batch_id`` — any stable identity of the batch (harvest date,
    source file digest). Banding params come from the index meta, so
    passing different ones is impossible by construction. Idempotent
    and replay-safe under the ledger contract of
    :mod:`siskin_spark.index_store`, which matters more here than for
    the cell index: a double-placed ``shingles/`` batch doubles those
    docs' shingle counts and corrupts exact-Jaccard verification
    (union sizes inflate, every affected pair under-scores)."""

    def tables(meta: dict) -> dict:
        banded, sh = _index_frames(
            docs, id_col, text_col,
            meta["n"], meta["k"], meta["bands"], meta["hash_family"],
        )
        return {"bands": (banded, "band"), "shingles": (sh, "doc_id")}

    index_store.append(index_dir, "neardup", batch_id, tables)


def incremental_neardup(
    spark,
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and (index corpus + batch),
    without touching the corpus text: returns (doc_id, dup_of,
    jaccard) where ``doc_id`` is always from the new batch and
    ``dup_of`` is an index doc or a smaller-id batch doc.

    The vs-index half is :func:`neardup_index_search` with a threshold
    in place of a top-k: the same probe (batch bands from
    :func:`_index_frames`, params from the index meta, broadcast-joined
    to the persisted ``bands/``) and the same verification
    (:func:`_verify_vs_index`). All CPU-heavy work (shingling,
    hashing, banding) runs over the batch only; the corpus
    contributes two narrow-column parquet scans and no shuffle — the
    batch side is broadcast, so the corpus-scale index is scanned
    but never shuffled. Batch-internal candidates come from a
    self-join of the batch bands and are verified in the same pass.
    Output orientation: ``doc_id`` is always the DROP side — the
    batch doc for index hits (the corpus copy wins), the LARGER id
    for batch-internal pairs — so :func:`incremental_keep`'s
    keep-first rule is one anti-join."""
    import os

    n, k, bands, fam = _read_index_params(index_dir)
    new_bands, sh_new = _index_frames(
        new_docs, id_col, text_col, n, k, bands, fam
    )
    # batch vs index: broadcast the (small) batch band table against
    # the corpus-scale index — map-side hash join, index not shuffled
    vs_index = (
        spark.read.parquet(os.path.join(index_dir, "bands"))
        .join(
            F.broadcast(new_bands.withColumnRenamed("doc_id", "id_a")), on="band"
        )
        .filter(F.col("id_a") != F.col("doc_id"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )
    # batch vs batch: self-join of the (small) band table; id_a (the
    # drop side) is the LARGER id — keep-first keeps the earlier doc
    a = new_bands.withColumnRenamed("doc_id", "id_a")
    b = new_bands.withColumnRenamed("doc_id", "id_b")
    vs_batch = (
        a.join(b, on="band")
        .filter(F.col("id_a") > F.col("id_b"))
        .select("id_a", "id_b")
    )
    pairs = vs_index.unionByName(vs_batch).distinct()
    return _verify_vs_index(
        spark, index_dir, pairs, new_bands, sh_new, threshold
    ).select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("dup_of"),
        "jaccard",
    )


def neardup_index_search(
    spark,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.0,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k most-similar INDEXED documents per query document, by
    exact n-gram Jaccard over LSH band candidates — the lexical
    serving twin of :func:`semdedup_index_search
    <siskin_spark.functions.vectors.semdedup_index_search>` ("find
    near-copies of this document" against the same persisted artifact
    the daily near-dup gate maintains; provenance lookups, takedown
    triage, retrieval-side dedup). Returns (query_id, neighbor_id,
    jaccard, rank); rank is a deterministic per-query row_number
    (jaccard DESC, neighbor_id ASC), only ``rank <= k`` survive.

    Search is the admit (:func:`incremental_neardup`) with a top-k in
    place of a threshold: the same probe — query bands from
    :func:`_index_frames` (params from the index meta) broadcast-
    joined to the persisted ``bands/``, so the corpus-scale index is
    scanned, never shuffled — and the same verification
    (:func:`_verify_vs_index`: only the candidate docs' shingles are
    read, via a broadcast semi-filter, then exact Jaccard), followed
    by the rank window over candidate-sized rows. At threshold ``t``
    the admit's vs-index pairs are exactly the ``exclude_self`` hits
    with ``min_jaccard=t`` at a k no query's candidate list exceeds
    (pinned in tests). Recall is the banding curve (same s-curve as
    the dedup path): a neighbor sharing no band with the query is not
    a candidate — raise k/bands at build time for higher-recall
    serving, and use ``min_jaccard`` to trim the long tail of
    incidental band collisions. A query id also present in the index
    resolves to the QUERY text (the admit's batch-wins rule); its
    self-hit scores jaccard 1.0 at rank 1 unless ``exclude_self``."""
    import os

    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n, kk, bands, fam = _read_index_params(index_dir)
    q_bands, sh_q = _index_frames(queries, id_col, text_col, n, kk, bands, fam)
    cand = (
        spark.read.parquet(os.path.join(index_dir, "bands"))
        .join(F.broadcast(q_bands.withColumnRenamed("doc_id", "id_a")), on="band")
        .select("id_a", F.col("doc_id").alias("id_b"))
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("id_a") != F.col("id_b"))
    verified = _verify_vs_index(spark, index_dir, cand, q_bands, sh_q, min_jaccard)
    w = Window.partitionBy("id_a").orderBy(F.desc("jaccard"), F.asc("id_b"))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            "jaccard",
            "rank",
        )
    )


def _verify_vs_index(spark, index_dir, pairs, banded, sh, min_jaccard):
    """Exact Jaccard of candidate ``pairs`` (``id_a`` a batch doc,
    ``id_b`` an index or batch doc) over the batch's shingles ``sh``
    plus ONLY the candidate index docs' — a broadcast semi-filter on
    the corpus-sized shingle store (candidate ids are
    near-dup-rate-sized). Batch wins: an id in both the batch
    (``banded``) and the index is verified with the batch text.
    Returns exact_jaccard rows with ``jaccard >= min_jaccard``."""
    import os

    cand_old = pairs.select(F.col("id_b").alias("doc_id")).join(
        banded.select("doc_id").distinct(), on="doc_id", how="left_anti"
    ).distinct()
    old_sh = spark.read.parquet(os.path.join(index_dir, "shingles")).join(
        F.broadcast(cand_old), on="doc_id", how="left_semi"
    )
    return exact_jaccard(
        pairs, sh.unionByName(old_sh), id_col="doc_id",
        broadcast_candidates=False,
    ).filter(F.col("jaccard") >= min_jaccard)


def _read_index_params(index_dir: str) -> tuple[int, int, int, str]:
    meta = index_store.read_meta(index_dir, "neardup")
    return meta["n"], meta["k"], meta["bands"], meta["hash_family"]


def incremental_keep(
    new_docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Batch survivors under the keep-first rule: drop a new doc that
    duplicates ANY index doc (the corpus copy wins) or a smaller-id
    batch doc. ``pairs`` is :func:`incremental_neardup` output; the
    drop side is duplicate-rate-sized, so the anti-join broadcasts."""
    dropped = pairs.select(F.col(id_col)).distinct()
    return new_docs.join(dropped, on=id_col, how="left_anti")


def neardup_index_remove(
    ids: DataFrame,
    index_dir: str,
    target_file_mb: int = 128,
) -> dict:
    """Remove documents from the persisted near-dup index — the
    retraction / takedown / GDPR-delete path (mirror of
    :func:`semdedup_index_remove
    <siskin_spark.functions.vectors.semdedup_index_remove>`). ``ids``
    is a one-column ``doc_id`` frame; BOTH tables are rewritten
    through an anti-join on a broadcast of the ids with the atomic
    write-aside + rename dance compaction uses (``__old`` kept for
    crash recovery). A removed doc stops appearing as anyone's
    ``dup_of`` AND stops contributing shingles, so exact-Jaccard
    verification of future batches never unions against ghost text.
    Ledger rules (removal survives replay, refusal while an append is
    pending, single writer): :mod:`siskin_spark.index_store`. Returns
    per-table rewrite stats plus ``docs_removed``."""
    import os

    from siskin_spark.operators.layout import rewrite_parquet

    spark = ids.sparkSession
    index_store.guard(index_dir, "neardup")
    if ids.columns != ["doc_id"]:
        raise ValueError(
            "neardup_index_remove: ids frame must have exactly "
            f"['doc_id'], got {ids.columns}"
        )
    rm = F.broadcast(ids.select("doc_id").distinct())
    sh_dir = os.path.join(index_dir, "shingles")
    before = (
        spark.read.parquet(sh_dir).select("doc_id").distinct().count()
    )
    out = {
        table: rewrite_parquet(
            spark, os.path.join(index_dir, table),
            transform=lambda df: df.join(rm, "doc_id", "left_anti"),
            target_file_mb=target_file_mb, cluster_by=[key],
        )
        for table, key in (("bands", "band"), ("shingles", "doc_id"))
    }
    out["docs_removed"] = before - (
        spark.read.parquet(sh_dir).select("doc_id").distinct().count()
    )
    return out


def neardup_index_compact(
    spark,
    index_dir: str,
    target_file_mb: int = 128,
) -> dict:
    """Rewrite the index's band and shingle tables into key-clustered,
    target-sized part files, preserving content and meta.

    Why: every :func:`neardup_index_append` lands a fresh set of part
    files (parquet append never rewrites), so after N daily batches
    each table is N small-file layers and — worse for the read path —
    the per-append ``repartition`` clustering only clusters WITHIN a
    layer: a given band key's rows spread across one file per layer,
    so the incremental scan's row-group pruning decays from "read the
    few files holding these keys" toward "read every layer". Periodic
    compaction (weekly, or when the layer count passes ~20) restores
    the single-layer clustered layout at one-rewrite cost.

    File count is sized from the table's current on-disk bytes /
    ``target_file_mb`` — at 100 TB this is what keeps the band index at
    ~128 MB parquet files instead of millions of batch-sized shards.
    The rewrite is atomic-by-rename: new layout lands in a sibling
    ``<table>__compacting`` dir, then a two-step rename swaps it in, so
    a reader that loses the race sees either the old or the new layout,
    never a mix. (Paths are driver-local here like the index meta; on a
    cluster the same dance runs through the Hadoop FileSystem API.)

    Returns per-table stats: files/bytes before and after. Refuses
    while an append is pending (see :mod:`siskin_spark.index_store`)."""
    import os

    from siskin_spark.operators.layout import compact_parquet

    index_store.guard(index_dir, "neardup")
    return {
        table: compact_parquet(
            spark,
            os.path.join(index_dir, table),
            target_file_mb=target_file_mb,
            cluster_by=[key],
        )
        for table, key in (("bands", "band"), ("shingles", "doc_id"))
    }
