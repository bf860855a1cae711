"""CLI parity with the reference's inspection surface (SURVEY.md §3:
`siskin run/cat/head/wc/deps/status`, reference cli.py).

Usage:  python -m siskin_spark.cli <cmd> ...

  cat  PATH [-n N]          show rows of a parquet/ndjson artifact
  head PATH [-n N]          first N rows, vertical layout (reference
                            `siskin head`, cli.py:639-654)
  less PATH                 page the artifact through $PAGER/less
                            (reference `siskin less`, cli.py:656-665);
                            rows stream to the pager in bounded
                            batches via toLocalIterator — never a
                            full-collect of the artifact
  wc   PATH                 row count
  schema PATH               printSchema + dtypes
  explain QUERY [SF_DIR]    formatted physical plan of a registered query
  queries                   list registered queries from __spark_entry__
  deps-dot MODULE:ATTR      Graphviz DOT of a Pipeline's stage DAG
                            (reference `siskin deps-dot`, cli.py:211-298)
  neardup-index DOCS DIR    build (or --append to) a persisted near-dup
                            signature index over a doc table
  neardup-batch DOCS DIR OUT  dedup a new batch against the index:
                            writes pairs/ and survivors to kept/;
                            --append-survivors ID also extends the
                            index idempotently — the daily one-liner
  semdedup-index VECS DIR   build (or --append to) a persisted SemDeDup
                            cell index (frozen centroids + assignments)
  semdedup-batch VECS DIR OUT  admit an embedding batch against the
                            index: pairs/ and kept/; --append-survivors
                            ID also extends the index idempotently —
                            the daily one-liner
  semdedup-stream FEED DIR OUT --checkpoint CK  the same gate as a
                            Structured Streaming sink: drain the feed
                            backlog (or --follow to tail) through
                            replay-safe micro-batch admits
  semdedup-drift VECS DIR   centroid-fit drift gauge: batch vs index
                            cosine-to-centroid stats (refit signal)
  semdedup-search Q DIR OUT top-k cosine neighbors from the SAME index
                            the gate maintains (RAG/eval serving; the
                            scan is cid-pruned to the probed cells)
  neardup-search Q DIR OUT  top-k exact-Jaccard neighbors from the
                            near-dup index (find near-copies of a
                            document: provenance, takedown triage)
  rrf A B [C...] OUT        reciprocal-rank fusion of ranking tables
                            (hybrid retrieval: vector x lexical lists
                            blend by rank, no score calibration)
  chunk DOCS OUT            token-window chunking with overlap (RAG
                            ingestion: chunk -> embed -> semdedup
                            index -> search)
  semdedup-remove IDS DIR   retraction/GDPR delete: rewrite cells/
                            without the ids (file table or literal list)
  neardup-remove IDS DIR    same for the near-dup index (both tables)
  semdedup-compact DIR      re-pack the index's cells/ into few
                            cid-clustered files after many appends
  corpus-diff OLD NEW OUT   (id, status) delta between two snapshots
                            — what to re-embed/re-license/re-export
  curate DOCS OUT [flags]   the training-data curation chain, stages
                            opt-in: --quality (Gopher gates),
                            --line-dedup N, --decontaminate BENCH,
                            --mix STRATUM=W..., --sample FRAC,
                            --token-budget N / --token-mix S=N (absolute
                            token targets), --bm25 TERM... with
                            --bm25-min/--bm25-topk (topical selection),
                            --dsir VOCAB.json --dsir-min M (importance
                            selection vs the corpus's own LM),
                            --split NAME=F...,
                            --pack BUDGET (writes layout + manifest)
  bench [SF_DIR]            delegate to bench.py

The remaining pipeline-graph commands (`deps`, `status`, `run`) live on
``plans.pipeline.Pipeline`` instances — they are API, not global state,
because unlike Luigi there is no process-wide task registry; `deps-dot`
bridges by importing a named Pipeline attribute.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from siskin_spark.session import get_spark

    s = get_spark("siskin-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _read(spark, path: str):
    if path.endswith((".json", ".ndjson", ".ldj")):
        return spark.read.json(path)
    return spark.read.parquet(path)


def _parse_named_fractions(spec: str, flag: str) -> dict[str, float]:
    """Parse ``name=frac,name=frac`` specs (``--split``, ``--mix``)
    with loud failures: a missing/empty name or non-numeric value is
    a clean CLI error instead of a bare ``float('')`` traceback, and
    a duplicated name is rejected instead of silently overwriting —
    'train=0.5,train=0.5' would otherwise sum to 0.5 and mislabel
    half the corpus with no signal."""
    fr: dict[str, float] = {}
    for part in spec.split(","):
        k, sep, v = part.partition("=")
        k = k.strip()
        if not sep or not k:
            raise SystemExit(
                f"error: {flag} expects name=fraction[,name=fraction...] "
                f"— bad part {part!r} in {spec!r}"
            )
        try:
            val = float(v)
        except ValueError:
            raise SystemExit(
                f"error: {flag}: non-numeric fraction {v.strip()!r} "
                f"for {k!r}"
            ) from None
        if k in fr:
            raise SystemExit(
                f"error: {flag}: duplicate name {k!r} in {spec!r}"
            )
        fr[k] = val
    return fr


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="siskin-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_cat = sub.add_parser("cat")
    p_cat.add_argument("path")
    p_cat.add_argument("-n", type=int, default=20)
    p_head = sub.add_parser("head")
    p_head.add_argument("path")
    p_head.add_argument("-n", type=int, default=10)
    p_less = sub.add_parser("less")
    p_less.add_argument("path")
    p_less.add_argument(
        "--pager", default=None,
        help="pager command (default: $PAGER, then 'less')",
    )
    p_dot = sub.add_parser("deps-dot")
    p_dot.add_argument("target", help="module:attr naming a Pipeline instance")
    p_deps = sub.add_parser("deps")
    p_deps.add_argument("target", help="module:attr:STAGE")
    p_status = sub.add_parser("status")
    p_status.add_argument("target", help="module:attr naming a Pipeline instance")
    p_status.add_argument("--date", default=None, help="YYYY-MM-DD (default today)")
    p_status.add_argument("--param", action="append", default=[], help="k=v, repeatable")
    p_run = sub.add_parser("run")
    p_run.add_argument("target", help="module:attr:STAGE")
    p_run.add_argument("--date", default=None, help="YYYY-MM-DD (default today)")
    p_run.add_argument("--param", action="append", default=[], help="k=v, repeatable")
    p_run.add_argument("--force", action="store_true", help="recompute even if complete")
    p_wc = sub.add_parser("wc")
    p_wc.add_argument("path")
    p_schema = sub.add_parser("schema")
    p_schema.add_argument("path")
    p_explain = sub.add_parser("explain")
    p_explain.add_argument("query")
    p_explain.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    sub.add_parser("queries")
    p_nidx = sub.add_parser("neardup-index")
    p_nidx.add_argument("docs", help="parquet/ndjson doc table (doc_id, text)")
    p_nidx.add_argument("index_dir")
    p_nidx.add_argument("--id-col", default="doc_id")
    p_nidx.add_argument("--text-col", default="text")
    p_nidx.add_argument("--n", type=int, default=3)
    p_nidx.add_argument("--k", type=int, default=16)
    p_nidx.add_argument("--bands", type=int, default=4)
    p_nidx.add_argument(
        "--solve-threshold", type=float, default=None, metavar="JACCARD",
        help="derive k/bands from the banding S-curve for this target "
             "jaccard threshold (overrides --k/--bands; prints the "
             "chosen grid and its collision curve)",
    )
    p_nidx.add_argument("--hash-family", default="md5")
    p_nidx.add_argument(
        "--append", action="store_true",
        help="extend an existing index (params come from its meta)",
    )
    p_nidx.add_argument(
        "--batch-id", default=None,
        help="required with --append: stable identity of the batch "
             "(harvest date, file digest) — a replayed batch id no-ops",
    )
    p_nbatch = sub.add_parser("neardup-batch")
    p_nbatch.add_argument("docs", help="new-batch doc table (doc_id, text)")
    p_nbatch.add_argument("index_dir")
    p_nbatch.add_argument("out_dir", help="writes pairs/ and kept/")
    p_nbatch.add_argument("--id-col", default="doc_id")
    p_nbatch.add_argument("--text-col", default="text")
    p_nbatch.add_argument("--threshold", type=float, default=0.5)
    p_nbatch.add_argument(
        "--append-survivors", metavar="BATCH_ID", default=None,
        help="the daily-pipeline one-liner: after writing pairs/ and "
             "kept/, append the survivors to the index under this "
             "batch id; a day already committed under it is skipped "
             "whole (nothing is admitted or rewritten)",
    )
    p_sd = sub.add_parser("semdedup")
    p_sd.add_argument("vectors", help="parquet vector table (vec_id, embedding)")
    p_sd.add_argument("out_dir", help="writes pairs/ and kept/")
    p_sd.add_argument("--id-col", default="vec_id")
    p_sd.add_argument("--vec-col", default="embedding")
    p_sd.add_argument("--k", type=int, default=64,
                      help="IVF cells for the k-means fit")
    p_sd.add_argument("--threshold", type=float, default=0.95)
    p_sd.add_argument("--max-cell-rows", type=int, default=50_000,
                      help="hot-cell guard: cells above this split into "
                      "bounded sub-cells (0 disables the guard — requires "
                      "--engine expr, whose per-pair folds have no "
                      "per-group memory bound to protect)")
    p_sd.add_argument("--hot-cell", default="subcentroid",
                      choices=["subcentroid", "raise"],
                      help="what a cell above --max-cell-rows does: "
                      "subcentroid = split on sub-centroids fitted to a "
                      "bounded sample, recall-preserving (default); "
                      "raise = refuse with the cell histogram")
    p_sd.add_argument("--engine", default="gemm", choices=["expr", "gemm"],
                      help="within-cell compare: gemm = BLAS scale path")
    p_sd.add_argument("--seed", type=int, default=7)
    p_sidx = sub.add_parser("semdedup-index")
    p_sidx.add_argument("vectors", help="parquet vector table (vec_id, embedding)")
    p_sidx.add_argument("index_dir")
    p_sidx.add_argument("--id-col", default="vec_id")
    p_sidx.add_argument("--vec-col", default="embedding")
    p_sidx.add_argument("--k", type=int, default=256)
    p_sidx.add_argument("--sample", type=int, default=100_000)
    p_sidx.add_argument("--iters", type=int, default=10)
    p_sidx.add_argument("--seed", type=int, default=7)
    p_sidx.add_argument(
        "--store", default="float32", choices=["float32", "int8"],
        help="cells/ storage: int8 = scalar-quantized unit vectors, 4x "
             "smaller index, gemm-engine admits only (~2e-3 cosine "
             "accuracy cost)",
    )
    p_sidx.add_argument(
        "--append", action="store_true",
        help="assign under the index's FROZEN centroids and append",
    )
    p_sidx.add_argument(
        "--batch-id", default=None,
        help="required with --append: stable identity of the batch "
             "(harvest date, file digest) — a replayed batch id no-ops",
    )
    p_scmp = sub.add_parser("semdedup-compact")
    p_scmp.add_argument("index_dir")
    p_scmp.add_argument("--target-file-mb", type=int, default=128)
    p_drift = sub.add_parser("semdedup-drift")
    p_drift.add_argument("vectors", help="new-batch vector table")
    p_drift.add_argument("index_dir")
    p_drift.add_argument("--sample", type=int, default=20_000)
    p_nsearch = sub.add_parser("neardup-search")
    p_nsearch.add_argument(
        "queries", help="query doc table (index id/text columns)"
    )
    p_nsearch.add_argument("index_dir")
    p_nsearch.add_argument(
        "out_dir", help="writes (query_id, neighbor_id, jaccard, rank)"
    )
    p_nsearch.add_argument("--k", type=int, default=5)
    p_nsearch.add_argument(
        "--min-jaccard", type=float, default=0.0,
        help="trim incidental band collisions below this similarity",
    )
    p_nsearch.add_argument(
        "--exclude-self", action="store_true",
        help="drop the identity hit when querying indexed documents",
    )
    p_ssearch = sub.add_parser("semdedup-search")
    p_ssearch.add_argument(
        "queries", help="query vector table (index id/vector columns)"
    )
    p_ssearch.add_argument("index_dir")
    p_ssearch.add_argument(
        "out_dir", help="writes (query_id, neighbor_id, cos_sim, rank)"
    )
    p_ssearch.add_argument("--k", type=int, default=5)
    p_ssearch.add_argument(
        "--nprobe", type=int, default=1,
        help="probe the n nearest cells per query (recall lever; "
             "bytes read scale ~linearly with n)",
    )
    p_ssearch.add_argument(
        "--exclude-self", action="store_true",
        help="drop neighbor rows whose id equals the query id "
             "(lookups of vectors that are themselves indexed)",
    )
    p_ssearch.add_argument(
        "--engine", default="expr", choices=["expr", "gemm"],
        help="expr: oracle-exact expression cosines; gemm: BLAS "
             "blocks + local top-k pre-prune — same ranking, ~6-10x "
             "the throughput on 10K-query batches",
    )
    for verb in ("semdedup-remove", "neardup-remove"):
        p_rm = sub.add_parser(verb)
        p_rm.add_argument(
            "ids", help="one-column id table (parquet/ndjson), or a "
                        "comma-separated literal id list",
        )
        p_rm.add_argument("index_dir")
        p_rm.add_argument("--target-file-mb", type=int, default=128)
    p_diff = sub.add_parser("corpus-diff")
    p_diff.add_argument("old", help="previous snapshot (parquet/ndjson)")
    p_diff.add_argument("new", help="current snapshot")
    p_diff.add_argument("out_dir", help="writes (id, status) parquet")
    p_diff.add_argument("--id-col", default="doc_id")
    p_diff.add_argument(
        "--compare-cols", default=None,
        help="comma-separated content columns (default: all shared "
             "non-id columns; schemas must then match)",
    )
    p_sbatch = sub.add_parser("semdedup-batch")
    p_sbatch.add_argument("vectors", help="new-batch vector table")
    p_sbatch.add_argument("index_dir")
    p_sbatch.add_argument("out_dir", help="writes pairs/ and kept/")
    p_sbatch.add_argument("--threshold", type=float, default=0.95)
    p_sbatch.add_argument("--engine", default="gemm", choices=["expr", "gemm"])
    p_sbatch.add_argument("--max-cell-rows", type=int, default=500_000,
                          help="index-side hot-cell bound (0 disables)")
    p_sbatch.add_argument(
        "--nprobe", type=int, default=1,
        help="compare each batch vector against its n nearest cells "
             "(recall lever for cell-boundary near-dups; vs-index work "
             "scales ~linearly with n)",
    )
    p_sbatch.add_argument(
        "--chunk-rows", type=int, default=None,
        help="gemm engine: rows per collected batch chunk (default: "
             "derived from --chunk-budget-mb and the embedding dim)",
    )
    p_sbatch.add_argument(
        "--chunk-budget-mb", type=int, default=256,
        help="gemm engine: packed-chunk byte budget when --chunk-rows "
             "is unset (~43K rows/chunk at 768-dim, ~512K at 64-dim)",
    )
    p_sbatch.add_argument(
        "--append-survivors", metavar="BATCH_ID", default=None,
        help="the daily-pipeline one-liner: after writing pairs/ and "
             "kept/, append the survivors to the index under this "
             "batch id; a day already committed under it is skipped "
             "whole (nothing is admitted or rewritten)",
    )
    p_sstream = sub.add_parser("semdedup-stream")
    p_sstream.add_argument("feed_dir", help="directory a harvester drops "
                           "embedding parquet files into")
    p_sstream.add_argument("index_dir")
    p_sstream.add_argument("out_dir", help="survivors land at "
                           "out_dir/gate_batch=<n>/ per micro-batch")
    p_sstream.add_argument("--checkpoint", required=True,
                           help="streaming checkpoint dir (exactly-once "
                           "bookkeeping; reuse it across invocations)")
    p_sstream.add_argument("--threshold", type=float, default=0.95)
    p_sstream.add_argument("--engine", default="gemm", choices=["expr", "gemm"])
    p_sstream.add_argument("--nprobe", type=int, default=1)
    p_sstream.add_argument("--max-files-per-trigger", type=int, default=16,
                           help="files per micro-batch during backlog drain")
    p_sstream.add_argument("--no-append", action="store_true",
                           help="gate only: drop duplicates but leave the "
                           "index untouched (no cross-batch dedup)")
    p_sstream.add_argument("--follow", action="store_true",
                           help="keep tailing the feed (default: "
                           "availableNow — drain the backlog and exit; "
                           "the cron-friendly mode)")
    p_chunk = sub.add_parser("chunk")
    p_chunk.add_argument("docs", help="doc table (doc_id, text, ...)")
    p_chunk.add_argument(
        "out_dir", help="writes (doc_id, chunk_id, chunk_text, "
                        "n_chunk_tokens)"
    )
    p_chunk.add_argument("--tokens", type=int, default=512,
                         help="window size in whitespace tokens")
    p_chunk.add_argument("--overlap", type=int, default=64,
                         help="tokens shared by successive windows")
    p_rrf = sub.add_parser("rrf")
    p_rrf.add_argument(
        "rankings", nargs="+",
        help="two or more ranking tables (query_id, neighbor_id, rank) "
             "— e.g. a semdedup-search output and a BM25 top-k list",
    )
    p_rrf.add_argument("out_dir", help="writes (query_id, neighbor_id, "
                       "rrf_micro, rank)")
    p_rrf.add_argument("--k", type=int, default=60,
                       help="RRF constant (Cormack et al. 2009)")
    p_rrf.add_argument("--topk", type=int, default=None,
                       help="trim the fused list per query")
    p_cur = sub.add_parser("curate")
    p_cur.add_argument("docs", help="doc table (doc_id, text, ...)")
    p_cur.add_argument(
        "out_dir",
        help="writes docs/ (+ manifest/ with --pack; the layout columns "
        "land in docs/ itself)",
    )
    p_cur.add_argument("--id-col", default="doc_id")
    p_cur.add_argument("--text-col", default="text")
    p_cur.add_argument("--url-dedup", metavar="URL_COL", default=None,
                       help="canonicalize URL_COL (strip scheme/www/port/"
                       "tracking params) and keep one doc per canonical "
                       "URL (smallest id wins)")
    p_cur.add_argument("--quality", action="store_true",
                       help="Gopher quality + repetition gates")
    p_cur.add_argument("--line-dedup", type=int, default=0, metavar="MIN_COUNT",
                       help="drop lines occurring >= MIN_COUNT times corpus-wide")
    p_cur.add_argument("--profile-lines", action="store_true",
                       help="with --line-dedup: print the line-key skew "
                       "report (hot boilerplate, dup-table size) before "
                       "deduping — one extra count pass")
    p_cur.add_argument("--span-dedup", type=int, default=0, metavar="K",
                       help="remove every K-token span occurring >= 2 times "
                       "across the corpus (ExactSubstr, Lee et al. 2022); "
                       "whitespace-normalizes text, so the chain runs it "
                       "after the newline-based dedup stages")
    p_cur.add_argument("--span-keep-first", action="store_true",
                       help="exempt the earliest occurrence of each "
                       "duplicated span")
    p_cur.add_argument("--wd-dedup", action="store_true",
                       help="drop repeated lines WITHIN each doc (first "
                       "occurrence kept; pure map)")
    p_cur.add_argument("--decontaminate", metavar="BENCH",
                       help="benchmark table; drop docs sharing n-grams with it")
    p_cur.add_argument("--decontam-n", type=int, default=8)
    p_cur.add_argument("--clf", metavar="WEIGHTS_JSON",
                       help="hashed-BoW linear classifier: JSON file with a "
                       "list of fixed-point bucket weights; keeps docs whose "
                       "logit exceeds --clf-threshold")
    p_cur.add_argument("--clf-threshold", type=int, default=0)
    p_cur.add_argument("--clf-family", default="md5", choices=["md5", "xxhash64"],
                       help="token-hash family the weights were trained "
                       "against (xxhash64 = the scale family)")
    p_cur.add_argument("--bm25", action="append", default=[], metavar="TERM",
                       help="query-seeded topical selection: BM25-score "
                       "every doc against these terms (repeatable) and "
                       "keep by --bm25-min or --bm25-topk")
    p_cur.add_argument("--bm25-min", type=int, default=None, metavar="MICRO",
                       help="keep docs with bm25_micro >= MICRO "
                       "(exact integer micro-units)")
    p_cur.add_argument("--bm25-topk", type=int, default=None, metavar="K",
                       help="keep the global top-K docs by BM25 "
                       "(deterministic id tie-break; TakeOrdered, no "
                       "global sort)")
    p_cur.add_argument("--dsir", metavar="TARGET_VOCAB_JSON", default=None,
                       help="DSIR importance selection: JSON "
                       "{token: count} unigram table of the TARGET "
                       "domain; the source model is built from the "
                       "corpus itself (--dsir-vocab top-N); keeps docs "
                       "with log-ratio >= --dsir-min")
    p_cur.add_argument("--dsir-min", type=int, default=0, metavar="MICRO",
                       help="keep docs with dsir_lr6 >= MICRO "
                       "(micro-log10 units; default 0 = ratio >= 1)")
    p_cur.add_argument("--dsir-vocab", type=int, default=10_000, metavar="N",
                       help="source-model vocabulary size (top-N corpus "
                       "tokens; the rest share the OOV class)")
    p_cur.add_argument("--cap", type=int, default=0, metavar="N",
                       help="keep at most N docs per --cap-domain value "
                       "(sampled mode: statistical cap, no hot-domain reducer)")
    p_cur.add_argument("--cap-domain", default="source")
    p_cur.add_argument("--cap-exact", action="store_true",
                       help="exact per-domain cap via window (fine up to "
                       "~1M docs per domain; straggler beyond)")
    p_cur.add_argument("--mix", action="append", default=[], metavar="STRATUM=W",
                       help="target domain weights (repeatable)")
    p_cur.add_argument("--strata-col", default="lang")
    p_cur.add_argument("--mix-budget", type=int, default=None)
    p_cur.add_argument("--sample", type=float, default=1.0,
                       help="deterministic keep fraction")
    p_cur.add_argument("--token-budget", type=int, default=None,
                       metavar="TOKENS",
                       help="admit docs in seeded hash order until this "
                       "many tokens (absolute token target, vs --sample's "
                       "doc fraction)")
    p_cur.add_argument("--token-mix", action="append", default=[],
                       metavar="STRATUM=TOKENS",
                       help="per-stratum token budgets over --strata-col "
                       "(repeatable; training mixes are specified in "
                       "tokens — domain_mix with token targets)")
    p_cur.add_argument("--pack", type=int, default=0, metavar="BUDGET",
                       help="emit sequence-packing layout + writer manifest")
    p_cur.add_argument("--split", default=None, metavar="NAME=F,NAME=F",
                       help="append a deterministic split-label column "
                       "('train=0.98,val=0.01,test=0.01'; fractions must "
                       "sum to 1). Keyed on the doc id — run AFTER the "
                       "dedup stages; to split a corpus that KEEPS "
                       "near-dups, use curation.leakage_safe_split with "
                       "the verified pair list instead")
    p_cur.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)
    index_verbs = {"neardup-index": p_nidx, "semdedup-index": p_sidx}
    if args.cmd in index_verbs and args.append and args.batch_id is None:
        index_verbs[args.cmd].error("--append requires --batch-id")

    if args.cmd == "queries":
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        for name in sorted(entry.queries()):
            print(name, "(oracle)" if name in oracles else "(rows-only)")
        return 0

    def _pipeline(target: str):
        import importlib

        mod_name, _, rest = target.partition(":")
        attr, _, stage = rest.partition(":")
        sys.path.insert(0, os.getcwd())
        return getattr(importlib.import_module(mod_name), attr), stage or None

    def _params(pairs: list[str]) -> dict:
        return dict(p.split("=", 1) for p in pairs)

    def _date(s):
        import datetime

        return datetime.date.fromisoformat(s) if s else datetime.date.today()

    if args.cmd == "deps-dot":
        pipeline, _ = _pipeline(args.target)
        print(pipeline.to_dot())
        return 0

    if args.cmd == "deps":
        # reference `siskin deps TASK` (cli.py:211-298): the stage's
        # transitive requirements in execution order
        pipeline, stage = _pipeline(args.target)
        if stage is None:
            raise SystemExit("deps needs module:attr:STAGE")
        for name in pipeline.deps(stage):
            print(name)
        return 0

    if args.cmd == "status":
        # reference `siskin status`: per-stage completion markers for
        # the given (params, date) partition
        pipeline, _ = _pipeline(args.target)
        for name, done in pipeline.status(_params(args.param), _date(args.date)).items():
            print(f"{'done   ' if done else 'pending'} {name}")
        return 0

    if args.cmd == "run":
        # reference entry point 1, `siskin run TASK --params` (SURVEY
        # §3): execute the stage and its incomplete requirements; the
        # memoized runner skips stages whose _SUCCESS marker exists
        pipeline, stage = _pipeline(args.target)
        if stage is None:
            raise SystemExit("run needs module:attr:STAGE")
        out = pipeline.run(
            _spark(), stage, _params(args.param), _date(args.date),
            force=args.force,
        )
        print(f"{stage}: {out.count()} rows at "
              f"{pipeline.path(stage, _params(args.param), _date(args.date))}")
        return 0

    spark = _spark()
    if args.cmd == "cat":
        _read(spark, args.path).show(args.n, truncate=False)
    elif args.cmd == "head":
        _read(spark, args.path).show(args.n, truncate=False, vertical=True)
    elif args.cmd == "less":
        # reference `siskin less` (cli.py:656-665) pipes `siskin cat`
        # into less; here rows stream driver-side in bounded Arrow
        # batches (toLocalIterator), so paging a 100 TB artifact holds
        # one partition of rows at a time, never the artifact
        import json
        import subprocess

        pager = args.pager or os.environ.get("PAGER") or "less"
        df = _read(spark, args.path)
        proc = subprocess.Popen(pager, shell=True, stdin=subprocess.PIPE)
        try:
            assert proc.stdin is not None
            for row in df.toLocalIterator(prefetchPartitions=True):
                line = json.dumps(row.asDict(recursive=True), default=str)
                proc.stdin.write(line.encode() + b"\n")
        except BrokenPipeError:
            pass  # user quit the pager mid-stream: normal exit
        finally:
            try:
                proc.stdin.close()
            except BrokenPipeError:
                pass
        # propagate the pager's status: a missing/failing pager command
        # (shell exits 127) must not read as success to scripts
        # chaining on the CLI's exit code; a user 'q' exits the pager 0
        return proc.wait()
    elif args.cmd == "wc":
        print(_read(spark, args.path).count())
    elif args.cmd == "schema":
        _read(spark, args.path).printSchema()
    elif args.cmd == "explain":
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import __spark_entry__ as entry

        entry.queries()[args.query](spark, args.sf_dir).explain("formatted")
    elif args.cmd == "neardup-index":
        from siskin_spark.operators.neardup import (
            neardup_index_append,
            neardup_index_build,
        )

        docs = _read(spark, args.docs)
        if args.append:
            neardup_index_append(
                docs, args.index_dir, id_col=args.id_col,
                text_col=args.text_col, batch_id=args.batch_id,
            )
        else:
            k, bands = args.k, args.bands
            if args.solve_threshold is not None:
                from siskin_spark.operators.neardup import (
                    lsh_params_for_threshold,
                )

                sol = lsh_params_for_threshold(args.solve_threshold)
                k, bands = sol["k"], sol["bands"]
                print(
                    f"banding for jaccard>={args.solve_threshold}: "
                    f"k={k} bands={bands} rows={sol['rows']} "
                    f"(p@t={sol['p_at_threshold']}, "
                    f"p@t-0.2={sol['p_below']})"
                )
            neardup_index_build(
                docs, args.index_dir,
                id_col=args.id_col, text_col=args.text_col,
                n=args.n, k=k, bands=bands,
                hash_family=args.hash_family,
            )
        print(f"index at {args.index_dir}: {docs.count()} docs")
    elif args.cmd in ("neardup-batch", "semdedup-batch"):
        from siskin_spark.streaming.gate import gate_batch

        if args.cmd == "neardup-batch":
            family, batch = "neardup", _read(spark, args.docs)
            admit = dict(id_col=args.id_col, text_col=args.text_col,
                         threshold=args.threshold)
        else:
            family, batch = "semdedup", _read(spark, args.vectors)
            admit = dict(
                threshold=args.threshold, engine=args.engine,
                max_batch_cell_rows=args.max_cell_rows or None,
                batch_chunk_rows=args.chunk_rows,
                batch_budget_bytes=args.chunk_budget_mb << 20,
                nprobe=args.nprobe,
            )
        pairs_path = os.path.join(args.out_dir, "pairs")
        kept_path = os.path.join(args.out_dir, "kept")
        if gate_batch(
            family, batch, args.index_dir, kept_path,
            batch_id=args.append_survivors, pairs_path=pairs_path, **admit,
        ):
            print(f"pairs: {spark.read.parquet(pairs_path).count()} at {pairs_path}")
            print(f"kept: {spark.read.parquet(kept_path).count()} at {kept_path}")
            if args.append_survivors:
                print(
                    f"appended survivors to {args.index_dir} "
                    f"(batch {args.append_survivors})"
                )
        else:
            print(f"batch {args.append_survivors} already committed to "
                  f"{args.index_dir}: skipped")
    elif args.cmd == "semdedup-index":
        from siskin_spark.functions.vectors import (
            semdedup_index_append,
            semdedup_index_build,
        )

        vecs = _read(spark, args.vectors)
        if args.append:
            semdedup_index_append(vecs, args.index_dir, batch_id=args.batch_id)
            print(f"appended {vecs.count()} vectors to {args.index_dir}")
        else:
            semdedup_index_build(
                vecs, args.index_dir,
                id_col=args.id_col, vec_col=args.vec_col,
                k=args.k, sample=args.sample, iters=args.iters,
                seed=args.seed, store=args.store,
            )
            print(f"index at {args.index_dir}: {vecs.count()} vectors")
    elif args.cmd == "semdedup-compact":
        from siskin_spark.functions.vectors import semdedup_index_compact

        stats = semdedup_index_compact(
            spark, args.index_dir, target_file_mb=args.target_file_mb
        )
        print(
            f"compacted {args.index_dir}: {stats['files_before']} -> "
            f"{stats['files_after']} files "
            f"({stats['bytes_before']} -> {stats['bytes_after']} bytes)"
        )
    elif args.cmd == "semdedup-drift":
        import json as _json

        from siskin_spark.functions.vectors import semdedup_index_drift

        got = semdedup_index_drift(
            _read(spark, args.vectors), args.index_dir, sample=args.sample
        )
        print(_json.dumps(got))
    elif args.cmd == "semdedup-search":
        from siskin_spark.functions.vectors import semdedup_index_search

        out = semdedup_index_search(
            spark, _read(spark, args.queries), args.index_dir,
            k=args.k, nprobe=args.nprobe, exclude_self=args.exclude_self,
            engine=args.engine,
        )
        out.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"wrote {n} neighbor row(s) to {args.out_dir}")
    elif args.cmd == "neardup-search":
        from siskin_spark.operators.neardup import neardup_index_search

        out = neardup_index_search(
            spark, _read(spark, args.queries), args.index_dir,
            k=args.k, min_jaccard=args.min_jaccard,
            exclude_self=args.exclude_self,
        )
        out.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"wrote {n} neighbor row(s) to {args.out_dir}")
    elif args.cmd == "chunk":
        from siskin_spark.operators.curation import chunk_documents

        out = chunk_documents(
            _read(spark, args.docs),
            chunk_tokens=args.tokens, overlap=args.overlap,
        )
        out.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"wrote {n} chunk(s) to {args.out_dir}")
    elif args.cmd == "rrf":
        from siskin_spark.operators.curation import rrf_fuse

        fused = rrf_fuse(
            [_read(spark, p) for p in args.rankings],
            k=args.k, topk=args.topk,
        )
        fused.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(
            f"fused {len(args.rankings)} ranking(s): {n} row(s) "
            f"to {args.out_dir}"
        )
    elif args.cmd in ("semdedup-remove", "neardup-remove"):
        import os as _os

        from pyspark.sql import functions as F

        if args.cmd == "semdedup-remove":
            from siskin_spark import index_store
            from siskin_spark.functions.vectors import (
                semdedup_index_remove as _remove,
            )

            id_col = index_store.read_meta(args.index_dir, "semdedup")["id_col"]
            table, table_col = "cells", "vec_id"
        else:
            from siskin_spark.operators.neardup import (
                neardup_index_remove as _remove,
            )

            id_col = table_col = "doc_id"
            table = "shingles"
        # literal ids arrive as strings — cast to the index's actual id
        # type so the anti-join compares like with like
        id_type = spark.read.parquet(
            _os.path.join(args.index_dir, table)
        ).schema[table_col].dataType
        if _os.path.exists(args.ids):
            ids = _read(spark, args.ids)
            if len(ids.columns) == 1 and ids.columns != [id_col]:
                ids = ids.withColumnRenamed(ids.columns[0], id_col)
        else:
            vals = [v.strip() for v in args.ids.split(",") if v.strip()]
            ids = spark.createDataFrame(
                [(v,) for v in vals], f"{id_col} string"
            )
        ids = ids.select(F.col(id_col).cast(id_type))
        stats = _remove(ids, args.index_dir,
                        target_file_mb=args.target_file_mb)
        removed = stats.get("rows_removed", stats.get("docs_removed"))
        print(f"removed {removed} row(s)/doc(s) from {args.index_dir}")
    elif args.cmd == "corpus-diff":
        from pyspark.sql import functions as F

        from siskin_spark.operators.dedup import corpus_diff

        cols = args.compare_cols.split(",") if args.compare_cols else None
        diff = corpus_diff(
            _read(spark, args.old), _read(spark, args.new),
            id_col=args.id_col, compare_cols=cols,
        )
        diff.write.mode("overwrite").parquet(args.out_dir)
        out = spark.read.parquet(args.out_dir)
        counts = {r["status"]: r["n"] for r in
                  out.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        print(
            f"diff at {args.out_dir}: "
            f"{counts.get('added', 0)} added, "
            f"{counts.get('changed', 0)} changed, "
            f"{counts.get('removed', 0)} removed"
        )
    elif args.cmd == "semdedup-stream":
        # the daily gate as a Structured Streaming sink: drain the feed
        # backlog (availableNow) or tail it (--follow) through the
        # replay-safe foreachBatch gate — the gate_batch semdedup-batch
        # runs, with the query id and micro-batch id as the ledger key
        from siskin_spark.streaming.gate import semdedup_gate_writer

        schema = spark.read.parquet(args.feed_dir).schema
        gate = semdedup_gate_writer(
            args.index_dir, args.out_dir,
            threshold=args.threshold, engine=args.engine,
            nprobe=args.nprobe, append=not args.no_append,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", args.max_files_per_trigger)
            .parquet(args.feed_dir)
        )
        writer = stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", args.checkpoint
        )
        if args.follow:
            q = writer.start()
            q.awaitTermination()
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            print(f"backlog drained into {args.out_dir}")
    elif args.cmd == "semdedup":
        # C13 SemDeDup end-to-end: fit cells on a bounded sample,
        # within-cell pairs (hot-cell-guarded), keep-first collapse
        from siskin_spark.functions.vectors import (
            ivf_fit_centroids,
            semantic_dedup_pairs,
        )
        from siskin_spark.operators.neardup import keep_canonical

        if not args.max_cell_rows and args.engine == "gemm":
            print(
                "semdedup: --max-cell-rows 0 (guard off) requires "
                "--engine expr — the guard is the gemm engine's "
                "per-group memory bound",
                file=sys.stderr,
            )
            return 2
        vecs = _read(spark, args.vectors)
        cents = ivf_fit_centroids(
            vecs, k=args.k, id_col=args.id_col, vec_col=args.vec_col,
            seed=args.seed,
        )
        pairs = semantic_dedup_pairs(
            vecs, cents, threshold=args.threshold,
            id_col=args.id_col, vec_col=args.vec_col,
            max_cell_rows=args.max_cell_rows or None,
            hot_cell=args.hot_cell,
            engine=args.engine,
        )
        pairs_path = os.path.join(args.out_dir, "pairs")
        pairs.write.mode("overwrite").parquet(pairs_path)
        print(f"pairs: {spark.read.parquet(pairs_path).count()} at {pairs_path}")
        kept_path = os.path.join(args.out_dir, "kept")
        keep_canonical(
            vecs, spark.read.parquet(pairs_path), id_col=args.id_col
        ).write.mode("overwrite").parquet(kept_path)
        print(f"kept: {spark.read.parquet(kept_path).count()} at {kept_path}")
    elif args.cmd == "curate":
        # the FineWeb-style curation chain, stages opt-in by flag:
        # url-dedup -> quality -> line-dedup -> wd-dedup -> span-dedup
        # -> decontaminate -> clf -> bm25 -> dsir -> cap -> mix ->
        # sample -> pack.
        # span-dedup runs AFTER the newline-based stages: it
        # whitespace-normalizes every doc (newlines become spaces), so
        # putting it first would silently neuter line/wd dedup.
        # An eager localCheckpoint BARRIER runs before each multi-pass
        # stage (the dedups/decontam/cap/mix read their input several
        # times — gram table, token table, join-back): composing the
        # whole chain as one lazy plan re-executes the upstream stages
        # once per reference, measured 2x the staged wall-clock on the
        # 20K-doc chain leg and growing with scale (SCALE.md r10).
        # Row-local stages (quality/clf/sample) stay fused — a barrier
        # there would only spill a map.
        from pyspark.sql import functions as F

        from siskin_spark.functions.text import (
            dup_line_fraction,
            quality_keep,
            repetition_keep,
            with_top_ngram_frac,
        )
        from siskin_spark.operators import curation as cur

        df = _read(spark, args.docs)
        n_in = df.count()
        tc = args.text_col
        staged_any = False

        def _barrier(d):
            # before a multi-pass stage only, and only once upstream
            # transforms exist (re-scanning raw parquet is free-ish and
            # pushdown-friendly; re-running a dedup chain is not)
            return d.localCheckpoint(eager=True) if staged_any else d

        if args.url_dedup:
            # URL-level exact dedup FIRST (cheapest key, biggest cut on
            # crawl data): canonicalize, keep the smallest id per key.
            # NULL *and empty* urls get a per-row key (their own id):
            # groupBy treats all NULLs as one key and '' canonicalizes
            # to '' — either would silently drop every url-less doc
            # but one
            from siskin_spark.functions.text import canonical_url
            from siskin_spark.operators.dedup import snapshot_earliest

            canon = canonical_url(F.col(args.url_dedup))
            key = F.when(F.length(canon) > 0, canon).otherwise(
                F.concat(
                    F.lit("\x00nourl:"), F.col(args.id_col).cast("string")
                )
            )
            df = snapshot_earliest(
                df.withColumn("_url_key", key), ["_url_key"], [args.id_col]
            ).drop("_url_key")
            staged_any = True
        if args.quality:
            df = (
                with_top_ngram_frac(df, text_col=tc, out_col="_top_ngram")
                .filter(
                    quality_keep(F.col(tc))
                    & repetition_keep(
                        dup_line_fraction(tc), F.col("_top_ngram")
                    )
                )
                .drop("_top_ngram")
            )
            staged_any = True
        if args.line_dedup:
            if args.profile_lines:
                prof = cur.line_skew_profile(df, id_col=args.id_col, text_col=tc)
                print(
                    f"line skew: {prof['rows']} lines, "
                    f"{prof['distinct_keys']} distinct, "
                    f"max_share={prof['max_share']:.4f}"
                    f"{' SKEWED' if prof['skewed'] else ''}"
                )
                for t in prof["top"]:
                    print(f"  {t['n']:>10}  {t['key']['_line'][:70]!r}")
            df = cur.drop_duplicate_lines(
                _barrier(df), min_count=args.line_dedup,
                id_col=args.id_col, text_col=tc, drop_empty_docs=True,
            )
            staged_any = True
        if args.wd_dedup:
            from siskin_spark.functions.text import dedup_lines_within_doc

            df = df.withColumn(tc, dedup_lines_within_doc(F.col(tc)))
            staged_any = True
        if args.span_dedup:
            # LAST of the dedup stages: whitespace-normalizes the text
            # (newlines collapse to spaces), which would neuter the
            # line-based stages if it ran before them
            df = cur.drop_duplicate_spans(
                _barrier(df), k=args.span_dedup, id_col=args.id_col,
                text_col=tc, keep_first=args.span_keep_first,
            )
            staged_any = True
        if args.decontaminate:
            df = cur.decontaminate(
                _barrier(df), _read(spark, args.decontaminate),
                n=args.decontam_n, id_col=args.id_col, text_col=tc,
            )
            staged_any = True
        if args.clf:
            import json as _json

            from siskin_spark.functions.text import hashed_bow_logit

            with open(args.clf) as fh:
                clf_w = _json.load(fh)
            df = df.filter(
                hashed_bow_logit(
                    F.col(tc), clf_w, seed=args.seed,
                    hash_family=args.clf_family,
                )
                > args.clf_threshold
            )
            staged_any = True
        if args.bm25 or args.bm25_min is not None or args.bm25_topk is not None:
            if not args.bm25:
                raise SystemExit("error: --bm25-min/--bm25-topk need --bm25 TERM")
            if (args.bm25_min is None) == (args.bm25_topk is None):
                raise SystemExit(
                    "error: --bm25 needs exactly one of --bm25-min / --bm25-topk"
                )
            # topical selection before the statistical stages: pick the
            # relevant slice first, then cap/mix/budget shape it. The
            # stats pass reads the frame twice -> barrier.
            gated = _barrier(df)
            if args.bm25_topk is not None:
                df = cur.bm25_topk(
                    gated, args.bm25, args.bm25_topk,
                    id_col=args.id_col, text_col=tc,
                ).drop("bm25_micro", "bm25_hits")
            else:
                df = cur.with_bm25(
                    gated, args.bm25, text_col=tc,
                ).filter(
                    F.col("bm25_micro") >= args.bm25_min
                ).drop("bm25_micro", "bm25_hits")
            staged_any = True
        if args.dsir:
            import json as _json

            with open(args.dsir) as fh:
                tv = _json.load(fh)
            if not isinstance(tv, dict) or not tv:
                raise SystemExit(
                    "error: --dsir expects a non-empty JSON object "
                    "{token: count}"
                )
            target = [(str(t), int(n)) for t, n in tv.items()]
            # source model from the corpus ITSELF (the DSIR recipe:
            # raw-distribution denominator); vocab_table is a full
            # pass -> barrier first so the chain above runs once
            gated = _barrier(df)
            src = cur.vocab_table(gated, top=args.dsir_vocab, text_col=tc)
            df = cur.with_dsir(
                gated, target, src, id_col=args.id_col, text_col=tc,
            ).filter(
                F.col("dsir_lr6") >= args.dsir_min
            ).drop("dsir_lr6")
            staged_any = True
        if args.cap:
            df = cur.domain_cap_mark(
                _barrier(df), args.cap, domain_col=args.cap_domain,
                key_col=args.id_col, seed=args.seed + 2,
                exact=args.cap_exact,
            ).filter("cap_keep").drop("cap_keep")
            staged_any = True
        if args.mix:
            weights = _parse_named_fractions(",".join(args.mix), "--mix")
            df = cur.domain_mix(
                _barrier(df), weights, strata_col=args.strata_col,
                key_col=args.id_col, budget=args.mix_budget, seed=args.seed,
            )
            staged_any = True
        if args.sample < 1.0:
            # seed+1, NOT args.seed: two same-seed hash draws over the
            # same key column are perfectly correlated (keep = h <
            # min(mix_frac, sample_frac)), so --sample after --mix
            # would thin only the binding stratum and distort the mix;
            # distinct seeds give independent draws that compose
            # multiplicatively (the intended nesting)
            df = cur.deterministic_sample(
                df, args.sample, key_col=args.id_col, seed=args.seed + 1
            )
        if args.token_budget is not None or args.token_mix:
            if args.token_budget is not None and args.token_mix:
                raise SystemExit(
                    "error: --token-budget and --token-mix are exclusive "
                    "(one global target or per-stratum targets)"
                )
            if args.token_mix:
                fr = _parse_named_fractions(
                    ",".join(args.token_mix), "--token-mix"
                )
                bad = {k: v for k, v in fr.items() if v != int(v)}
                if bad:
                    raise SystemExit(
                        f"error: --token-mix budgets must be whole token "
                        f"counts, got {bad}"
                    )
                tb = {k: int(v) for k, v in fr.items()}
                df = cur.token_budget_sample(
                    _barrier(df), tb, id_col=args.id_col, text_col=tc,
                    strata_col=args.strata_col, seed=args.seed + 4,
                ).drop("n_tokens")
            else:
                df = cur.token_budget_sample(
                    _barrier(df), args.token_budget, id_col=args.id_col,
                    text_col=tc, seed=args.seed + 4,
                ).drop("n_tokens")
            staged_any = True
        if args.split:
            fr = _parse_named_fractions(args.split, "--split")
            # seed+3: independent of the sample (seed+1) and cap
            # (seed+2) draws over the same key column
            df = df.withColumn(
                "split",
                cur.split_label(F.col(args.id_col), fr, seed=args.seed + 3),
            )
        docs_path = os.path.join(args.out_dir, "docs")
        if args.pack:
            layout = cur.token_sequence_layout(
                df, budget=args.pack, id_col=args.id_col, text_col=tc
            )
            layout.write.mode("overwrite").parquet(docs_path)
            out = spark.read.parquet(docs_path)
            man_path = os.path.join(args.out_dir, "manifest")
            cur.sequence_manifest(
                out, budget=args.pack, id_col=args.id_col
            ).write.mode("overwrite").parquet(man_path)
            n_seq = (
                spark.read.parquet(man_path)
                .agg(F.countDistinct("seq_id")).first()[0]
            )
            print(f"sequences: {n_seq} (budget {args.pack}) at {man_path}")
        else:
            df.write.mode("overwrite").parquet(docs_path)
        n_out = spark.read.parquet(docs_path).count()
        print(f"docs: {n_in} -> {n_out} at {docs_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
