"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. Inputs are written once as parquet/JSON under the
cache directory and reused by later invocations with the same seed, so
their generation never counts towards a timed metric. The program under
test receives only these files; the planted-duplicate truth tables are
read by the benchmark's own checks and never handed to the program.

Generation uses numpy + pyarrow only (no Spark), so it runs before the
session starts.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- ai_update shape ---------------------------------------------------
ISSN_POOL = 20_000  # distinct journal ISSNs records draw from
N_MEMBERS = 400  # Crossref members -> "Crossref (member N)" collections
LOCAL_SOURCES = ["28", "48", "55", "85", "89", "101", "105", "121"]
N_LOCAL_COLLS = 20  # collections per local source
N_ISILS = 22
N_KBART_FILES = 30
KBART_ROWS_PER_FILE = 8_000
N_OA_ISSNS = 50_000
ISSN_LIST_LEN = 2_000
HOT_SHARE = 0.01  # share of all records that sit on the hot DOIs
HOT_ROWS_PER_DOI = 100  # rows per hot DOI (so the hot keys really skew)
NOW = "2026-08-13"  # licensing `now` and normalize's not-future guard

# -- curation_batch shape ----------------------------------------------
VOCAB = 50_000
WORDS_PER_DOC = 40
DIM = 64
N_MIX = 64  # Gaussian-mixture centres of the embedding corpus
PLANT_INDEX = 0.06  # batch share planted as a near-dup of the index
PLANT_BATCH = 0.02  # batch share planted as a near-dup of an earlier batch row
PLANT_LOW = 0.06  # embedding batch share at the low (kept) cosine level
SIGMA_HIGH = 0.2  # noise scale for cos ~0.99 (dropped at 0.95)
SIGMA_LOW = 0.7  # noise scale for cos ~0.90 (kept at 0.95)

N_FILES = 8  # part files per large table, so scans split over the cores


def issn(i: int) -> str:
    """ISSN-shaped string for pool index ``i`` (unique below 10M)."""
    return f"{i % 10_000:04d}-{(i // 10_000) % 1_000:03d}X"


def _write(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def cached(root: str, kind: str, seed: int, size: int, build) -> str:
    """Directory holding ``kind`` inputs for ``(seed, size)``; ``build``
    fills a fresh directory on a miss. Written to a temporary name and
    renamed, so an interrupted build never leaves a half cache entry."""
    path = os.path.join(root, f"{kind}-s{seed}-n{size}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, seed, size)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def evict(root: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used cache entries."""
    if not os.path.isdir(root):
        return
    entries = [
        os.path.join(root, e) for e in os.listdir(root) if not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


# ---------------------------------------------------------------------
# ai_update


def _pick(rng, values: list, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def build_ai_inputs(out: str, seed: int, n_dois: int) -> None:
    """Raw Crossref-message feed (~3 versions per DOI, some without a
    DOI), local-data records of eight other sources sharing DOIs with
    it (mixed case, 1% of all records on a few hot DOIs), a 22-ISIL
    filter tree, 30 KBART holdings files and a 50K OA ISSN list."""
    rng = np.random.default_rng([seed, 1])

    # -- raw Crossref feed: one row per record VERSION, in feed order
    versions = rng.integers(1, 6, n_dois)
    doi_of = np.repeat(np.arange(n_dois), versions)
    rng.shuffle(doi_of)
    n_raw = len(doi_of)
    member = rng.integers(0, N_MEMBERS, n_dois)
    issn1 = rng.integers(0, ISSN_POOL, n_dois)
    issn2 = np.where(rng.random(n_dois) < 0.3, rng.integers(0, ISSN_POOL, n_dois), -1)
    year = rng.integers(1990, 2026, n_dois)
    month = np.where(rng.random(n_dois) < 0.7, rng.integers(1, 13, n_dois), 0)
    day = np.where((month > 0) & (rng.random(n_dois) < 0.5), rng.integers(1, 29, n_dois), 0)
    n_auth = rng.integers(1, 4, n_dois)
    dois = [f"10.{1000 + m % 700}/ai.{d:07d}" for d, m in zip(range(n_dois), member)]

    # per-DOI fields, then one take() per column to expand to versions
    author_t = pa.list_(pa.struct([("given", pa.string()), ("family", pa.string())]))
    per_doi = {
        "doi": pa.array(dois),
        "title1": pa.array([f"Study &amp; result {d} " for d in range(n_dois)]),
        "container_title1": pa.array([f" Journal of {m % 97} " for m in member]),
        "publisher": pa.array([f" Publisher {m % 97} " for m in member]),
        "member": pa.array([str(m) for m in member]),
        "volume": pa.array([str(1 + d % 60) for d in range(n_dois)]),
        "issue": pa.array([str(1 + d % 12) for d in range(n_dois)]),
        "page": pa.array(
            [f"{1 + d % 300}-{10 + d % 300}" if d % 10 < 7 else None for d in range(n_dois)], pa.string()
        ),
        "issn": pa.array(
            [[issn(a)] + ([issn(b)] if b >= 0 else []) for a, b in zip(issn1, issn2)], pa.list_(pa.string())
        ),
        "authors": pa.array(
            [
                [{"given": f"G{(d + k) % 50}", "family": f"Fam{(d * 7 + k) % 900}"} for k in range(n)]
                for d, n in enumerate(n_auth)
            ],
            author_t,
        ),
        "subject": pa.array([[f"Subject {d % 40}"] for d in range(n_dois)], pa.list_(pa.string())),
        "url": pa.array([f"https://doi.org/{x}" for x in dois]),
        "language": pa.array(["eng" if d % 5 else "ger" for d in range(n_dois)]),
        "issued_year": pa.array(year.astype(np.int32)),
        "issued_month": pa.array(month.astype(np.int32), mask=month == 0),
        "issued_day": pa.array(day.astype(np.int32), mask=day == 0),
        "created": pa.array(
            [f"{y}-{max(m, 1):02d}-{max(dd, 1):02d}T08:30:00" for y, m, dd in zip(year, month, day)]
        ),
    }
    take = pa.array(doi_of)
    cols = {k: v.take(take) for k, v in per_doi.items()}
    u = rng.random((n_raw, 6))
    typ = np.array(["journal-article", "journal-issue", "book-chapter", "proceedings-article"])

    def blank(col: str, mask: np.ndarray, value=None) -> None:
        fill = pa.scalar(value, cols[col].type)
        cols[col] = pc.if_else(pa.array(mask), fill, cols[col])

    blank("doi", u[:, 1] < 0.005)
    blank("title1", u[:, 2] < 0.02)
    blank("container_title1", u[:, 4] < 0.03)
    blank("publisher", u[:, 5] < 0.1, "  ")
    cols["subtitle1"] = pa.array(
        [f"Part {r % 5}" if x < 0.3 else None for r, x in enumerate(u[:, 3])], pa.string()
    )
    cols["type"] = pa.array(typ[np.searchsorted([0.85, 0.90, 0.95], u[:, 0])])
    cols["seq"] = pa.array(np.arange(n_raw, dtype=np.int64))
    order = [
        "doi", "seq", "type", "title1", "subtitle1", "container_title1", "publisher",
        "member", "volume", "issue", "page", "issn", "authors", "subject", "url",
        "language", "issued_year", "issued_month", "issued_day", "created",
    ]
    raw = pa.table({k: cols[k] for k in order})
    _write(raw, os.path.join(out, "crossref_feed"))

    # -- local data of other sources (already in a flat local shape)
    n_local = n_dois // 2
    n_hot_rows = int(HOT_SHARE * (n_raw + n_local))
    n_hot = max(1, n_hot_rows // HOT_ROWS_PER_DOI)
    hot = rng.choice(n_dois, n_hot, replace=False)
    lu = rng.random((n_local, 3))
    shared = rng.integers(0, n_dois, n_local)
    src = _pick(rng, LOCAL_SOURCES, n_local)
    lcoll = rng.integers(0, N_LOCAL_COLLS, n_local)
    lissn = rng.integers(0, ISSN_POOL, n_local)
    lyear = rng.integers(1990, 2026, n_local)
    ldoi = []
    for i in range(n_local):
        if i < n_hot_rows:
            d = dois[hot[i % n_hot]]
            ldoi.append(d.upper() if lu[i, 1] < 0.5 else d)
        elif lu[i, 0] < 0.6:
            d = dois[shared[i]]
            ldoi.append(d.upper() if lu[i, 1] < 0.5 else d)
        elif lu[i, 0] < 0.7:
            ldoi.append(None)
        else:
            ldoi.append(f"10.5555/loc.{i:07d}")
    local = pa.table(
        {
            "finc_id": pa.array([f"ai-{s}-{i}" for i, s in enumerate(src)]),
            "record_id": pa.array([f"rec{i}" for i in range(n_local)]),
            "source_id": pa.array(src),
            "collections": pa.array(
                [[f"Local {s} coll {c}"] for s, c in zip(src, lcoll)], pa.list_(pa.string())
            ),
            "title": pa.array([f"Local title {i}" for i in range(n_local)]),
            "journal": pa.array([f"Journal of {i % 97}" for i in range(n_local)]),
            "issn": pa.array([[issn(x)] for x in lissn], pa.list_(pa.string())),
            "doi": pa.array(ldoi, pa.string()),
            "date": pa.array([str(y) for y in lyear]),
            "created": pa.array([f"{y}-01-15T00:00:00" for y in lyear]),
        }
    )
    _write(local, os.path.join(out, "local_records"))

    # -- filter tree: the reference's three config styles
    colls_all = [f"Crossref (member {m})" for m in range(N_MEMBERS)] + [
        f"Local {s} coll {c}" for s in LOCAL_SOURCES for c in range(N_LOCAL_COLLS)
    ]
    config = {}
    for i in range(N_ISILS):
        isil = f"DE-{i:02d}"
        sids = (["49"] if i % 2 == 0 else []) + sorted(
            rng.choice(LOCAL_SOURCES, 3 - (i % 2 == 0), replace=False).tolist()
        )
        colls = sorted(set(_pick(rng, colls_all, 40)))
        if i % 3 == 0:
            config[isil] = {"and": [{"source": sids}, {"collection": colls}]}
        elif i % 3 == 1:
            issns = sorted({issn(x) for x in rng.integers(0, ISSN_POOL, ISSN_LIST_LEN)})
            config[isil] = {
                "or": [
                    {"and": [{"source": sids}, {"collection": colls}]},
                    {"and": [{"source": sids}, {"issn": {"list": issns}}]},
                ]
            }
        else:
            files = [f"file:kbart_{(i + k) % N_KBART_FILES}" for k in range(1 + i % 3)]
            config[isil] = {"and": [{"source": sids}, {"holdings": {"files": files}}]}
    with open(os.path.join(out, "filter_config.json"), "w") as fh:
        json.dump(config, fh, sort_keys=True)

    # -- KBART holdings: 30 files, identifiers over half the ISSN pool
    n_hold = N_KBART_FILES * KBART_ROWS_PER_FILE
    h = np.arange(n_hold)
    hid = rng.integers(0, ISSN_POOL // 2, n_hold)
    hu = rng.random((n_hold, 4))
    first = np.datetime64("1950-01-01") + rng.integers(0, 20_000, n_hold).astype("timedelta64[D]")
    last = np.datetime64("1990-01-01") + rng.integers(0, 12_000, n_hold).astype("timedelta64[D]")
    holdings = pa.table(
        {
            "file_uri": pa.array([f"file:kbart_{x % N_KBART_FILES}" for x in h]),
            "publication_title": pa.array([f"Title {x}" for x in h]),
            "print_identifier": pa.array([issn(x) for x in hid]),
            "online_identifier": pa.array(
                [issn((x + 1) % (ISSN_POOL // 2)) if u0 < 0.33 else None for x, u0 in zip(hid, hu[:, 0])],
                pa.string(),
            ),
            "date_first_issue_online": pa.array(first),
            "date_last_issue_online": pa.array(
                [d if u1 < 0.75 else None for d, u1 in zip(last.tolist(), hu[:, 1])], pa.date32()
            ),
            "embargo_info": pa.array(
                ["R1Y" if u2 < 0.2 else "P3Y" if u2 < 0.3 else None for u2 in hu[:, 2]], pa.string()
            ),
            "num_first_vol_online": pa.array(
                [int(x % 30) if u3 < 0.14 else None for x, u3 in zip(h, hu[:, 3])], pa.int32()
            ),
            "num_first_issue_online": pa.nulls(n_hold, pa.int32()),
            "num_last_vol_online": pa.array(
                [int(x % 60 + 10) if u3 > 0.89 else None for x, u3 in zip(h, hu[:, 3])], pa.int32()
            ),
            "num_last_issue_online": pa.nulls(n_hold, pa.int32()),
        }
    )
    _write(holdings, os.path.join(out, "kbart"), n_files=4)

    oa = np.sort(rng.choice(4 * ISSN_POOL * 2, N_OA_ISSNS, replace=False))
    _write(pa.table({"issn": pa.array([issn(x) for x in oa])}), os.path.join(out, "oa_issns"), 1)
    with open(os.path.join(out, "counts.json"), "w") as fh:
        json.dump({"raw": n_raw, "local": n_local, "dois": n_dois, "hot_dois": int(n_hot)}, fh)


# ---------------------------------------------------------------------
# curation_batch


def _texts(rng, n: int) -> np.ndarray:
    return rng.integers(0, VOCAB, (n, WORDS_PER_DOC))


def _join(words: np.ndarray) -> list[str]:
    return [" ".join(f"w{w}" for w in row) for row in words]


def _vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table(
        {"vec_id": pa.array(ids.astype(np.int64)), "embedding": pa.ListArray.from_arrays(offsets, flat)}
    )


def build_curation_inputs(out: str, seed: int, n_corpus: int) -> None:
    """A document corpus and an embedding corpus (the persisted
    indexes are built over these), one daily batch of each, and the
    planted-duplicate truth. Batch size is n_corpus / 5.

    Text plants: a batch doc is an index doc (or an earlier batch doc)
    with one of its 40 words replaced — 3-shingle Jaccard ~0.85.
    Embedding plants: an index (or earlier batch) vector plus Gaussian
    noise at two levels — cos ~0.99 (a duplicate at 0.95) and cos
    ~0.90 (not a duplicate)."""
    rng = np.random.default_rng([seed, 2])
    n_batch = n_corpus // 5

    corpus_w = _texts(rng, n_corpus)
    batch_w = _texts(rng, n_batch)
    n_pi, n_pb = int(PLANT_INDEX * n_batch), int(PLANT_BATCH * n_batch)
    plant_idx = rng.choice(n_batch, n_pi + n_pb, replace=False)
    src = rng.integers(0, n_corpus, n_pi)
    batch_w[plant_idx[:n_pi]] = corpus_w[src]
    fresh = np.setdiff1d(np.arange(n_batch), plant_idx)
    for j in plant_idx[n_pi:]:
        earlier = fresh[fresh < j]
        if len(earlier) == 0:
            continue
        batch_w[j] = batch_w[rng.choice(earlier)]
    planted_text = [int(j) for j in plant_idx[:n_pi]] + [
        int(j) for j in plant_idx[n_pi:] if (fresh < j).any()
    ]
    pos = rng.integers(0, WORDS_PER_DOC, len(planted_text))
    batch_w[planted_text, pos] = VOCAB + rng.integers(0, VOCAB, len(planted_text))
    _write(
        pa.table({"doc_id": pa.array(np.arange(n_corpus, dtype=np.int64)), "text": _join(corpus_w)}),
        os.path.join(out, "corpus_docs"),
    )
    _write(
        pa.table(
            {"doc_id": pa.array(np.arange(n_corpus, n_corpus + n_batch, dtype=np.int64)), "text": _join(batch_w)}
        ),
        os.path.join(out, "batch_docs"),
    )

    centres = rng.normal(0, 1, (N_MIX, DIM))
    corpus_v = centres[rng.integers(0, N_MIX, n_corpus)] + rng.normal(0, 1, (n_corpus, DIM))
    batch_v = centres[rng.integers(0, N_MIX, n_batch)] + rng.normal(0, 1, (n_batch, DIM))
    n_low = int(PLANT_LOW * n_batch)
    vp = rng.choice(n_batch, n_pi + n_pb + n_low, replace=False)
    hi_idx, hi_batch, low = vp[:n_pi], vp[n_pi : n_pi + n_pb], vp[n_pi + n_pb :]
    batch_v[hi_idx] = corpus_v[rng.integers(0, n_corpus, n_pi)] + rng.normal(0, SIGMA_HIGH, (n_pi, DIM))
    batch_v[low] = corpus_v[rng.integers(0, n_corpus, n_low)] + rng.normal(0, SIGMA_LOW, (n_low, DIM))
    vfresh = np.setdiff1d(np.arange(n_batch), vp)
    planted_vec = [int(j) for j in hi_idx]
    for j in hi_batch:
        earlier = vfresh[vfresh < j]
        if len(earlier) == 0:
            continue
        batch_v[j] = batch_v[rng.choice(earlier)] + rng.normal(0, SIGMA_HIGH, DIM)
        planted_vec.append(int(j))
    _write(_vec_table(np.arange(n_corpus), corpus_v), os.path.join(out, "corpus_vectors"))
    _write(_vec_table(np.arange(n_corpus, n_corpus + n_batch), batch_v), os.path.join(out, "batch_vectors"))

    truth = {
        "corpus": n_corpus,
        "batch": n_batch,
        "planted_text": sorted(n_corpus + j for j in planted_text),
        "planted_vectors": sorted(n_corpus + j for j in planted_vec),
        "planted_vectors_low": sorted(n_corpus + int(j) for j in low),
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)
