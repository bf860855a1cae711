"""``curation_batch``: the LLM-curation daily gate. Set-up builds a
MinHash near-dup index and a SemDeDup cell index over a seeded corpus;
each batch starts from a copy of both, admits one document batch and
one embedding batch against them, lands the decisions and survivors,
and appends the survivors to the indexes under a batch id."""

from __future__ import annotations

import json
import os
import shutil


from siskin_spark.functions.vectors import (
    incremental_semdedup,
    incremental_semdedup_keep,
    semdedup_index_append,
    semdedup_index_build,
)
from siskin_spark.operators.neardup import (
    incremental_keep,
    incremental_neardup,
    neardup_index_append,
    neardup_index_build,
)
from spans import dir_bytes

NEARDUP_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95
SEM_CELLS = 64
SPANS = ["neardup.admit", "neardup.append", "vectors.admit", "vectors.append"]


def _meta(index_dir: str) -> dict:
    metas = [f for f in os.listdir(index_dir) if f.endswith(".json")]
    with open(os.path.join(index_dir, metas[0])) as fh:
        return json.load(fh)


class CurationBatch:
    ops_per_batch = 4
    min_batches = 3  # cheaper cold phase: room for three warm batches in the schedule

    def __init__(self, spark, tracer, work: str, input_dir: str, seed: int, pins: dict):
        self.spark, self.tracer = spark, tracer
        self.work, self.inp, self.seed = work, input_dir, seed
        self.floors = pins["curation_batch"]
        with open(os.path.join(input_dir, "truth.json")) as fh:
            self.truth = json.load(fh)
        self.records = 2 * self.truth["batch"]
        self.batch_id = f"day-{seed}"
        self.pristine = os.path.join(work, "pristine")
        self.run_dir = None
        self.last: dict = {}

    def _p(self, name: str) -> str:
        return os.path.join(self.inp, name)

    def setup(self) -> None:
        """The program's own set-up: build both persisted indexes."""
        spark = self.spark
        shutil.rmtree(self.pristine, ignore_errors=True)
        neardup_index_build(spark.read.parquet(self._p("corpus_docs")), os.path.join(self.pristine, "nd"))
        semdedup_index_build(
            spark.read.parquet(self._p("corpus_vectors")),
            os.path.join(self.pristine, "sem"),
            k=SEM_CELLS,
            sample=20_000,
            iters=5,
        )
        # every corpus doc has 40 words, so every one is shingled
        self.base_rows = {"nd": self.truth["corpus"], "sem": self.truth["corpus"]}
        self.base_bytes = dir_bytes(self.pristine)

    def prepare(self, run_no: int) -> None:
        self.run_dir = os.path.join(self.work, f"run-{run_no}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.pristine, self.run_dir)

    def _d(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def run(self) -> None:
        """The timed batch: admit, land and append both batches."""
        spark, tr = self.spark, self.tracer
        docs = spark.read.parquet(self._p("batch_docs"))
        with tr.span("neardup.admit"):
            pairs = tr.build("neardup.admit", incremental_neardup, spark, docs, self._d("nd"), threshold=NEARDUP_THRESHOLD)
            pairs.write.parquet(self._d("nd_pairs"))
            keep = tr.build("neardup.admit", incremental_keep, docs, spark.read.parquet(self._d("nd_pairs")))
            keep.write.parquet(self._d("nd_land"))
        with tr.span("neardup.append"):
            neardup_index_append(spark.read.parquet(self._d("nd_land")), self._d("nd"), batch_id=self.batch_id)

        vecs = spark.read.parquet(self._p("batch_vectors"))
        with tr.span("vectors.admit"):
            pairs = tr.build(
                "vectors.admit", incremental_semdedup, spark, vecs, self._d("sem"), threshold=COSINE_THRESHOLD
            )
            pairs.write.parquet(self._d("sem_pairs"))
            keep = tr.build("vectors.admit", incremental_semdedup_keep, vecs, spark.read.parquet(self._d("sem_pairs")))
            keep.write.parquet(self._d("sem_land"))
        with tr.span("vectors.append"):
            semdedup_index_append(spark.read.parquet(self._d("sem_land")), self._d("sem"), batch_id=self.batch_id)

    # -- output checks (untimed) ----------------------------------------
    def _family(self, tag: str, id_col: str, planted: list[int], rows) -> list[str]:
        spark, n = self.spark, self.truth["batch"]
        dropped = {r[0] for r in spark.read.parquet(self._d(f"{tag}_pairs")).select(id_col).distinct().collect()}
        survivors = spark.read.parquet(self._d(f"{tag}_land")).count()
        recall = len(dropped & set(planted)) / len(planted)
        self.last[tag] = {"dropped": len(dropped), "survivors": survivors, "recall": recall}
        bad = []
        if survivors + len(dropped) != n:
            bad.append(f"{tag}: {survivors} survivors + {len(dropped)} dropped != batch {n}")
        floor = self.floors[f"{tag}_recall_min"]
        if recall < floor:
            bad.append(f"{tag}: planted recall {recall:.4f} < pinned {floor}")
        meta = _meta(self._d(tag))
        if meta.get("appended", []).count(self.batch_id) != 1 or meta.get("pending"):
            bad.append(f"{tag}: ledger {meta.get('appended')} pending {meta.get('pending')}")
        if rows() - self.base_rows[tag] != survivors:
            bad.append(f"{tag}: index grew by {rows() - self.base_rows[tag]}, survivors {survivors}")
        return bad

    def check(self) -> list[str]:
        """Failed operations of the last batch, as messages."""
        spark = self.spark
        return self._family(
            "nd",
            "doc_id",
            self.truth["planted_text"],
            lambda: spark.read.parquet(self._d("nd/shingles")).select("doc_id").distinct().count(),
        ) + self._family(
            "sem",
            "vec_id",
            self.truth["planted_vectors"],
            lambda: spark.read.parquet(self._d("sem/cells")).count(),
        )

    def cleanup(self) -> None:
        if self.run_dir:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def outputs(self) -> dict:
        """Output identity of the last batch, for the diagnostics line."""
        return self.last

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # -- traced-run extras ------------------------------------------------
    def layer_metrics(self) -> dict:
        nd, sem = self.last["nd"], self.last["sem"]
        idx_bytes = dir_bytes(self._d("nd")) + dir_bytes(self._d("sem"))
        added = idx_bytes - self.base_bytes
        return {
            "neardup.dropped": nd["dropped"],
            "vectors.dropped": sem["dropped"],
            "neardup.planted_recall": nd["recall"],
            "vectors.planted_recall": sem["recall"],
            "index.bytes_per_record": added / max(1, nd["survivors"] + sem["survivors"]),
        }
