"""``ai_update``: the article-index daily update as memoized pipeline
stages (snapshot -> normalize -> tagged -> groupcover -> export), run
from a fresh pipeline base every batch so every stage misses the cache,
like a new day."""

from __future__ import annotations

import datetime
import json
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from siskin_spark.operators import dedup
from siskin_spark.operators.export import solr_export
from siskin_spark.operators.joins import update_labels
from siskin_spark.operators.licensing import apply_oa_flag, attach_labels
from siskin_spark.operators.normalize import normalize_source
from siskin_spark.plans.pipeline import Pipeline

N_BUCKETS = 8
PREFERENCES = ("55", "49", "28", "85", "89", "48", "101", "105", "121")
DATE = datetime.date.fromisoformat(inputs.NOW)

# flat local-data records -> intermediate schema (normalize_source
# conforms the rest of the schema to typed nulls)
LOCAL_SPEC = {
    "require": ["finc_id"],
    "mapping": {
        "finc_id": {"col": "finc_id"},
        "finc_record_id": {"col": "record_id"},
        "finc_source_id": {"col": "source_id"},
        "finc_mega_collection": {"col": "collections"},
        "finc_format": {"const": "ElectronicArticle"},
        "rft_genre": {"const": "article"},
        "rft_atitle": {"col": "title"},
        "rft_jtitle": {"col": "journal"},
        "rft_issn": {"col": "issn"},
        "doi": {"col": "doi"},
        "rft_date": {"col": "date"},
        "x_date": {"to_ts": {"from": "created"}},
    },
}

# stage -> layer span name
LAYERS = {
    "snapshot": "dedup.snapshot",
    "normalize": "normalize.crossref",
    "tagged": "licensing.tag",
    "groupcover": "dedup.groupcover",
    "export": "export.solr",
}
SPANS = list(LAYERS.values())


class AiUpdate:
    ops_per_batch = len(LAYERS)
    min_batches = 1  # its cold batch leaves room for one warm batch in the schedule

    def __init__(self, spark, tracer, work: str, input_dir: str, seed: int, pins: dict):
        self.spark, self.tracer = spark, tracer
        self.work, self.inp, self.seed = work, input_dir, seed
        self.pin = pins["ai_update"].get(os.path.basename(input_dir))
        with open(os.path.join(input_dir, "counts.json")) as fh:
            self.counts = json.load(fh)
        self.records = self.counts["raw"] + self.counts["local"]
        feed = pq.read_table(os.path.join(input_dir, "crossref_feed"), columns=["doi"])
        # distinct DOIs incl. the one NULL group snapshot_latest keeps
        self.expect_snapshot = pc.count_distinct(feed["doi"], mode="all").as_py()
        self.digests: list[tuple[int, int]] = []
        self.base = None

    def _p(self, name: str) -> str:
        return os.path.join(self.inp, name)

    def setup(self) -> None:
        with open(self._p("filter_config.json")) as fh:
            self.config = json.load(fh)

    def pipeline(self, base: str) -> Pipeline:
        spark, tr = self.spark, self.tracer
        p = Pipeline(base)

        @p.stage("snapshot", bucket_by=("doi",), n_buckets=N_BUCKETS)
        def snapshot(spark, inputs_, params):
            raw = spark.read.parquet(self._p("crossref_feed"))
            return tr.build("dedup.snapshot", dedup.snapshot_latest, raw, ["doi"], ["seq"])

        @p.stage("normalize", requires=("snapshot",), bucket_by=("finc_id",), n_buckets=N_BUCKETS)
        def normalize(spark, inputs_, params):
            def both():
                crossref = normalize_source(inputs_["snapshot"], "crossref", now=DATE)
                local = normalize_source(spark.read.parquet(self._p("local_records")), LOCAL_SPEC)
                return crossref.unionByName(local)

            return tr.build("normalize.crossref", both)

        @p.stage("tagged", requires=("normalize",), bucket_by=("finc_id",), n_buckets=N_BUCKETS)
        def tagged(spark, inputs_, params):
            def tag():
                flagged = apply_oa_flag(
                    inputs_["normalize"],
                    oa_issns=spark.read.parquet(self._p("oa_issns")),
                    free_collections=["Local 28 coll 0", "Local 28 coll 1"],
                    oa_source_ids=["28"],
                    excluded_source_ids=["48"],
                )
                return attach_labels(
                    flagged,
                    self.config,
                    holdings=spark.read.parquet(self._p("kbart")),
                    now=DATE,
                    drop_unlabeled=True,
                )

            return tr.build("licensing.tag", tag)

        @p.stage("groupcover", requires=("tagged",), bucket_by=("finc_id",), n_buckets=N_BUCKETS)
        def groupcover(spark, inputs_, params):
            narrow = inputs_["tagged"].select("finc_id", "finc_source_id", "doi", "x_labels")
            return tr.build(
                "dedup.groupcover",
                dedup.groupcover,
                narrow,
                labels_col="x_labels",
                preferences=PREFERENCES,
                lower_key=True,
            )

        @p.stage("export", requires=("tagged", "groupcover"))
        def export(spark, inputs_, params):
            def exp():
                updated = update_labels(
                    inputs_["tagged"], inputs_["groupcover"], labels_col="x_labels", new_labels_col="x_labels"
                )
                return solr_export(updated)

            return tr.build("export.solr", exp)

        return p

    def prepare(self, run_no: int) -> None:
        self.base = os.path.join(self.work, f"run-{run_no}")
        shutil.rmtree(self.base, ignore_errors=True)
        self.p = self.pipeline(self.base)

    def run(self) -> None:
        """The timed batch: every stage, in dependency order."""
        for stage in self.p.deps("export"):
            with self.tracer.span(LAYERS[stage]):
                self.p.run(self.spark, stage, {"seed": self.seed}, DATE)

    # -- output checks (untimed) ----------------------------------------
    def check(self) -> list[str]:
        """Failed operations of the last batch, as messages."""
        spark, p, params = self.spark, self.p, {"seed": self.seed}
        bad = []
        snap = p.read(spark, "snapshot", params, DATE)
        n_snap, n_doi = snap.agg(F.count("*"), F.countDistinct("doi") + F.max(F.col("doi").isNull().cast("int"))).first()
        if not n_snap == n_doi == self.expect_snapshot:
            bad.append(f"snapshot: {n_snap} rows, {n_doi} DOIs, want {self.expect_snapshot}")
        if p.read(spark, "normalize", params, DATE).count() == 0:
            bad.append("normalize: no records")
        tagged = p.read(spark, "tagged", params, DATE)
        labels = {r[0] for r in tagged.select(F.explode("x_labels")).distinct().collect()}
        n_tagged = tagged.count()
        if n_tagged == 0 or not labels <= set(self.config):
            bad.append(f"tagged: {n_tagged} records, labels {sorted(labels - set(self.config))} outside the config")
        gc = p.read(spark, "groupcover", params, DATE)
        dup = (
            tagged.select("finc_id", F.lower("doi").alias("k"))
            .filter(F.col("k").isNotNull() & (F.col("k") != ""))
            .join(gc, "finc_id")
            .select("k", F.explode("x_labels").alias("isil"))
            .groupBy("k", "isil")
            .count()
            .filter("count > 1")
            .count()
        )
        if dup:
            bad.append(f"groupcover: {dup} (DOI, ISIL) pairs kept on two records")
        out = p.read(spark, "export", params, DATE)
        cols = sorted(out.columns)
        n_out, digest = out.agg(
            F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
        ).first()
        digest = int(digest) % (1 << 64)
        if n_out != n_tagged:
            bad.append(f"export: {n_out} rows, {n_tagged} labeled records")
        self.digests.append((n_out, digest))
        want = tuple(self.pin) if self.pin else self.digests[0]
        if (n_out, digest) != want:
            bad.append(f"export: digest {(n_out, digest)} != {want}")
        return bad

    def cleanup(self) -> None:
        if self.base:
            shutil.rmtree(self.base, ignore_errors=True)

    def outputs(self) -> dict:
        """Output identity of the batches, for the diagnostics line."""
        return {"export_digests": sorted(set(self.digests))}

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)

    # -- traced-run extras ------------------------------------------------
    def layer_metrics(self) -> dict:
        spark, params = self.spark, {"seed": self.seed}
        n_tagged = self.p.read(spark, "tagged", params, DATE).count()
        n_input = self.p.read(spark, "normalize", params, DATE).count()
        files = [os.path.join(r, f) for r, _, fs in os.walk(self.base) for f in fs]
        data = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
        return {
            "licensing.labeled_ratio": n_tagged / n_input,
            "pipeline.bytes_written": sum(os.path.getsize(f) for f in data),
            "pipeline.files_written": len(data),
        }
