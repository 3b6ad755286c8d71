"""End-to-end pipeline: corpus → parse → extract → close redirects → dedup →
partitioned graph tables, with per-stage checkpoints + lineage for exact
resume (the north rule's resumability requirement; analog of the reference's
`.obj` caches Redirects.scala:110-139 and the extraction-complete marker,
destinations/MarkerDestination.scala).

Checkpoint contract: every stage writes parquet under
``<workdir>/<stage>/`` plus a row in ``<workdir>/_lineage`` recording
(stage, rows, wall_ms, content_sha_ok). A re-run skips any stage whose
output already exists (`_SUCCESS` present) — kill the job at any point and
rerun to get byte-identical output.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extractors import fused_quads
from .linker import entity_link_quads
from .mapping_engine import mapping_quads, table_mapping_quads, type_consistency
from .parse import prepare
from .redirects import (
    dispatch_relevant_targets,
    template_redirect_map,
    transitive_redirect_quads,
)
from .schema import QUAD_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _lineage(spark: SparkSession, workdir: str, stage: str, rows: int, wall_ms: int, sha_ok: bool):
    spark.createDataFrame(
        [(stage, rows, wall_ms, sha_ok, time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))],
        "stage string, rows long, wall_ms long, content_sha_ok boolean, at string",
    ).write.mode("append").parquet(os.path.join(workdir, "_lineage"))


class Pipeline:
    """Stage-wise runner. With ``workdir=None`` everything stays in memory
    (tests); with a workdir every stage checkpoints and the run is resumable.

    ``fmt='iceberg'`` (SURVEY.md §1.3 target) writes each stage as an Iceberg
    table ``<iceberg_namespace>.<stage>`` via the writeTo V2 API
    (``partitionedBy('dataset')``); when the Iceberg runtime jar is absent
    the pipeline logs and falls back to parquet ``partitionBy`` — same
    layout, same resume contract."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        fmt: str = "parquet",
        iceberg_namespace: str = "local.kgforge",
    ):
        self.spark = spark
        self.workdir = workdir
        self.iceberg_namespace = iceberg_namespace
        # table names must be keyed by the RUN (workdir), not just the stage
        # name, or a second pipeline over a different corpus would silently
        # resume from the previous run's tables (the parquet path keys on
        # workdir/name and must behave identically)
        import re as _re

        self._run_slug = (
            _re.sub(r"\W+", "_", workdir.strip("/"))[-48:].strip("_") + "_"
            if workdir
            else ""
        )
        if fmt == "iceberg" and not iceberg_available(spark):
            import warnings

            warnings.warn("Iceberg runtime jar not on classpath — falling back to parquet")
            fmt = "parquet"
        self.fmt = fmt

    def _stage(
        self,
        name: str,
        compute,
        partition_cols: tuple[str, ...] = (),
        materialize: bool = True,
    ) -> DataFrame:
        if self.workdir is None:
            if not materialize:
                # single-consumer stage: stay lazy so the final action runs
                # all of them in ONE job (independent subtrees in parallel)
                return compute()
            df = compute().persist()
            # materialize BEFORE fan-out: multiple consumers scanning an
            # unmaterialized cache race to compute the same partitions
            df.count()
            return df
        if self.fmt == "iceberg":
            table = f"{self.iceberg_namespace}.{self._run_slug}{name}"
            if not self.spark.catalog.tableExists(table):
                t0 = time.time()
                df = compute()
                w = df.writeTo(table).using("iceberg")
                if partition_cols:
                    w = w.partitionedBy(*[F.col(c) for c in partition_cols])
                w.createOrReplace()
                out = self.spark.table(table)
                sha_ok = True
                if "content_sha256" in out.columns:
                    bad = out.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
                    sha_ok = bad == 0
                _lineage(self.spark, self.workdir, name, out.count(),
                         int((time.time() - t0) * 1000), sha_ok)
            return self.spark.table(table)
        path = os.path.join(self.workdir, name)
        if not _exists(self.spark, path):
            t0 = time.time()
            df = compute()
            w = df.write.mode("overwrite")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(path)
            out = self.spark.read.parquet(path)
            sha_ok = True
            if "content_sha256" in out.columns:
                bad = out.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
                sha_ok = bad == 0
            _lineage(self.spark, self.workdir, name, out.count(), int((time.time() - t0) * 1000), sha_ok)
        return self.spark.read.parquet(path)

    def run(
        self,
        corpus: DataFrame,
        mappings=None,
        ontology=None,
        wikidata_corpus: DataFrame | None = None,
    ) -> DataFrame:
        """``mappings``: optional rule set for the mapping engine — a flat
        {template: TemplateMapping} or the per-language
        {lang: {template: ...}} shape (mappings_loader.dump_mappings_by_lang
        loads the REAL community rules — the production configuration);
        ``ontology``: optional Ontology (ontology.full_ontology() for the
        complete harvested DBpedia ontology);
        ``wikidata_corpus``: optional second corpus whose ``content``
        column carries Wikidata entity JSON (items/properties/lexemes) —
        routed through the full wikidata extractor group as its own
        checkpointed stage, the reference's separate wikidata-dump run
        folded into one resumable job."""
        parsed = self._stage("parsed", lambda: prepare(corpus))
        # template-redirect map (Redirects.load analog): tiny driver-side
        # dict shipped inside the UDF closures, so infobox/mapping
        # dispatch sees through Template-ns redirects (resolveMap)
        tred = template_redirect_map(
            parsed, relevant_targets=dispatch_relevant_targets()
        )
        # the extractor suite in one pass + the mapping engine (instance
        # types, mapping-based statements)
        quads = self._stage(
            "quads",
            lambda: fused_quads(parsed, tred)
            .unionByName(mapping_quads(parsed, template_redirects=tred,
                                       mappings=mappings, ontology=ontology))
            .unionByName(table_mapping_quads(parsed)),
            ("dataset",),
        )
        transitive = self._stage(
            "transitive_redirects", lambda: transitive_redirect_quads(quads), materialize=False
        )
        consistency = self._stage("type_consistency", lambda: type_consistency(quads), materialize=False)
        links = self._stage("entity_links", lambda: entity_link_quads(parsed, quads), materialize=False)
        all_quads = quads.unionByName(transitive).unionByName(consistency).unionByName(links)
        if wikidata_corpus is not None:
            from .wikidata import wikidata_all_quads

            wd = self._stage(
                "wikidata_quads", lambda: wikidata_all_quads(wikidata_corpus), ("dataset",)
            )
            all_quads = all_quads.unionByName(wd)
        # DeduplicatingDestination analog: exact-duplicate quads dropped
        # (dropDuplicates does a partial aggregate before the shuffle)
        deduped = self._stage(
            "graph",
            lambda: all_quads.dropDuplicates(
                ["dataset", "subject", "predicate", "value", "datatype", "language"]
            ),
            ("dataset",),
            materialize=False,
        )
        return deduped


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    workdir: str | None = None,
    fmt: str = "parquet",
    mappings=None,
    ontology=None,
    wikidata_corpus: DataFrame | None = None,
) -> DataFrame:
    return Pipeline(spark, workdir, fmt=fmt).run(
        corpus, mappings=mappings, ontology=ontology,
        wikidata_corpus=wikidata_corpus,
    )
