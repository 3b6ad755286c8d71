"""End-to-end pipeline: corpus → parse → extract → close redirects → dedup →
partitioned graph tables, with per-stage checkpoints + lineage for exact
resume (the north rule's resumability requirement; analog of the reference's
`.obj` caches Redirects.scala:110-139 and the extraction-complete marker,
destinations/MarkerDestination.scala).

Stage DAG::

    parsed → tred → quads ┬→ transitive_redirects ─┐
                          ├→ type_consistency ─────┤
                          ├→ entity_links ─────────┼→ graph
                          │  wikidata_quads ───────┘ (optional second corpus)
                          └→ per_page

``quads`` is ``extractors.fused.page_quads`` exploded: the per-page
extraction the live store and single-page debug use too. ``wikidata_quads``
is ``wikidata.wikidata_all_quads``, the graph the driver contract's
``_wd_quads`` builds: a checkpointed entity-parse leaf, then seven
extractor branches checkpointed concurrently, unioned as leaves. Those
leaves are ``localCheckpoint`` blocks even with a workdir: losing an
executor while the stage runs fails the stage instead of recomputing it
(it is not committed, so a rerun recomputes it).

The corpus is parsed once, into the ``parsed`` stage. The template-redirect
map (``tred``, no stage of its own: a small driver-side dict) is read from
that stage, so a resumed job reads it from the committed parquet. The
``quads`` stage is one select over ``parsed`` that runs the infobox, mapping
and table-mapping cascades with ``tred``: after the parse, each page crosses
into Python once more. After ``run`` the instance holds ``tred``, ``parsed``,
``quads`` and ``per_page`` for callers that build more on them.

The four stages after ``quads`` (and ``wikidata_quads``) need nothing but
``parsed`` and ``quads``; most are small, driver-bound jobs that cannot fill
the cluster alone, so with a workdir they run concurrently
(``session.concurrently``, under the caller's job group); ``graph`` starts
once all of them have committed.

``per_page`` (``per_page_quads``) holds the per-page datasets ``nif_*``,
``long_abstracts``, ``cited_facts`` and ``french_population``: JVM selects
and one join over ``parsed`` and ``quads``, with no Python pass (the
citation IRIs are minted by the parse). No stage reads them and they are
unique by construction (``cited_facts`` including its citation context,
which the dedup key ignores), so they stay out of the dedup and out of
``graph``, the golden-checked set.

This is the one definition of the graph and of the per-page datasets.
``jobs/extract.py`` runs it with a workdir and exports ``graph`` and
``per_page``; the driver contract (``__spark_entry__._engine_quads``) runs
it in memory and serves ``graph ∪ per_page``.

In memory (``workdir=None``) a stage is a ``localCheckpoint`` coalesced to the
default parallelism, except the single-consumer ones (the stages after
``quads``, and ``graph``), which stay lazy so the final action runs them in
one job.

Checkpoint contract: every stage writes parquet under
``<workdir>/<stage>/`` plus one row in ``<workdir>/_lineage`` recording
(stage, rows, wall_ms, content_sha_ok, at). A re-run skips any stage whose
output already exists (`_SUCCESS` present) — kill the job at any point and
rerun to get byte-identical output. With parquet stages the lineage
bookkeeping runs no Spark job of its own apart from the sha check:

- ``rows`` is observed during the stage's own write (``DataFrame.observe``),
  not counted afterwards (Iceberg stages still count the written table);
- ``content_sha_ok`` is a read-back of the written parquet. It cannot ride on
  the write: ``content_sha256`` is derived from ``content`` in the same
  plan, so a pre-write check would only compare the plan with itself;
- the lineage row is encoded on the driver (pyarrow) as a one-row parquet
  file and written through the Hadoop FileSystem under a hidden temp name,
  then renamed to ``_lineage/part-<stage>-<uuid>.parquet``. Unique names let
  concurrent stages append without sharing a committer directory.
"""

from __future__ import annotations

import io
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .extractors.fused import explode_quads, page_quads
from .extractors.structural import extract_fr_population, extract_long_abstracts
from .linker import entity_link_quads
from .mapping_engine import cited_facts_quads, type_consistency
from .nif import nif_quads
from .parse import prepare
from .redirects import (
    dispatch_relevant_targets,
    template_redirect_map,
    transitive_redirect_quads,
)
from .session import concurrently

LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("rows", pa.int64()),
    ("wall_ms", pa.int64()),
    ("content_sha_ok", pa.bool_()),
    ("at", pa.string()),
])


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def _fs(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem): the same calls serve local, hdfs:// and
    s3a:// paths."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath, hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    hpath, fs = _fs(spark, path + "/_SUCCESS")
    return bool(fs.exists(hpath))


def _write_atomic(spark: SparkSession, path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` through the Hadoop FileSystem: create a
    hidden ``.<name>.tmp`` beside it, then rename it over ``path``, so a
    reader sees the whole file or none. Spark's file listing skips names
    starting with '.', so a temp file left by a crash is never read."""
    hpath, fs = _fs(spark, path)
    tmp = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        hpath.getParent(), f".{hpath.getName()}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    if not fs.rename(tmp, hpath):
        raise OSError(f"could not rename {tmp} to {path}")


def _lineage(spark: SparkSession, workdir: str, stage: str, rows: int, wall_ms: int, sha_ok: bool):
    row = pa.table(
        [[stage], [rows], [wall_ms], [sha_ok], [time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())]],
        schema=LINEAGE_SCHEMA,
    )
    buf = io.BytesIO()
    pq.write_table(row, buf)
    _write_atomic(
        spark,
        os.path.join(workdir, "_lineage", f"part-{stage}-{uuid.uuid4().hex}.parquet"),
        buf.getvalue(),
    )


def per_page_quads(parsed: DataFrame, quads: DataFrame) -> DataFrame:
    """The per-page datasets kept out of ``graph``: ``nif_*``,
    ``long_abstracts``, ``cited_facts`` (the infobox facts of ``quads``
    with a citation on their line) and ``french_population``. All JVM
    selects and one join over the parse columns; no Python pass."""
    return (
        nif_quads(parsed)
        .unionByName(extract_long_abstracts(parsed))
        .unionByName(cited_facts_quads(parsed, quads))
        .unionByName(extract_fr_population(parsed))
    )


class Pipeline:
    """Stage-wise runner. With ``workdir=None`` everything stays in memory
    (tests, the driver contract); with a workdir every stage checkpoints and
    the run is resumable.

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
            # materialized BEFORE fan-out: several consumers scanning an
            # unmaterialized plan race to compute the same partitions.
            # localCheckpoint, not persist: building the columnar cache of
            # the fat nested parse rows cost ~3.9 s at sf1.0 against ~0.4 s
            # for the row-block checkpoint, with equal warm scan times. The
            # checkpoint also truncates the lineage: the closure probe, the
            # linker's dict self-joins and the dedup would otherwise each
            # re-analyze the whole parse+extract plan (measured 4-6 s of
            # driver-side Catalyst time per derived query at sf0.1); a leaf
            # makes every downstream analysis O(leaf). The coalesce undoes the
            # input's partition count (the parse runs as many tasks as the
            # corpus has splits), so every downstream scan is ONE task wave;
            # it is a narrowing, not a shuffle.
            # Checkpoint blocks die with their executor: the resumable path
            # for cluster runs is a workdir (parquet or Iceberg stages).
            return compute().coalesce(self.spark.sparkContext.defaultParallelism).localCheckpoint()
        if self.fmt == "iceberg":
            table = f"{self.iceberg_namespace}.{self._run_slug}{name}"
            done = self.spark.catalog.tableExists(table)
            read = lambda: self.spark.table(table)  # noqa: E731
        else:
            path = os.path.join(self.workdir, name)
            done = _exists(self.spark, path)
            read = lambda: self.spark.read.parquet(path)  # noqa: E731
        if done:
            return read()
        t0 = time.time()
        if self.fmt == "iceberg":
            w = compute().writeTo(table).using("iceberg")
            if partition_cols:
                w = w.partitionedBy(*[F.col(c) for c in partition_cols])
            w.createOrReplace()
            out = read()
            # counted from the table: a replace-table-as-select runs its query
            # in a nested execution, and an Observation has not been seen to
            # fire on that path (obs.get would then block forever)
            rows = out.count()
        else:
            obs = Observation()
            w = compute().observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(path)
            out = read()
            rows = obs.get["rows"]
        # checked on the written files, not observed during the write: the
        # plan derives content_sha256 from content, so it cannot disagree
        sha_ok = "content_sha256" not in out.columns or out.filter(
            F.sha2(F.col("content"), 256) != F.col("content_sha256")
        ).count() == 0
        _lineage(self.spark, self.workdir, name, rows, int((time.time() - t0) * 1000), sha_ok)
        return out

    def _independent(self, *stages: tuple) -> list[DataFrame]:
        """``_stage(*args)`` for each of ``stages``, results in the given
        order. With a workdir the stages run concurrently under the caller's
        job group (``session.concurrently``). Safe because no two of the
        stages share a module-level cache: each has its own one-slot persist
        (redirects._LAST_REDIRECT_EDGES, linker._LAST_SF_SRC / _LAST_SF)."""
        if self.workdir is None:
            return [self._stage(*s) for s in stages]
        return concurrently(self.spark, [lambda s=s: self._stage(*s) for s in stages])

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
        folded into one resumable job.

        Sets ``self.parsed`` (the parse stage), ``self.tred`` (the
        template-redirect map read from it), ``self.quads`` (the quads
        stage) and ``self.per_page`` (the per-page datasets outside the
        returned graph)."""
        self.parsed = parsed = self._stage("parsed", lambda: prepare(corpus))
        # template-redirect map (Redirects.load analog, read from the same
        # parse): a tiny driver-side dict shipped inside the UDF closures, so
        # infobox/mapping dispatch sees through Template-ns redirects
        # (resolveMap)
        self.tred = tred = template_redirect_map(
            parsed, relevant_targets=dispatch_relevant_targets()
        )
        # the extractor suite, the infobox cascade and the mapping engine
        # (instance types, mapping-based statements) in one pass
        self.quads = quads = self._stage(
            "quads",
            lambda: explode_quads(page_quads(parsed, tred, mappings, ontology)),
            ("dataset",),
        )
        stages = [
            ("transitive_redirects", lambda: transitive_redirect_quads(quads), (), False),
            ("type_consistency", lambda: type_consistency(quads, ontology), (), False),
            ("entity_links", lambda: entity_link_quads(parsed, quads), (), False),
        ]
        if wikidata_corpus is not None:
            from .wikidata import wikidata_all_quads

            stages.append(
                ("wikidata_quads", lambda: wikidata_all_quads(wikidata_corpus), ("dataset",))
            )
        # outside the graph, which is checked against the golden set quad
        # for quad, and outside its dedup: unique by construction
        stages.append(("per_page", lambda: per_page_quads(parsed, quads), ("dataset",), False))
        *derived, self.per_page = self._independent(*stages)
        all_quads = quads
        for df in derived:
            all_quads = all_quads.unionByName(df)
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
