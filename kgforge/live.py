"""DBpedia-Live analog: per-page quad store, incremental diff, publisher.

The reference's live module re-extracts each changed page and publishes the
added/removed triples by diffing against a per-page cache:

- ``publisher/DiffData.java:11-26`` — the diff unit is ONE page:
  ``{pageID, toAdd, toDelete}``;
- ``publisher/Publisher.java:94-117`` — accumulated diffs are flushed as
  ``<ts>.added.nt.gz`` / ``<ts>.removed.nt.gz`` files for endpoint sync;
- ``processor/PageProcessor.java`` + the live JSON cache — the previous
  extraction of every page is stored so the diff needs no full re-run.

Spark-first re-expression: the cache is a DataFrame/table keyed on
``page_id`` whose value is the page's quads as ONE array column
(``extractors.fused.page_quads``, the batch job's own per-page extraction:
every extractor segment plus the mapping cascades). Diffing a batch of
changed pages is then an ``array_except`` in both directions inside a single
equi-join on page_id — work proportional to the changed batch, never to the
graph, and no shuffle at quad granularity (the quad sets never leave their
page row). At
web scale the store is a page_id-bucketed table, so the batch join is a
bucket-local hash join against a broadcast-sized batch.

Deliberate divergence: the reference's ``toReInsert``/``subjects`` channels
exist because its endpoint stores deduplicated triples, so removing page
A's copy of a triple could orphan page B's. Here the per-page store is the
source of truth and the graph is a VIEW (``store_quads`` = explode +
dedup-on-read), so re-insert bookkeeping is unnecessary by construction;
the published added/removed channels match the reference's files.

Second divergence: the store holds ``page_quads`` only, the batch job's
``quads`` stage. The job's graph-level datasets — ``transitive_redirects``
(redirect chains across pages), the type-consistency split of
``mappingbased_objects`` (it reads the object's types from the object's own
page) and ``entity_links`` (a surface-form dictionary built from the whole
graph) — depend on other pages, so they are not in the store and no live
diff publishes them. Nor are the job's ``per_page`` datasets (``nif_*``,
``long_abstracts``, ``cited_facts``, ``french_population``,
``pipeline.per_page_quads``): they are not published live.

The feeder is ``stream_corpus``, a file-based Structured Streaming source of
corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extractors.fused import explode_quads, page_quads
from .schema import CORPUS_SCHEMA

QUAD_COLS = ["dataset", "subject", "predicate", "value", "context", "datatype"]


def page_store(
    parsed: DataFrame,
    template_redirects: dict[str, str] | None = None,
    mappings=None,
    ontology=None,
) -> DataFrame:
    """Parsed corpus → the live cache: (page_id, language, quads array).
    Persist it partitioned/bucketed by page_id for O(batch) incremental
    updates; ``store_quads`` recovers the flat graph. ``mappings`` and
    ``ontology`` are the mapping rules and ontology, as ``Pipeline.run``
    takes them: pass the job's own so the store publishes its mapping
    quads."""
    return page_quads(parsed, template_redirects, mappings, ontology)


def store_quads(store: DataFrame) -> DataFrame:
    """The graph view of the store (same rows as the batch job's ``quads``
    stage over the same corpus). Dedup is the reader's concern, exactly like
    the pipeline's DeduplicatingDestination stage."""
    return explode_quads(store)


def live_diff(store: DataFrame, batch_store: DataFrame) -> DataFrame:
    """Per-page diff of a re-extracted batch against the cache:
    (page_id, language, to_add, to_delete) — DiffData.java:11-26.

    A page missing from the store (brand-new) adds all its quads; a page
    whose content is unchanged yields two empty arrays (the newest-revision
    gate upstream normally drops those). The join is LEFT from the batch:
    the store side is restricted to the batch's page ids by the join
    itself, so cost scales with the batch."""
    old = store.select("page_id", F.col("quads").alias("_old"))
    new = batch_store.select("page_id", "language", F.col("quads").alias("_new"))
    empty = F.array().cast(batch_store.schema["quads"].dataType)
    oldq = F.coalesce(F.col("_old"), empty)
    return new.join(old, "page_id", "left").select(
        "page_id",
        "language",
        F.array_except(F.col("_new"), oldq).alias("to_add"),
        F.array_except(oldq, F.col("_new")).alias("to_delete"),
    )


def deletion_diff(store: DataFrame, deleted_pages: DataFrame) -> DataFrame:
    """Page-deletion events (the live feeder's delete queue): every cached
    quad of the page moves to the removed channel."""
    empty = F.array().cast(store.schema["quads"].dataType)
    return store.join(deleted_pages.select("page_id"), "page_id", "left_semi").select(
        "page_id",
        "language",
        empty.alias("to_add"),
        F.col("quads").alias("to_delete"),
    )


def apply_batch(
    store: DataFrame, batch_store: DataFrame, deleted_pages: DataFrame | None = None
) -> DataFrame:
    """Next store snapshot: changed pages replaced wholesale, deleted pages
    dropped. Pure anti-join + union — deterministic, so replaying the same
    batch is idempotent (the resume property of the batch pipeline)."""
    keys = batch_store.select("page_id")
    if deleted_pages is not None:
        keys = keys.unionByName(deleted_pages.select("page_id")).distinct()
    return store.join(keys, "page_id", "left_anti").unionByName(batch_store)


def publish_rows(diff: DataFrame) -> DataFrame:
    """DiffData → flat (op, language, quad) rows: the two RDFDiffWriter
    channels as one DataFrame, ``op`` ∈ {added, removed}."""
    add = diff.select("language", F.lit("added").alias("op"), F.explode("to_add").alias("q"))
    rem = diff.select(
        "language", F.lit("removed").alias("op"), F.explode("to_delete").alias("q")
    )
    return add.unionByName(rem).select(
        "op", "language", *[F.col(f"q.{c}").alias(c) for c in QUAD_COLS]
    )


def stream_corpus(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-based streaming source of corpus rows (new parquet files under
    ``input_dir`` are picked up incrementally)."""
    return spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)


def _latest_version(path: str) -> int | None:
    """Highest COMMITTED store snapshot under ``path`` (``v=<batch_id>``
    dirs). Only directories carrying Spark's ``_SUCCESS`` marker count
    (r6, ADVICE fix): a crash mid-way through the snapshot write leaves a
    partial ``v=<id>`` dir, and resuming against it would silently diff
    pages out of existence — the replayed batch must diff against the last
    fully committed snapshot. Local-FS listing — on a cluster back the
    store with a table format instead (the pipeline's Iceberg writeTo
    path); the snapshot-dir scheme here is the minimal
    exactly-once-friendly stand-in."""
    import os

    try:
        vs = [
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith("v=")
            and not d.endswith(".tmp")
            and os.path.exists(os.path.join(path, d, "_SUCCESS"))
        ]
    except FileNotFoundError:
        return None
    return max(vs) if vs else None


def start_live_stream(
    spark,
    input_dir: str,
    store_dir: str,
    publish_dir: str,
    checkpoint_dir: str,
    template_redirects: dict[str, str] | None = None,
    mappings=None,
    ontology=None,
):
    """The whole DBpedia-Live cycle as ONE Structured Streaming job
    (feeder → PageProcessor → Publisher, live/.../main/Main.java wiring):
    every micro-batch of changed-page rows is re-extracted, diffed against
    the latest store snapshot, published, and folded into a new snapshot.

    Exactly-once: foreachBatch replays a batch after a crash, so every
    write is keyed on batch_id and idempotent — the publish lands under
    ``publish_dir/batch=<id>`` (overwrite) and the next store under
    ``store_dir/v=<id>`` (overwrite); a replayed batch rewrites identical
    deterministic content. The reference's Publisher appends timestamped
    files instead, which duplicates on redelivery — divergence in our
    favor, documented here. ``template_redirects``, ``mappings`` and
    ``ontology`` are passed to ``page_store``."""
    from .parse import prepare

    stream = stream_corpus(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bstore = page_store(prepare(batch_df), template_redirects, mappings, ontology).persist()
        ver = _latest_version(store_dir)
        if ver is None:
            old = bstore.limit(0)
        else:
            old = spark.read.parquet(f"{store_dir}/v={ver}")
        diff = live_diff(old, bstore)
        write_diff(diff, f"{publish_dir}/batch={batch_id}", mode="overwrite")
        apply_batch(old, bstore).write.mode("overwrite").parquet(
            f"{store_dir}/v={batch_id}"
        )
        bstore.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_diff(diff: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Publish the diff as N-Triples under ``<path>/added`` and
    ``<path>/removed`` (Publisher.java:105-112's .added.nt/.removed.nt
    pair, with Spark's per-partition files standing in for the gz blobs)."""
    from .emit import write_ntriples

    rows = publish_rows(diff)
    for op in ("added", "removed"):
        write_ntriples(
            rows.filter(F.col("op") == op).drop("op"), f"{path}/{op}", mode=mode
        )
