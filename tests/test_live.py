"""DBpedia-Live analog: per-page store, incremental diff, publisher.

The hard property pinned here is the incremental-equals-full contract:
applying a changed-pages batch to the page store must yield exactly the
batch job's ``quads`` stage over the new corpus snapshot — quad for quad,
mapping output included. That is the invariant the reference's live cache +
DiffData flow exists to maintain (live/.../publisher/DiffData.java,
PageProcessor.java).
"""

import pyspark.sql.functions as F
import pytest

from kgforge import corpus as C
from kgforge.live import (
    apply_batch,
    deletion_diff,
    live_diff,
    page_store,
    publish_rows,
    store_quads,
    write_diff,
)
from kgforge.parse import prepare
from kgforge.pipeline import Pipeline

N = 120
MINIDUMP = "tests/fixtures/minidump/corpus.parquet"


def _changed():
    return F.abs(F.xxhash64("path")) % 4 == 0


def _corpus_v1(spark):
    return C.generate_corpus_df(spark, N, partitions=8)


def _corpus_v2(spark):
    """Snapshot t+1: a quarter of the pages get a new revision — extra
    wikitext appended (new link + infobox param) and a new commit id (so
    revision-derived quads change too)."""
    v1 = _corpus_v1(spark)
    return v1.withColumn(
        "content",
        F.when(
            _changed(), F.concat(F.col("content"), F.lit("\n[[Live Update Target]]"))
        ).otherwise(F.col("content")),
    ).withColumn(
        "commit",
        F.when(_changed(), F.concat(F.col("commit"), F.lit("-r2"))).otherwise(
            F.col("commit")
        ),
    )


def _job_quads(spark, corpus):
    """The batch job's ``quads`` stage over ``corpus`` (run in memory) and
    the template-redirect map the run resolved."""
    p = Pipeline(spark)
    p.run(corpus)
    return p.quads, p.tred


@pytest.fixture(scope="module")
def job_quads_v2(spark):
    return _job_quads(spark, _corpus_v2(spark))[0]


@pytest.fixture(scope="module")
def store1(spark):
    s = page_store(prepare(_corpus_v1(spark))).persist()
    s.count()
    yield s
    s.unpersist()


def _sym_diff_empty(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("corpus", ["golden", "minidump"])
def test_store_view_equals_job_quads_stage(spark, corpus):
    """The live store and the batch job share one per-page extraction: the
    store's graph view is the job's ``quads`` stage as a multiset, with the
    mapping engine's output in both."""
    df = _corpus_v1(spark) if corpus == "golden" else spark.read.parquet(MINIDUMP)
    quads, tred = _job_quads(spark, df)
    _sym_diff_empty(store_quads(page_store(prepare(df), tred)), quads)
    assert quads.filter(F.col("dataset").startswith("mappingbased_")).count() > 0


def test_incremental_equals_full_reextraction(spark, store1, job_quads_v2):
    batch = _corpus_v2(spark).filter(_changed())
    assert 0 < batch.count() < N
    store2 = apply_batch(store1, page_store(prepare(batch)))
    _sym_diff_empty(store_quads(store2), job_quads_v2)


def test_diff_channels(spark, store1):
    batch_parsed = prepare(_corpus_v2(spark).filter(_changed()))
    batch_store = page_store(batch_parsed)
    diff = live_diff(store1, batch_store).persist()
    rows = publish_rows(diff)
    added = rows.filter(F.col("op") == "added")
    removed = rows.filter(F.col("op") == "removed")
    # the appended [[Live Update Target]] link is an added page_links quad
    # on every changed MAIN-namespace page (page_links is main-ns only)
    n_changed = diff.count()
    n_main = batch_parsed.filter(F.col("namespace") == 0).count()
    assert (
        added.filter(
            (F.col("dataset") == "page_links")
            & F.col("value").endswith("Live_Update_Target")
        ).count()
        == n_main
    )
    # the commit bump changes each page's revision id: old one removed,
    # new one added
    assert removed.filter(F.col("dataset") == "revision_ids").count() == n_changed
    assert added.filter(F.col("dataset") == "revision_ids").count() == n_changed
    # unchanged quads (e.g. the page label) never enter either channel
    assert added.filter(F.col("dataset") == "labels").count() == 0
    assert removed.filter(F.col("dataset") == "labels").count() == 0
    diff.unpersist()


def test_new_page_adds_everything(spark, store1):
    # a page absent from the store diffs as all-added
    batch_store = page_store(prepare(_corpus_v1(spark))).withColumn(
        "page_id", F.col("page_id") + 10**15
    )
    one = batch_store.orderBy("page_id").limit(1)
    diff = live_diff(store1, one)
    r = diff.select(F.size("to_add").alias("a"), F.size("to_delete").alias("d")).first()
    assert r.a > 0 and r.d == 0


def test_deletion_diff_removes_cached_quads(spark, store1):
    victim = store1.select("page_id").orderBy("page_id").limit(2)
    diff = deletion_diff(store1, victim)
    assert diff.count() == 2
    r = diff.select(F.size("to_add").alias("a"), F.size("to_delete").alias("d")).collect()
    assert all(x.a == 0 and x.d > 0 for x in r)
    # applying the deletion shrinks the store by exactly those pages
    store2 = apply_batch(
        store1, page_store(prepare(_corpus_v1(spark))).limit(0), deleted_pages=victim
    )
    assert store2.count() == store1.count() - 2


def test_apply_batch_is_idempotent(spark, store1):
    batch_store = page_store(prepare(_corpus_v2(spark).filter(_changed()))).persist()
    once = apply_batch(store1, batch_store)
    twice = apply_batch(once, batch_store)
    _sym_diff_empty(store_quads(once), store_quads(twice))
    batch_store.unpersist()


def test_write_diff_publishes_ntriples(spark, store1, tmp_path):
    batch_store = page_store(prepare(_corpus_v2(spark).filter(_changed())))
    diff = live_diff(store1, batch_store)
    out = str(tmp_path / "livediff")
    write_diff(diff, out)
    added = spark.read.text(f"{out}/added")
    removed = spark.read.text(f"{out}/removed")
    assert added.count() > 0 and removed.count() > 0
    # every published line is a well-formed N-Triples statement
    bad = added.unionByName(removed).filter(~F.col("value").rlike(r"^<[^>]+> <[^>]+> .* \.$"))
    assert bad.count() == 0


def test_stream_corpus_reads_only_new_files(spark, tmp_path):
    """``stream_corpus`` reads corpus rows (the ``CORPUS_SCHEMA`` columns
    only) from parquet files under its directory; a restart on the same
    checkpoint reads only the files added since."""
    import os

    import pandas as pd

    from kgforge.live import stream_corpus

    in_dir, out_dir, ckpt = f"{tmp_path}/in", f"{tmp_path}/out", f"{tmp_path}/ckpt"
    os.makedirs(in_dir)
    cols = ["repo", "path", "commit", "lang", "content", "revision_id"]

    def run(name, rows):
        pd.DataFrame(rows, columns=cols).to_parquet(f"{in_dir}/{name}.parquet")
        q = (
            stream_corpus(spark, in_dir).writeStream.format("parquet")
            .option("path", out_dir).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        assert out.columns == ["repo", "path", "commit", "lang", "content"]
        return sorted(tuple(r) for r in out.collect())

    a = ("r", "a/A.wiki", "c1", "en", "A text")
    b = ("r", "a/B.wiki", "c2", "en", "B text")
    assert run("b1", [a + (1,)]) == [a]
    assert run("b2", [b + (2,)]) == [a, b]


def test_live_stream_full_cycle(spark, tmp_path, job_quads_v2):
    """Feeder → re-extract → diff → publish → store update, as one
    streaming job: after batch 1 (snapshot v1) and batch 2 (the changed
    pages of snapshot v2), the latest store snapshot must equal the job's
    ``quads`` stage over v2, and the publish dirs must carry both channels."""
    import os

    from kgforge.live import _latest_version, start_live_stream

    wd = str(tmp_path)
    in_dir, store_dir, pub_dir, ckpt = (
        f"{wd}/in", f"{wd}/store", f"{wd}/pub", f"{wd}/ckpt",
    )
    os.makedirs(in_dir, exist_ok=True)

    _corpus_v1(spark).toPandas().to_parquet(f"{in_dir}/b1.parquet")
    q = start_live_stream(spark, in_dir, store_dir, pub_dir, ckpt)
    q.awaitTermination(180)

    _corpus_v2(spark).filter(_changed()).toPandas().to_parquet(f"{in_dir}/b2.parquet")
    q = start_live_stream(spark, in_dir, store_dir, pub_dir, ckpt)
    q.awaitTermination(180)

    ver = _latest_version(store_dir)
    assert ver is not None and ver >= 1
    final = spark.read.parquet(f"{store_dir}/v={ver}")
    _sym_diff_empty(store_quads(final), job_quads_v2)
    # batch 2 published both channels (changed pages ⇒ adds AND removes)
    b2 = sorted(
        (d for d in os.listdir(pub_dir) if d.startswith("batch=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )[-1]
    assert spark.read.text(f"{pub_dir}/{b2}/added").count() > 0
    assert spark.read.text(f"{pub_dir}/{b2}/removed").count() > 0
