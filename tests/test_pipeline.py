"""Pipeline: checkpoint resume, N-Triples round-trip, lineage."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from kgforge import corpus as C
from kgforge.compare import quad_pr
from kgforge.emit import read_ntriples, write_ntriples
from kgforge.pipeline import run_pipeline


STAGES = ("parsed", "quads", "transitive_redirects", "type_consistency", "entity_links",
          "per_page", "graph")


def test_resume_and_lineage(spark):
    wd = tempfile.mkdtemp(prefix="kgforge_pipe_")
    corpus = C.generate_corpus_df(spark, 100, partitions=2)
    g1 = run_pipeline(spark, corpus, workdir=wd)
    n1 = g1.count()
    lineage = spark.read.parquet(wd + "/_lineage")
    assert lineage.columns == ["stage", "rows", "wall_ms", "content_sha_ok", "at"]
    rows = lineage.collect()
    # one row per computed stage, its observed row count equal to what the
    # stage's parquet reads back
    assert sorted(r.stage for r in rows) == sorted(STAGES)
    for r in rows:
        assert r.rows == spark.read.parquet(f"{wd}/{r.stage}").count(), r.stage
        assert r.content_sha_ok, r.stage
    # a temp file a crashed lineage write left behind is hidden from readers
    with open(f"{wd}/_lineage/.part-graph-crashed.parquet.tmp", "wb") as f:
        f.write(b"PAR1 torn write")
    # resume: same workdir → all stages skipped, identical output, no rows
    g2 = run_pipeline(spark, corpus, workdir=wd)
    assert g2.count() == n1
    assert spark.read.parquet(wd + "/_lineage").count() == len(STAGES)
    # partial resume: drop the final stage, rerun → recomputed identically,
    # exactly one more lineage row (the graph's)
    import shutil

    shutil.rmtree(wd + "/graph")
    g3 = run_pipeline(spark, corpus, workdir=wd)
    assert g3.count() == n1
    added = spark.read.parquet(wd + "/_lineage").groupBy("stage").count()
    assert {r.stage: r["count"] for r in added.collect()} == {
        st: 2 if st == "graph" else 1 for st in STAGES
    }


def test_lineage_rows_from_spark_and_driver_read_together(spark, tmp_path):
    """A workdir whose _lineage holds rows Spark appended (older runs) and
    rows the driver wrote reads as one table with the same schema."""
    from kgforge.pipeline import _lineage

    wd = str(tmp_path)
    spark.createDataFrame(
        [("parsed", 10, 5, True, "2026-01-01T00:00:00Z")],
        "stage string, rows long, wall_ms long, content_sha_ok boolean, at string",
    ).write.mode("append").parquet(wd + "/_lineage")
    _lineage(spark, wd, "quads", 20, 7, True)
    lineage = spark.read.parquet(wd + "/_lineage")
    assert lineage.schema.simpleString() == (
        "struct<stage:string,rows:bigint,wall_ms:bigint,content_sha_ok:boolean,at:string>"
    )
    assert sorted((r.stage, r.rows, r.wall_ms) for r in lineage.collect()) == [
        ("parsed", 10, 5), ("quads", 20, 7)
    ]


def test_lineage_sha_check_reads_back_the_parquet(spark, monkeypatch):
    """content_sha_ok is checked against the written stage: a corrupted
    content_sha256 column is caught."""
    import kgforge.pipeline as P

    prepare = P.prepare
    # plant the mismatch in the parse, which only the parsed stage stores
    monkeypatch.setattr(
        P, "prepare",
        lambda c: prepare(c).withColumn(
            "content_sha256", F.sha2(F.concat("content", F.lit("x")), 256)
        ),
    )
    wd = tempfile.mkdtemp(prefix="kgforge_sha_")
    run_pipeline(spark, C.generate_corpus_df(spark, 20, partitions=2), workdir=wd)
    ok = {r.stage: r.content_sha_ok for r in spark.read.parquet(wd + "/_lineage").collect()}
    assert ok.pop("parsed") is False
    assert all(ok.values()), ok


def test_failed_stage_propagates_and_rerun_completes(spark, monkeypatch, job_group):
    """A derived stage that fails mid-write fails the run, commits nothing,
    and does not stop the stages running beside it; the rerun computes the
    failed stage and the graph only. Pool threads run under the caller's job
    group."""
    import kgforge.pipeline as P
    from pyspark.sql.functions import udf

    corpus = C.generate_corpus_df(spark, 40, partitions=2)
    clean = run_pipeline(spark, corpus, workdir=tempfile.mkdtemp(prefix="kgforge_ok_")).count()

    @udf("string")
    def boom(s):
        raise ValueError("planted stage failure")

    type_consistency = P.type_consistency
    monkeypatch.setattr(
        P,
        "type_consistency",
        lambda *a: type_consistency(*a).withColumn("subject", boom("subject")),
    )
    wd = tempfile.mkdtemp(prefix="kgforge_fail_")
    with pytest.raises(Exception, match="planted stage failure"):
        run_pipeline(spark, corpus, workdir=wd)
    assert not os.path.exists(wd + "/type_consistency/_SUCCESS")
    assert not os.path.exists(wd + "/graph")
    for st in ("parsed", "quads", "transitive_redirects", "entity_links", "per_page"):
        assert os.path.exists(f"{wd}/{st}/_SUCCESS"), st
    monkeypatch.undo()

    with job_group("kgforge-rerun") as jobs:
        assert run_pipeline(spark, corpus, workdir=wd).count() == clean
    assert jobs.grouped and not jobs.outside
    stages = [r.stage for r in spark.read.parquet(wd + "/_lineage").collect()]
    assert sorted(stages) == sorted(STAGES)


def test_job_and_driver_cache_build_one_graph(spark, tmp_path):
    """The driver contract's in-memory graph is the resumable job's graph:
    ``_engine_quads`` equals the union of a workdir run's ``graph`` and
    ``per_page`` parquet stages as a distinct quad set, per-page datasets
    included."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from kgforge.driver_corpus import corpus_from_documents
    from kgforge.pipeline import Pipeline
    from kgforge.schema import QUAD_KEY

    key = ["dataset", *QUAD_KEY]
    rng = random.Random(5)
    words = "alpha beta data join key scan sort spark table value".split()
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(10, 40))) for _ in range(60)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(60), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "de", "fr", "es")) for _ in texts],
        "source": [f"src{rng.randrange(5)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    try:
        cached = E._engine_quads(spark, sf_dir).select(*key).distinct()
        per_page = F.col("dataset").startswith("nif_") | F.col("dataset").isin(
            "long_abstracts", "cited_facts"
        )
        assert cached.filter(per_page).count() > 0

        p = Pipeline(spark, str(tmp_path / "wd"))
        graph = p.run(corpus_from_documents(spark, sf_dir))
        job = graph.unionByName(p.per_page).select(*key).distinct()
        assert job.count() == cached.count() > 0
        assert job.exceptAll(cached).count() == 0
    finally:
        for k in (sf_dir, sf_dir + "::parsed", sf_dir + "::tred"):
            E._QUADS_CACHE.pop(k, None)


_BOX = "{{Infobox person\n|name=Ann Example\n|birth_date={{%s|1950|1|2}}\n|occupation=Writer\n}}\n"


def _tred_corpus(spark):
    rows = [
        ("r", "t/Template:Bd.wiki", "c", "en", "#REDIRECT [[Template:Birth date]]\n"),
        ("r", "t/Alice.wiki", "c", "en", _BOX % "Birth date"),
        ("r", "t/Bob.wiki", "c", "en", _BOX % "Bd"),
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_run_resolves_template_redirects_from_the_parse(spark):
    """The template-redirect map is read from the parse stage and the quads
    stage's infobox cascade uses it: a date written through the ``{{Bd}}``
    redirect parses like ``{{Birth date}}``, and would not without the
    map."""
    from kgforge.extractors import run_extractors
    from kgforge.pipeline import Pipeline

    def infobox(quads):
        rows = quads.filter(F.col("dataset") == "infobox_properties").collect()
        by_page = {"Alice": set(), "Bob": set()}
        for r in rows:
            by_page[r.subject.rsplit("/", 1)[1]].add((r.predicate, r.value, r.datatype))
        return by_page

    p = Pipeline(spark)
    p.run(_tred_corpus(spark))
    assert p.tred == {"bd": "birth date"}
    ib = infobox(p.quads)
    assert ib["Bob"] == ib["Alice"]
    assert any(pred.endswith("/birthDate") for pred, _, _ in ib["Bob"])
    bare = infobox(run_extractors(p.parsed, ["infobox"]))
    assert bare["Bob"] != ib["Bob"]


def test_driver_hybrid_infobox_sees_template_redirects(spark, monkeypatch):
    """``kg_hybrid_infobox`` splits the raw infobox harvest with the run's
    template-redirect map: a page whose date goes through the ``{{Bd}}``
    redirect gets the same mapped/unmapped rows as one using
    ``{{Birth date}}``."""
    import __spark_entry__ as E

    monkeypatch.setattr(E, "corpus_from_documents", lambda spark, sf_dir: _tred_corpus(spark))
    key = "tred-corpus"
    try:
        by_page = {"Alice": set(), "Bob": set()}
        for r in E._kg_hybrid_infobox(spark, key).collect():
            by_page[r.subject.rsplit("/", 1)[1]].add((r.dataset, r.predicate, r.value, r.datatype))
        assert any(pred.endswith("/birthDate") for _, pred, _, _ in by_page["Bob"])
        assert by_page["Bob"] == by_page["Alice"]
    finally:
        for k in ("", "::parsed", "::tred", "::hybrid"):
            E._QUADS_CACHE.pop(key + k, None)


def test_parse_mints_cite_iri_for_attributed_refs(spark):
    """The parse carries each ref's citation IRI: a ref attributed to an
    infobox property gets the IRI of the first citation template in its
    body; a ref without one, or outside the infobox, gets none."""
    from kgforge.parse import prepare
    from kgforge.vocab import citation_iri

    body = (
        "{{Infobox person\n"
        "|name=Ann<ref>{{small|x}} {{cite web|url=http://a.example|title=T}}</ref>\n"
        "|occupation=Writer<ref>Plain source</ref>\n"
        "}}\n"
        "Ann wrote books.<ref>{{cite book|isbn=123}}</ref>\n"
    )
    parsed = prepare(spark.createDataFrame(
        [("r", "t/Ann.wiki", "c", "en", body)],
        "repo string, path string, commit string, lang string, content string",
    ))
    refs = [(r.key, r.cite_iri) for r in parsed.first().ref_texts]
    assert refs == [
        ("name", citation_iri([("url", "http://a.example"), ("title", "T")])),
        ("occupation", None),
        (None, None),
    ]


def test_per_page_stage_holds_fr_population(spark):
    """``french_population`` is a per-page dataset: the ``per_page`` stage
    carries the city total of a fr population-evolution page and ``graph``
    does not."""
    from kgforge.pipeline import Pipeline

    rows = [
        ("r", "t/Modèle:Données%2FLyon%2Févolution population.wiki", "c", "fr",
         "{{Pyramide|pop=12345|an=1999}}\n"),
        ("r", "t/Lyon.wiki", "c", "fr", "'''Lyon''' est une ville.\n"),
    ]
    p = Pipeline(spark)
    graph = p.run(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    pop = p.per_page.filter(F.col("dataset") == "french_population").collect()
    assert [(r.subject, r.value) for r in pop] == [("http://fr.dbpedia.org/resource/Lyon", "12345")]
    assert graph.filter(F.col("dataset") == "french_population").count() == 0


def test_run_parses_the_corpus_once(spark, monkeypatch):
    """``Pipeline.run`` calls ``prepare`` once: the template-redirect map is
    read from the parse stage, not from a second parse of the corpus."""
    import kgforge.pipeline as P

    calls = []
    prepare = P.prepare
    monkeypatch.setattr(P, "prepare", lambda *a, **kw: calls.append(a) or prepare(*a, **kw))
    P.Pipeline(spark).run(_tred_corpus(spark))
    assert len(calls) == 1


def test_in_memory_stages_are_checkpointed_leaves(spark):
    """Without a workdir a materialized stage is a local checkpoint coalesced
    to the default parallelism (a leaf plan for every downstream analysis);
    the single-consumer ``graph`` stage stays lazy."""
    from kgforge.pipeline import Pipeline

    p = Pipeline(spark)
    graph = p.run(_tred_corpus(spark).repartition(12))
    plan = p.parsed._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LogicalRDD" and plan.children().size() == 0
    assert p.parsed.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert graph._jdf.queryExecution().analyzed().nodeName() == "Deduplicate"
    assert graph.filter(F.col("dataset") == "labels").count() == 2


def test_run_gives_its_ontology_to_the_table_cascade(spark):
    """Both mapping cascades type with the run's ontology: a table row the
    default rules map to dbo:Work gets the custom ontology's superclass of
    Work as a transitive type."""
    from kgforge.ontology import DBO, Ontology
    from kgforge.pipeline import Pipeline

    table = ("'''Stats''' by year.\n\n{| class=\"wikitable\"\n|-\n! Year !! Value\n"
             "|-\n| 2001 || 100\n|}\n")
    corpus = spark.createDataFrame(
        [("r", "a/Stats.wiki", "c", "en", table)],
        "repo string, path string, commit string, lang string, content string",
    )
    onto = Ontology(classes={DBO + "Work": DBO + "Opus", DBO + "Opus": None})
    graph = Pipeline(spark).run(corpus, ontology=onto)
    got = {r.value for r in graph.filter(
        (F.col("dataset") == "instance_types_transitive")
        & F.col("subject").endswith("/Stats__2001__1")
    ).collect()}
    assert DBO + "Opus" in got


def test_run_gives_its_ontology_to_the_type_consistency_split(spark):
    """The type-consistency split reads the run's ontology: a settlement's
    leader typed Person fits the default range of dbo:leader (Person), but
    a custom ontology that narrows the range to Place (disjoint with Agent)
    moves the quad to ``mappingbased_objects_disjoint_range``."""
    import dataclasses

    from kgforge.ontology import DBO, default_ontology
    from kgforge.pipeline import Pipeline

    corpus = spark.createDataFrame(
        [
            ("r", "a/Springfield.wiki", "c", "en",
             "{{Infobox settlement\n|name=Springfield\n|leader_name=[[Alice]]\n}}\n"),
            ("r", "a/Alice.wiki", "c", "en", "{{Infobox person\n|name=Alice\n}}\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    base = default_ontology()
    leader = base.properties[DBO + "leader"]
    onto = dataclasses.replace(base, properties={
        **base.properties, leader.iri: dataclasses.replace(leader, range=DBO + "Place"),
    })
    graph = Pipeline(spark).run(corpus, ontology=onto)
    got = {r.dataset for r in graph.filter(F.col("predicate") == leader.iri).collect()}
    assert "mappingbased_objects_disjoint_range" in got
    assert "mappingbased_objects" not in got


@pytest.fixture(scope="module")
def wikidata_job(spark, job_group, tmp_path_factory):
    """A workdir run with a ``wikidata_corpus``, under a job group. The
    Wikidata corpus is the driver contract's: item, property and lexeme
    pages derived from tiny customer, supplier and nation tables. Returns
    (the tables' directory, the workdir, the run's jobs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgforge.driver_corpus import (
        wikidata_corpus_from_customers,
        wikidata_lexeme_corpus_from_nations,
        wikidata_property_corpus_from_suppliers,
    )
    from kgforge.pipeline import Pipeline

    root = tmp_path_factory.mktemp("wikidata_tables")
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(1, 31), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, 31)],
        "c_mktsegment": [("BUILDING", "MACHINERY", "HOUSEHOLD")[i % 3] for i in range(1, 31)],
    }), str(root / "customer.parquet"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(1, 6), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, 6)],
    }), str(root / "supplier.parquet"))
    pq.write_table(pa.table({"n_nationkey": pa.array(range(6), pa.int32())}),
                   str(root / "nation.parquet"))
    sf_dir, workdir = str(root), str(root / "job")
    wikidata = (
        wikidata_corpus_from_customers(spark, sf_dir)
        .unionByName(wikidata_property_corpus_from_suppliers(spark, sf_dir))
        .unionByName(wikidata_lexeme_corpus_from_nations(spark, sf_dir))
    )
    with job_group("kgforge-wikidata-run") as jobs:
        Pipeline(spark, workdir).run(
            C.generate_corpus_df(spark, 20, partitions=2), wikidata_corpus=wikidata
        )
    return sf_dir, workdir, jobs


def test_wikidata_run_runs_no_job_outside_the_callers_job_group(wikidata_job):
    """The concurrent stages, and the wikidata stage's concurrent branch
    checkpoints inside them, run under the caller's job group."""
    jobs = wikidata_job[2]
    assert jobs.grouped and not jobs.outside


def test_job_and_driver_cache_build_one_wikidata_graph(spark, wikidata_job):
    """The job's ``wikidata_quads`` stage equals the driver contract's
    ``_wd_quads`` over the same tables as a multiset, with items,
    properties and lexemes in it."""
    import __spark_entry__ as E
    from kgforge.schema import QUAD_KEY

    sf_dir, workdir, _ = wikidata_job
    cols = ["dataset", *QUAD_KEY, "context"]
    job = spark.read.parquet(workdir + "/wikidata_quads").select(*cols)
    try:
        drv = E._wd_quads(spark, sf_dir).select(*cols)
        datasets = {r.dataset for r in drv.select("dataset").distinct().collect()}
        assert {"wikidata_labels", "wikidata_property", "wikidata_lexeme"} <= datasets
        assert job.count() == drv.count()
        assert job.exceptAll(drv).count() == 0 and drv.exceptAll(job).count() == 0
    finally:
        E._QUADS_CACHE.pop(sf_dir + "::wikidata", None)


def test_ntriples_round_trip(spark):
    wd = tempfile.mkdtemp(prefix="kgforge_nt_")
    graph = run_pipeline(spark, C.generate_corpus_df(spark, 100, partitions=2)).cache()
    write_ntriples(graph, wd + "/nt")
    back = read_ntriples(spark, wd + "/nt")
    pr = quad_pr(back, graph)
    assert pr.precision == 1.0 and pr.recall == 1.0, str(pr)


def test_arrow_parse_equals_pandas_parse(spark):
    """The mapInArrow parse path (production) and the legacy pandas path must
    produce identical feature columns (the cross-check parse_corpus_pandas
    exists for)."""
    from kgforge import corpus as C
    from kgforge.parse import derive_page_columns, parse_corpus, parse_corpus_pandas

    df = derive_page_columns(C.generate_corpus_df(spark, 80, partitions=2))
    cols = ["subject", "page_iri", "redirect_target", "links", "external_links",
            "templates", "param_decls", "sections", "tables", "coord_lat",
            "coord_lon", "n_tables", "plain_text", "abstract", "parse_errors"]
    a = {r["subject"]: r for r in parse_corpus(df).select(*cols).collect()}
    b = {r["subject"]: r for r in parse_corpus_pandas(df).select(*cols).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], k


def test_pipeline_iceberg_flag_falls_back_without_jar(spark, tmp_path):
    """fmt='iceberg' (SURVEY §1.3 target): with no Iceberg runtime jar the
    pipeline warns and falls back to parquet — same layout, same resume
    contract. With the jar present it writes real Iceberg tables (skipped
    here when absent)."""
    import warnings

    from kgforge import corpus as C
    from kgforge.pipeline import Pipeline, iceberg_available, run_pipeline

    if iceberg_available(spark):
        pytest.skip("jar present — fallback path not exercised; covered by real path")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        p = Pipeline(spark, str(tmp_path / "wd"), fmt="iceberg")
        assert p.fmt == "parquet" and any("falling back" in str(x.message) for x in w)
    graph = run_pipeline(spark, C.generate_corpus_df(spark, 40, partitions=2),
                         workdir=str(tmp_path / "wd2"), fmt="iceberg")
    assert graph.count() > 0
    assert (tmp_path / "wd2" / "graph" / "_SUCCESS").exists()


def test_pipeline_iceberg_real(spark, tmp_path):
    """Real Iceberg write path (runs only when the runtime jar + catalog are
    configured)."""
    from kgforge.pipeline import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar absent in this environment")
    from kgforge import corpus as C
    from kgforge.pipeline import run_pipeline

    graph = run_pipeline(spark, C.generate_corpus_df(spark, 40, partitions=2),
                         workdir=str(tmp_path / "wd"), fmt="iceberg")
    assert graph.count() > 0


def test_pipeline_with_wikidata_corpus(spark):
    """A second entity-JSON corpus routes through the full wikidata
    extractor group as its own checkpointed, resumable stage — the
    reference's separate wikidata-dump run folded into one job."""
    wd = tempfile.mkdtemp(prefix="kgforge_pipe_wd_")
    corpus = C.generate_corpus_df(spark, 50, partitions=2)
    wd_corpus = spark.read.parquet("tests/fixtures/minidump/wikidata_corpus.parquet")
    g1 = run_pipeline(spark, corpus, workdir=wd, wikidata_corpus=wd_corpus)
    datasets = {r.dataset for r in g1.select("dataset").distinct().collect()}
    # wikitext AND wikidata datasets land in one deduped graph
    assert "labels" in datasets
    assert {"wikidata_labels", "wikidata_property", "wikidata_reference",
            "wikidata_lexeme", "wikidata_namespace_same_as"} <= datasets
    n1 = g1.count()
    lineage = spark.read.parquet(wd + "/_lineage")
    assert "wikidata_quads" in {r.stage for r in lineage.collect()}
    # resume: identical output, wikidata stage skipped
    g2 = run_pipeline(spark, corpus, workdir=wd, wikidata_corpus=wd_corpus)
    assert g2.count() == n1
