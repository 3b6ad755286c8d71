"""Real-dump parity: the reference's minidump regression corpus through the
full engine.

The reference validates against 125 curated REAL wiki page samples
(``dump/src/test/resources/minidumps/<lang>/wiki.xml.bz2``, harness
``dump/src/test/scala/.../MinidumpTests.scala:12-18``). Until round 5 every
correctness signal here ran over the engine's own synthetic corpus — real
wikitext (nested convert templates, refs inside links, 100 kB pages,
localized namespace prefixes, RTL/CJK titles) was the one untested bug
class. ``tests/fixtures/minidump/corpus.parquet`` (built offline by
tools/minidump_to_corpus.py, checked in, no network) carries all 158
wikitext pages of that corpus in the engine's tabular schema; this file
pins the pipeline's behavior over them.

Counts are pinned exactly: they may only change when the parser/extractors
change deliberately — update them WITH the change, like golden files.
"""

import pytest
from pyspark.sql import functions as F

from kgforge.extractors import fused_quads, run_extractors
from kgforge.parse import prepare

FIXTURE = "tests/fixtures/minidump/corpus.parquet"

# per-dataset quad counts over the full 158-page corpus (pinned golden)
EXPECTED_DATASETS = {
    "anchor_text": 31016,
    "article_categories": 1171,
    "article_templates": 3659,
    "article_templates_nested": 2096,
    "category_labels": 1,
    "disambiguations": 11,
    "external_links": 905,
    "genders": 2,
    "geo_coordinates": 36,
    "homepages": 53,
    "images": 13413,
    "infobox_properties": 8028,
    "infobox_property_definitions": 16056,
    "infobox_references": 215,
    "interlanguage_links": 47,
    "labels": 157,
    "out_degree": 157,
    "page_ids": 158,
    "page_length": 157,
    "page_links": 34011,
    "redirects": 2,
    "revision_ids": 158,
    "revision_meta": 1099,
    "revision_uris": 158,
    "short_abstracts": 154,
    "skos_categories": 8,
    "topical_concepts": 1,
    "wikipedia_links": 628,
}


@pytest.fixture(scope="module")
def parsed(spark):
    df = prepare(spark.read.parquet(FIXTURE)).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def quads(parsed):
    q = fused_quads(parsed).persist()
    q.count()
    yield q
    q.unpersist()


def test_all_pages_parse(parsed):
    assert parsed.count() == 158
    # exactly ONE malformed construct in the whole real corpus (en 'Kerala
    # Agricultural University' line 71: unclosed '[[Thrissur]' — MediaWiki
    # renders it literally, the parser degrades with one counted error)
    assert parsed.agg(F.sum("parse_errors")).first()[0] == 1
    bad = parsed.filter(F.col("parse_errors") > 0).select("lang", "title").collect()
    assert [(r.lang, r.title) for r in bad] == [("en", "Kerala Agricultural University")]


def test_dataset_counts_pinned(quads):
    got = {r["dataset"]: r["count"] for r in quads.groupBy("dataset").count().collect()}
    assert got == EXPECTED_DATASETS


def test_en_berlin_parses_fully(parsed):
    b = parsed.filter((F.col("lang") == "en") & (F.col("title") == "Berlin")).select(
        F.size("links").alias("links"),
        F.size("templates").alias("tpls"),
        F.size("sections").alias("sects"),
        F.size("tables").alias("tables"),
        F.length("plain_text").alias("chars"),
    ).first()
    assert b.links == 1091 and b.tpls == 156 and b.sects == 54 and b.tables == 4
    assert b.chars == 76187


def test_spot_quads(quads):
    lab = quads.filter(
        (F.col("dataset") == "labels")
        & (F.col("subject") == "http://dbpedia.org/resource/Berlin")
    ).first()
    assert lab.value == "Berlin" and lab.language == "en"
    # CJK subject IRI keeps raw unicode (IRI, not URI)
    ja = quads.filter((F.col("dataset") == "labels") & (F.col("language") == "ja")).first()
    assert ja.subject == "http://ja.dbpedia.org/resource/ベルリン" and ja.value == "ベルリン"
    # RTL: localized 'ملف:' file links classify via the i18n alias table
    assert (
        quads.filter(
            (F.col("dataset") == "images")
            & F.col("subject").startswith("http://ar.dbpedia.org")
        ).count()
        == 47
    )
    assert (
        quads.filter(
            (F.col("dataset") == "article_categories")
            & (F.col("subject") == "http://dbpedia.org/resource/IBM")
        ).count()
        == 22
    )
    assert (
        quads.filter(
            (F.col("dataset") == "infobox_properties")
            & (F.col("subject") == "http://dbpedia.org/resource/Angela_Merkel")
        ).count()
        == 167
    )


def test_localized_namespace_aliases():
    from kgforge.namespaces import CATEGORY, FILE, TEMPLATE, split_namespace

    assert split_namespace("تصنيف:برلين", "ar") == (CATEGORY, "برلين")
    assert split_namespace("カテゴリ:ベルリン", "ja") == (CATEGORY, "ベルリン")
    assert split_namespace("分类:柏林", "zh") == (CATEGORY, "柏林")
    assert split_namespace("Шаблон:Х", "ru") == (TEMPLATE, "Х")
    assert split_namespace("Datei:F.jpg", "de") == (FILE, "F.jpg")
    # unknown language falls back to the global table
    assert split_namespace("Category:X", "xx-nope") == (CATEGORY, "X")
    # a colon title that is NOT a namespace stays MAIN
    from kgforge.namespaces import MAIN

    assert split_namespace("Star Trek: TNG", "en") == (MAIN, "Star Trek: TNG")


def test_same_page_fragment_links():
    from kgforge import wikitext

    p = wikitext.parse("See [[#History]] and [[#Economy|the economy]].", "en")
    assert p.errors == 0
    assert p.links == []  # fragment links record no page link
    assert "#History" in p.plain and "the economy" in p.plain


def test_standalone_groups_over_real_pages(parsed):
    """The non-fused extractor groups over the same 158 real pages —
    mapping engine, NIF (per-occurrence offsets on real text), media,
    ImageExtractorNew, CitedFacts. Counts pinned like golden files."""
    from kgforge.mapping_engine import cited_facts_quads, mapping_quads
    from kgforge.media import commons_resource_quads, image_meta_quads, media_quads
    from kgforge.nif import nif_quads
    from pyspark.sql import functions as F

    mq = {r["dataset"]: r["count"]
          for r in mapping_quads(parsed).groupBy("dataset").count().collect()}
    assert mq == {
        "citation_data": 2004,
        "citation_links": 202,
        "instance_types": 9,
        "instance_types_transitive": 25,
        "mappingbased_literals": 6,
        "mappingbased_objects_uncleaned": 12,
        # de {{Personendaten}} on de:Arthur Schopenhauer (r5 German key set):
        # name/surname/givenName/type/description/birth+death dates/places
        "persondata": 9,
    }
    pd_row = mapping_quads(parsed).filter(
        (F.col("dataset") == "persondata") & F.col("predicate").endswith("birthDate")
    ).first()
    assert pd_row.value == "1788-02-22"  # Schopenhauer, from German Persondata
    nq = {r["dataset"]: r["count"]
          for r in nif_quads(parsed).groupBy("dataset").count().collect()}
    assert nq == {
        "nif_context": 775,
        "nif_text_links": 151182,
        "nif_page_structure": 13295,
    }
    assert image_meta_quads(parsed).count() == 14248
    assert media_quads(parsed).count() == 2052
    assert commons_resource_quads(parsed).count() == 20

    cf = cited_facts_quads(parsed, run_extractors(parsed, ["infobox"])).persist()
    assert cf.count() == 120
    merkel = cf.filter(
        (F.col("subject") == "http://dbpedia.org/resource/Angela_Merkel")
        & F.col("predicate").endswith("almaMater")
    ).first()
    assert merkel is not None and "csmonitor.com" in merkel.context
    cf.unpersist()


def test_full_pipeline_over_real_pages(spark, tmp_path):
    """The WHOLE pipeline (parse → extract → mapping → redirect closure →
    type consistency → entity linking → dedup → partitioned graph) over the
    real corpus, with checkpoint/resume."""
    from kgforge.pipeline import run_pipeline

    corpus = spark.read.parquet(FIXTURE)
    wd = str(tmp_path / "wd")
    graph = run_pipeline(spark, corpus, workdir=wd).persist()
    assert graph.count() == 106507
    assert graph.select("dataset").distinct().count() == 38
    # the two real redirect pages resolve transitively
    tr = {(r.subject.rsplit("/", 1)[-1], r.value.rsplit("/", 1)[-1])
          for r in graph.filter(F.col("dataset") == "transitive_redirects").collect()}
    assert tr == {
        ("%60Abdu'l-Bahá", "ʻAbdu'l-Bahá"),
        ("The_Amazing_Spider-Man_(2012_film)", "The_Amazing_Spider-Man_(film)"),
    }
    # entity linking fires on real anchor surface forms
    assert graph.filter(F.col("dataset") == "entity_links").count() == 9283
    graph.unpersist()


def test_real_mappings_over_real_pages(parsed):
    """The REAL community mapping rules (fixtures/mappings_dump — the
    mappings-wiki exports the reference consumes), dispatched PER LANGUAGE,
    over the real pages: the reference's production configuration."""
    from kgforge.mapping_engine import mapping_quads
    from kgforge.mappings_loader import dump_mappings_by_lang

    langs = {r.lang for r in parsed.select("lang").distinct().collect()}
    mq = mapping_quads(parsed, mappings=dump_mappings_by_lang(sorted(langs))).persist()
    counts = {r["dataset"]: r["count"] for r in mq.groupBy("dataset").count().collect()}
    assert counts["instance_types"] == 76
    assert counts["mappingbased_literals"] == 1112
    types = {(r.language, r.subject.rsplit("/", 1)[-1]): r.value.rsplit("/", 1)[-1]
             for r in mq.filter(F.col("dataset") == "instance_types").collect()}
    # en rules fire on en pages...
    assert types[("en", "Angela_Merkel")] == "Politician"
    assert types[("en", "Arthur_Schopenhauer")] == "Philosopher"
    assert types[("en", "Mini_(Mark_I)")] == "Automobile"
    assert types[("en", "Ranma_½")] == "Manga"
    assert types[("en", "IBM")] == "Company"  # conditional otherwise-branch
    # ...and each language's own rules fire on its pages
    assert types[("cs", "Berlín")] == "City"
    assert types[("de", "Berlin")] == "Place"
    assert types[("bg", "Берлин")] == "PopulatedPlace"
    # intermediate nodes mint deterministically from real data
    assert types[("en", "Angela_Merkel__Tenure__1")] == "Tenure"
    mq.unpersist()


def test_production_config_pipeline(spark, tmp_path):
    """The PRODUCTION configuration end-to-end: real pages × the real
    community mapping rules (51 languages) × the full harvested DBpedia
    ontology — the closest this sandbox gets to the reference's actual
    deployment."""
    from kgforge.mappings_loader import dump_mappings_by_lang
    from kgforge.ontology import full_ontology
    from kgforge.pipeline import run_pipeline

    corpus = spark.read.parquet(FIXTURE)
    graph = run_pipeline(
        spark, corpus, workdir=str(tmp_path / "wd"),
        mappings=dump_mappings_by_lang(), ontology=full_ontology(),
    ).persist()
    assert graph.count() == 107907
    assert graph.filter(F.col("dataset") == "instance_types").count() == 76
    assert graph.filter(F.col("dataset") == "instance_types_transitive").count() == 168
    merkel = sorted(
        r.value.rsplit("/", 1)[-1]
        for r in graph.filter(
            F.col("subject").endswith("Angela_Merkel")
            & F.col("dataset").isin("instance_types", "instance_types_transitive")
        ).collect()
    )
    # full ontology closure: Politician → Person → Agent → owl:Thing
    assert merkel == ["Agent", "Person", "Politician", "owl#Thing"]
    graph.unpersist()
