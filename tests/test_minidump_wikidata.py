"""Real-Wikidata parity: the reference's wikidata minidump through the
wikidata extractor group.

The wikidata minidump (``dump/src/test/resources/minidumps/wikidata/
wiki.xml.bz2``) carries 47 REAL entity-JSON pages — 13 wikibase-items,
5 wikibase-properties, 29 wikibase-lexemes. Until round 5 the wikidata
extractors only ever saw the engine's synthetic entity JSON;
``tests/fixtures/minidump/wikidata_corpus.parquet`` (built offline by
``tools/minidump_to_corpus.py --wikidata``, checked in, no network) pins
their behavior over the real documents.

The lexeme golden quads below are copied verbatim from the reference's own
expected-output documentation (WikidataLexemeExtractor.scala:17-50 — the
L536 'book' example).

Counts are pinned exactly: update them WITH a deliberate extractor change,
like golden files.
"""

import pytest
from pyspark.sql import functions as F

from kgforge import wikidata as W

FIXTURE = "tests/fixtures/minidump/wikidata_corpus.parquet"

EXPECTED_DATASETS = {
    "wikidata_aliases": 2,
    "wikidata_descriptions": 66,
    "wikidata_geo_coordinates": 3,
    "wikidata_instance_types": 1,
    "wikidata_labels": 15,
    "wikidata_lexeme": 2163,
    "wikidata_mappingbased_literals": 8,
    "wikidata_mappingbased_objects": 10,
    "wikidata_namespace_same_as": 13,
    "wikidata_property": 166,
    "wikidata_raw": 154,
    "wikidata_raw_reified": 616,
    "wikidata_raw_reified_qualifiers": 52,
    # r6: 398 → 389 after gating wikidata_reference_quads to Q/P ids (the
    # reference routes only Main + WikidataProperty namespaces through the
    # reference extractor; the 9 dropped quads came from partially-parsed
    # L-pages in this mixed dump — ADVICE r5 item 2)
    "wikidata_reference": 389,
    "wikidata_same_as": 2,
}

# WikidataLexemeExtractor.scala:17-50 expected-output documentation, verbatim
L536_GOLDEN = [
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://www.w3.org/2002/07/owl#sameAs",
     "http://www.wikidata.org/entity/L536"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/ns/lemon/ontolex#LexicalEntry"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://wikiba.se/ontology#Lexeme"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://www.w3.org/ns/lemon/ontolex#lexicalForm",
     "http://lex.dbpedia.org/wikidata/L536-F1"),
    ("http://lex.dbpedia.org/wikidata/L536-F1",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/ns/lemon/ontolex#Form"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://www.w3.org/ns/lemon/ontolex#sense",
     "http://lex.dbpedia.org/wikidata/L536-S1"),
    ("http://lex.dbpedia.org/wikidata/L536-S1",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://www.w3.org/ns/lemon/ontolex#LexicalSense"),
    ("http://lex.dbpedia.org/resource/book",
     "http://lex.dbpedia.org/property/lemma",
     "http://lex.dbpedia.org/wikidata/L536"),
    ("http://lex.dbpedia.org/resource/book",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://lex.dbpedia.org/property/lexicalcategory",
     "http://lex.dbpedia.org/noun"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://dbpedia.org/ontology/language",
     "http://lex.dbpedia.org/English"),
    ("http://lex.dbpedia.org/wikidata/L536",
     "http://lex.dbpedia.org/property/P5402",
     "http://www.wikidata.org/entity/L16168"),
    ("http://lex.dbpedia.org/wikidata/L536-F1",
     "http://www.w3.org/2002/07/owl#sameAs",
     "http://www.wikidata.org/entity/L536-F1"),
    ("http://lex.dbpedia.org/resource/book",
     "http://lex.dbpedia.org/property/form",
     "http://lex.dbpedia.org/wikidata/L536-F1"),
    ("http://lex.dbpedia.org/wikidata/L536-F1",
     "http://lex.dbpedia.org/property/grammaticalFeature",
     "http://www.wikidata.org/entity/Q110786"),
    ("http://lex.dbpedia.org/wikidata/L536-F1",
     "http://lex.dbpedia.org/property/P898",
     "/bʊk/"),
    ("http://lex.dbpedia.org/resource/document",
     "http://lex.dbpedia.org/property/lexicalSense",
     "http://lex.dbpedia.org/wikidata/L536-S1"),
]


@pytest.fixture(scope="module")
def wd_quads(spark):
    allq = W.wikidata_all_quads(spark.read.parquet(FIXTURE)).persist()
    allq.count()
    yield allq
    allq.unpersist()


def test_corpus_shape(spark):
    df = spark.read.parquet(FIXTURE)
    assert df.count() == 47
    kinds = {
        r["k"]: r["n"]
        for r in df.select(
            F.substring(F.element_at(F.split("path", "/"), -1), 1, 1).alias("k")
        ).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert kinds == {"L": 29, "Q": 13, "P": 5}


def test_dataset_counts(wd_quads):
    got = {
        r["dataset"]: r["n"]
        for r in wd_quads.groupBy("dataset").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == EXPECTED_DATASETS


def test_lexeme_l536_reference_docstring_goldens(wd_quads):
    subjects = sorted({g[0] for g in L536_GOLDEN})
    got = {
        (r.subject, r.predicate, r.value)
        for r in wd_quads.filter(F.col("subject").isin(subjects)).collect()
    }
    missing = [g for g in L536_GOLDEN if g not in got]
    assert not missing, f"missing reference-documented quads: {missing}"


def test_property_page_terms_and_statements(wd_quads):
    p = wd_quads.filter(
        (F.col("dataset") == "wikidata_property")
        & (F.col("subject") == "http://wikidata.dbpedia.org/resource/P7531")
    ).collect()
    labels = {
        (r.language, r.value) for r in p
        if r.predicate == "http://www.w3.org/2000/01/rdf-schema#label"
    }
    assert ("en", "MEA Indian Mission ID") in labels
    # real property statements carry canonical wd-entity predicates
    assert all(
        r.predicate.startswith("http://www.wikidata.org/entity/P")
        for r in p
        if r.predicate.startswith("http://www.wikidata.org/entity/")
    )
    stmt_preds = {r.predicate for r in p}
    assert "http://www.wikidata.org/entity/P31" in stmt_preds


def test_reference_statement_uris(wd_quads):
    refs = wd_quads.filter(F.col("dataset") == "wikidata_reference").collect()
    assert len(refs) == EXPECTED_DATASETS["wikidata_reference"]
    # every statement URI embeds its page subject and the mainsnak property
    assert all("_P" in r.subject for r in refs)
    # property-proposal URLs surface as datatype-less IRI values
    proposal = [r for r in refs if "Property_proposal/MEA" in r.value]
    assert proposal and all(r.datatype is None for r in proposal)


def test_namespace_same_as_items_only(wd_quads):
    ns = wd_quads.filter(F.col("dataset") == "wikidata_namespace_same_as").collect()
    assert len(ns) == 13  # exactly the item pages; P/L pages excluded
    for r in ns:
        qid = r.subject.rsplit("/", 1)[-1]
        assert qid.startswith("Q")
        assert r.value == f"http://www.wikidata.org/entity/{qid}"
