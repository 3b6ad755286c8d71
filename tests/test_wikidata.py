"""Wikidata-JSON extractor core (mappings/wikidata group): labels,
descriptions, aliases, sitelink sameAs, ALL mainsnak families (polymorphic
datavalue parsed as raw-JSON string → per-type dispatch), snak-drop stats,
R2R mapping pass — pure from_json/explode/get_json_object plan."""

import json

import pytest

from pyspark.sql import functions as F

from kgforge.namespaces import wiki_encode
from kgforge.wikidata import (
    WIKIDATA_ALIASES,
    WIKIDATA_DESCRIPTIONS,
    WIKIDATA_LABELS,
    WIKIDATA_R2R_GEO,
    WIKIDATA_R2R_LITERALS,
    WIKIDATA_R2R_OBJECTS,
    WIKIDATA_R2R_TYPES,
    RDF_OBJECT,
    RDF_PREDICATE,
    RDF_STATEMENT,
    RDF_SUBJECT,
    WIKIDATA_RAW,
    WIKIDATA_RAW_QUALIFIERS,
    WIKIDATA_RAW_REIFIED,
    WIKIDATA_SAME_AS,
    wiki_encode_expr,
    wikidata_quads,
    wikidata_r2r_quads,
    wikidata_reified_quads,
    wikidata_snak_stats,
)

XSD = "http://www.w3.org/2001/XMLSchema#"


def _snak(vtype, value):
    return {"mainsnak": {"snaktype": "value",
                         "datavalue": {"value": value, "type": vtype}}}


# claims deliberately BEFORE sitelinks: a polymorphic snak must not truncate
# or null anything that follows it in document order (ADVICE r2 — the old
# fixed-struct schema depended on spark.sql.json.enablePartialResults).
ENTITY = {
    "id": "Q42",
    "labels": {
        "en": {"language": "en", "value": "Douglas Adams"},
        "de": {"language": "de", "value": "Douglas Adams"},
    },
    "descriptions": {"en": {"language": "en", "value": "English writer"}},
    "aliases": {"en": [{"language": "en", "value": "DNA"}]},
    "claims": {
        "P31": [_snak("wikibase-entityid", {"entity-type": "item", "id": "Q5"})],
        "P18": [_snak("string", "Douglas adams portrait.jpg")],
        "P569": [_snak("time", {"time": "+1952-03-11T00:00:00Z", "precision": 11,
                                "calendarmodel": "http://www.wikidata.org/entity/Q1985727"})],
        "P571": [_snak("time", {"time": "+1979-00-00T00:00:00Z", "precision": 9})],
        "P580": [_snak("time", {"time": "+2001-05-00T00:00:00Z", "precision": 10})],
        # qualifiers: point-in-time (value) + a somevalue qualifier (dropped)
        "P1082": [{**_snak("quantity", {"amount": "+42", "unit": "1"}),
                   "qualifiers": {
                       "P585": [{"snaktype": "value", "property": "P585",
                                 "datavalue": {"value": {"time": "+2001-00-00T00:00:00Z",
                                                         "precision": 9},
                                               "type": "time"}}],
                       "P459": [{"snaktype": "somevalue"}]}}],
        "P1448": [_snak("monolingualtext", {"text": "The Hitchhiker", "language": "en"})],
        "P625": [_snak("globecoordinate", {"latitude": 52, "longitude": -1})],
        "P856": [_snak("string", "http://douglasadams.com")],
        # dropped: somevalue snak + unknown datavalue type
        "P570": [{"mainsnak": {"snaktype": "somevalue"}}],
        "P9999": [_snak("weirdtype", {"x": 1})],
    },
    "sitelinks": {
        "enwiki": {"site": "enwiki", "title": "Douglas Adams"},
        "dewiki": {"site": "dewiki", "title": "Douglas Adams"},
        "commonswiki": {"site": "commonswiki", "title": "Douglas Adams"},
        "specieswiki": {"site": "specieswiki", "title": "Douglas Adams"},
    },
}

SUBJ = "http://wikidata.dbpedia.org/resource/Q42"
WDP = "http://www.wikidata.org/prop/direct/"


def _df(spark, entities):
    rows = [("r", f"wd/{i}.json", "c", "wikidata", json.dumps(e))
            for i, e in enumerate(entities)]
    rows.append(("r", "wd/garbage.json", "c", "wikidata", "not json at all"))
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_wikidata_terms_and_sitelinks(spark):
    quads = wikidata_quads(_df(spark, [ENTITY]))
    got = {(r.dataset, r.language, r.predicate, r.value) for r in quads.collect()}
    assert (WIKIDATA_LABELS, "en", "http://www.w3.org/2000/01/rdf-schema#label",
            "Douglas Adams") in got
    assert sum(1 for d, *_ in got if d == WIKIDATA_LABELS) == 2
    assert (WIKIDATA_DESCRIPTIONS, "en", "http://dbpedia.org/ontology/description",
            "English writer") in got
    assert (WIKIDATA_ALIASES, "en", "http://www.w3.org/2004/02/skos/core#altLabel", "DNA") in got
    assert (WIKIDATA_SAME_AS, "en", "http://www.w3.org/2002/07/owl#sameAs",
            "http://dbpedia.org/resource/Douglas_Adams") in got
    assert (WIKIDATA_SAME_AS, "de", "http://www.w3.org/2002/07/owl#sameAs",
            "http://de.dbpedia.org/resource/Douglas_Adams") in got
    # commons/species are not language Wikipedias — filtered (ADVICE r2)
    assert not any("commons" in v or "species" in v for *_x, v in got)
    subjects = {r.subject for r in quads.collect() if r.dataset == WIKIDATA_LABELS}
    assert subjects == {SUBJ}


def test_wikidata_all_snak_families(spark):
    quads = wikidata_quads(_df(spark, [ENTITY]))
    raw = {(r.predicate, r.value, r.datatype, r.language)
           for r in quads.collect() if r.dataset == WIKIDATA_RAW}
    assert (WDP + "P31", "http://wikidata.dbpedia.org/resource/Q5", None, "wikidata") in raw
    assert (WDP + "P18", "Douglas adams portrait.jpg", XSD + "string", "wikidata") in raw
    assert (WDP + "P569", "1952-03-11", XSD + "date", "wikidata") in raw
    assert (WDP + "P571", "1979", XSD + "gYear", "wikidata") in raw
    assert (WDP + "P580", "2001-05", XSD + "gYearMonth", "wikidata") in raw
    assert (WDP + "P1082", "42", XSD + "decimal", "wikidata") in raw
    assert (WDP + "P1448", "The Hitchhiker",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en") in raw
    assert (WDP + "P625", "52 -1", XSD + "string", "wikidata") in raw
    assert (WDP + "P856", "http://douglasadams.com", XSD + "string", "wikidata") in raw
    # somevalue + unknown-type snaks dropped (counted by wikidata_snak_stats)
    assert not any(p.endswith("P570") or p.endswith("P9999") for p, *_ in raw)


def test_wikidata_snak_stats_counts_drops(spark):
    stats = {(r.snaktype, r.vtype, r.handled): r.n_snaks
             for r in wikidata_snak_stats(_df(spark, [ENTITY])).collect()}
    assert stats[("somevalue", None, False)] == 1
    assert stats[("value", "weirdtype", False)] == 1
    assert stats[("value", "time", True)] == 3
    assert sum(n for (_s, _v, h), n in stats.items() if h) == 9


def test_wikidata_r2r(spark):
    quads = wikidata_r2r_quads(_df(spark, [ENTITY]))
    got = {(r.dataset, r.predicate, r.value, r.datatype) for r in quads.collect()}
    assert (WIKIDATA_R2R_TYPES, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://dbpedia.org/ontology/Person", None) in got
    assert (WIKIDATA_R2R_LITERALS, "http://dbpedia.org/ontology/birthDate",
            "1952-03-11", XSD + "date") in got
    assert (WIKIDATA_R2R_LITERALS, "http://dbpedia.org/ontology/foundingDate",
            "1979", XSD + "gYear") in got
    assert (WIKIDATA_R2R_LITERALS, "http://dbpedia.org/ontology/populationTotal",
            "42", XSD + "decimal") in got
    assert (WIKIDATA_R2R_LITERALS, "http://xmlns.com/foaf/0.1/name",
            "The Hitchhiker", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString") in got
    assert (WIKIDATA_R2R_OBJECTS, "http://xmlns.com/foaf/0.1/homepage",
            "http://douglasadams.com", None) in got
    assert (WIKIDATA_R2R_OBJECTS, "http://xmlns.com/foaf/0.1/depiction",
            "http://commons.wikimedia.org/wiki/Special:FilePath/Douglas_adams_portrait.jpg",
            None) in got
    assert (WIKIDATA_R2R_GEO, "http://www.w3.org/2003/01/geo/wgs84_pos#lat",
            "52", XSD + "float") in got
    assert (WIKIDATA_R2R_GEO, "http://www.georss.org/georss/point",
            "52 -1", XSD + "string") in got
    # unmapped P31 class → no type quad
    e2 = dict(ENTITY, id="Q43",
              claims={"P31": [_snak("wikibase-entityid", {"id": "Q99999"})]})
    q2 = wikidata_r2r_quads(_df(spark, [e2]))
    assert q2.filter((F.col("dataset") == WIKIDATA_R2R_TYPES)
                     & (F.col("subject") == SUBJ.replace("Q42", "Q43"))).count() == 0


def test_wiki_encode_expr_matches_python(spark):
    titles = ["Douglas Adams", "a  b__c", "per%cent", 'quo"te', "hash#tag",
              "br[ack]ets", "pipe|char", "back\\slash", "ca^ret", "ti~lde",
              "q?mark", "<angle>", "{curly}", "plain", "lower first",
              "Café au lait", "東京タワー", "Zürich (city)"]
    df = spark.createDataFrame([(t,) for t in titles], "t string")
    got = df.select(wiki_encode_expr(F.col("t")).alias("e")).collect()
    for t, row in zip(titles, got):
        assert row.e == wiki_encode(t), t


def test_wikidata_plan_is_jvm_only(spark):
    df = _df(spark, [ENTITY])
    for q in (wikidata_quads(df), wikidata_r2r_quads(df), wikidata_snak_stats(df)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_wikidata_language_links_and_chain(spark):
    """WikidataSameAsToLanguageLinks: sitelinks of one entity expand to
    direct owl:sameAs between language editions + to the wikidata entity;
    cross_language_same_as chains in bidirectional interlanguage links."""
    import json as _json

    from kgforge.wikidata import cross_language_same_as, wikidata_language_links

    e = {
        "id": "Q1",
        "labels": {"en": {"language": "en", "value": "Thing"}},
        "claims": {},
        "sitelinks": {
            "enwiki": {"site": "enwiki", "title": "Thing"},
            "dewiki": {"site": "dewiki", "title": "Ding"},
            "frwiki": {"site": "frwiki", "title": "Chose"},
        },
    }
    rows = [("r", "wd/Q1.json", "c", "wikidata", _json.dumps(e))]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    wq = wikidata_quads(df)
    links = {(r.subject, r.value) for r in wikidata_language_links(wq).collect()}
    en = "http://dbpedia.org/resource/Thing"
    de = "http://de.dbpedia.org/resource/Ding"
    fr = "http://fr.dbpedia.org/resource/Chose"
    wd = "http://wikidata.dbpedia.org/resource/Q1"
    # 3 editions × 2 others + 3 → 9 links
    assert links == {(en, de), (en, fr), (de, en), (de, fr), (fr, en), (fr, de),
                     (en, wd), (de, wd), (fr, wd)}
    # chain with a bidirectional interlanguage pair (and one one-sided link
    # that must NOT survive)
    ill_rows = [
        ("en", "interlanguage_links", en, "p", "http://it.dbpedia.org/resource/Cosa", None, None),
        ("it", "interlanguage_links", "http://it.dbpedia.org/resource/Cosa", "p", en, None, None),
        ("en", "interlanguage_links", en, "p", "http://es.dbpedia.org/resource/Huh", None, None),
    ]
    ill = spark.createDataFrame(
        ill_rows,
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string",
    )
    chained = {(r.subject, r.value) for r in cross_language_same_as(ill, wq).collect()}
    assert (en, "http://it.dbpedia.org/resource/Cosa") in chained
    assert ("http://it.dbpedia.org/resource/Cosa", en) in chained
    assert not any(v.endswith("/Huh") for _s, v in chained)
    assert (en, de) in chained and (en, wd) in chained


def test_r2r_rank_selection(spark):
    """checkRank (WikidataR2RExtractor.scala:149-160): R2R uses PREFERRED
    statements when any exist, else NORMAL — never deprecated. The raw
    extractor keeps every rank (like the reference's raw dataset)."""
    e = {
        "id": "Q7",
        "labels": {"en": {"language": "en", "value": "x"}},
        "claims": {
            "P1082": [
                {"mainsnak": _snak("quantity", {"amount": "+100", "unit": "1"})["mainsnak"],
                 "rank": "deprecated"},
                {"mainsnak": _snak("quantity", {"amount": "+200", "unit": "1"})["mainsnak"],
                 "rank": "normal"},
                {"mainsnak": _snak("quantity", {"amount": "+300", "unit": "1"})["mainsnak"],
                 "rank": "preferred"},
            ],
            "P569": [
                {"mainsnak": _snak("time", {"time": "+1900-01-02T00:00:00Z",
                                            "precision": 11})["mainsnak"],
                 "rank": "deprecated"},
                {"mainsnak": _snak("time", {"time": "+1910-01-02T00:00:00Z",
                                            "precision": 11})["mainsnak"],
                 "rank": "normal"},
            ],
        },
        "sitelinks": {},
    }
    r2r = {(r.predicate, r.value)
           for r in wikidata_r2r_quads(_df(spark, [e])).collect()}
    # preferred wins over normal; deprecated never
    assert ("http://dbpedia.org/ontology/populationTotal", "300") in r2r
    assert not any(v in ("100", "200") for _p, v in r2r)
    # no preferred -> normal; deprecated still excluded
    assert ("http://dbpedia.org/ontology/birthDate", "1910-01-02") in r2r
    assert not any(v == "1900-01-02" for _p, v in r2r)
    raw = {r.value for r in wikidata_quads(_df(spark, [e])).collect()
           if r.dataset == WIKIDATA_RAW}
    assert {"100", "200", "300", "1900-01-02", "1910-01-02"} <= raw


def test_time_snaks_bc_and_long_years(spark):
    """Review finding r3: BC ('-0500-...') and 5-digit years must not be
    truncated by fixed-width slicing."""
    e = {
        "id": "Q9",
        "labels": {"en": {"language": "en", "value": "x"}},
        "claims": {
            "P569": [_snak("time", {"time": "-0500-03-11T00:00:00Z", "precision": 11})],
            "P571": [_snak("time", {"time": "-0500-00-00T00:00:00Z", "precision": 9})],
            "P580": [_snak("time", {"time": "+12000-05-00T00:00:00Z", "precision": 10})],
            "P582": [_snak("time", {"time": "garbage", "precision": 11})],
        },
        "sitelinks": {},
    }
    raw = {(r.predicate, r.value, r.datatype)
           for r in wikidata_quads(_df(spark, [e])).collect() if r.dataset == WIKIDATA_RAW}
    assert (WDP + "P569", "-0500-03-11", XSD + "date") in raw
    assert (WDP + "P571", "-0500", XSD + "gYear") in raw
    assert (WDP + "P580", "+12000-05".replace("+", ""), XSD + "gYearMonth") in raw
    # unparseable time yields NO quad (not a corrupted literal)
    assert not any(p.endswith("P582") for p, *_ in raw)


def test_sitelink_multi_underscore_langs(spark):
    """Review finding r3: zh_min_nanwiki-style dbnames map to hyphenated
    chapter hostnames instead of being dropped."""
    e = {
        "id": "Q10",
        "labels": {"en": {"language": "en", "value": "x"}},
        "claims": {},
        "sitelinks": {
            "zh_min_nanwiki": {"site": "zh_min_nanwiki", "title": "Thing"},
            "nds_nlwiki": {"site": "nds_nlwiki", "title": "Ding"},
        },
    }
    got = {(r.language, r.value) for r in wikidata_quads(_df(spark, [e])).collect()
           if r.dataset == WIKIDATA_SAME_AS}
    assert got == {
        ("zh-min-nan", "http://zh-min-nan.dbpedia.org/resource/Thing"),
        ("nds-nl", "http://nds-nl.dbpedia.org/resource/Ding"),
    }


def test_r2r_empty_rules_returns_empty(spark):
    from kgforge.wikidata import wikidata_r2r_quads

    assert wikidata_r2r_quads(_df(spark, [ENTITY]), rules=[]).count() == 0


def test_wikidata_reified_statements_and_qualifiers(spark):
    """WikidataRawExtractor reification (:17-30) + qualifier snaks (:95-120):
    statement node per value mainsnak, rdf:subject/predicate/object +
    qualifier quads on the same node; entity values use the Q-id, other
    values hash the raw datavalue text (WikidataUtil.getStatementUri)."""
    import hashlib

    rows = wikidata_reified_quads(_df(spark, [ENTITY])).collect()
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    reif = {(r.subject, r.predicate, r.value, r.datatype)
            for r in rows if r.dataset == WIKIDATA_RAW_REIFIED}
    stmt31 = SUBJ + "_P31_Q5"
    assert (stmt31, RDF_TYPE, RDF_STATEMENT, None) in reif
    assert (stmt31, RDF_SUBJECT, SUBJ, None) in reif
    assert (stmt31, RDF_PREDICATE, WDP + "P31", None) in reif
    assert (stmt31, RDF_OBJECT, "http://wikidata.dbpedia.org/resource/Q5", None) in reif
    # non-entity values: V + md5(raw JSON text)[:5] — Spark re-serializes
    # the captured datavalue COMPACTLY (whitespace-canonical, key order
    # preserved), so the hash input is the compact form
    raw = json.dumps({"amount": "+42", "unit": "1"}, separators=(",", ":"))
    stmt1082 = f"{SUBJ}_P1082_V{hashlib.md5(raw.encode()).hexdigest()[:5]}"
    assert (stmt1082, RDF_OBJECT, "42", XSD + "decimal") in reif
    # 4 reified quads per handled value-mainsnak (9 in the fixture);
    # somevalue/unknown-type mainsnaks mint nothing
    assert sum(1 for r in rows if r.dataset == WIKIDATA_RAW_REIFIED) == 4 * 9
    quals = {(r.subject, r.predicate, r.value, r.datatype)
             for r in rows if r.dataset == WIKIDATA_RAW_QUALIFIERS}
    # the point-in-time qualifier rides its statement node; the somevalue
    # qualifier is dropped
    assert quals == {(stmt1082, WDP + "P585", "2001", XSD + "gYear")}


def test_wikidata_reified_plan_jvm_only(spark):
    plan = wikidata_reified_quads(
        _df(spark, [ENTITY])
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_r2r_rules_load_from_fixture(tmp_path, spark):
    """R2R rules are DATA (fixtures/wikidata_r2r.json): the default table is
    wide (~60 properties incl. uri_template external-id patterns), and
    adding a rule is a fixture edit only — no code change."""
    import json as _json

    from kgforge.wikidata import default_r2r_rules, load_r2r_rules

    rules = default_r2r_rules()
    assert len(rules) >= 50
    by_kind = {r["kind"] for r in rules}
    assert by_kind >= {"type", "literal", "object", "iri", "commons_file",
                       "geo", "uri_template"}
    # prefixes expand; the type rule inherits the shared Q->class map
    t = next(r for r in rules if r["kind"] == "type")
    assert t["class_map"]["Q5"] == "http://dbpedia.org/ontology/Person"
    assert len(t["class_map"]) >= 20

    # uri_template: external id substituted into the URI pattern
    ent = {"id": "Q77", "claims": {
        "P214": [_snak("string", "113230702")],
        "P19": [_snak("wikibase-entityid", {"entity-type": "item", "id": "Q64"})],
    }}
    got = {(r.predicate, r.value) for r in
           wikidata_r2r_quads(_df(spark, [ent])).collect()}
    assert ("http://www.w3.org/2000/01/rdf-schema#seeAlso",
            "http://viaf.org/viaf/113230702") in got
    assert ("http://dbpedia.org/ontology/birthPlace",
            "http://wikidata.dbpedia.org/resource/Q64") in got

    # ZERO-CODE rule addition: a fixture-only edit activates a new property
    fx = {"classes": {"Q5": "dbo:Person"},
          "rules": [{"prop": "P9000", "kind": "literal",
                     "predicate": "dbo:customField"}]}
    p = tmp_path / "rules.json"
    p.write_text(_json.dumps(fx))
    ent2 = {"id": "Q88", "claims": {"P9000": [_snak("string", "custom value")]}}
    got2 = {(r.predicate, r.value) for r in
            wikidata_r2r_quads(_df(spark, [ent2]), rules=load_r2r_rules(str(p))).collect()}
    assert got2 == {("http://dbpedia.org/ontology/customField", "custom value")}


# ---------------------------------------------------------------------------
# WikidataSubClassOf (wikidata_subclass_mappings)
# ---------------------------------------------------------------------------

def _p279(spark, edges, extra_rows=()):
    base = "http://wikidata.dbpedia.org/resource/Q"
    rows = [
        (f"{base}{s}", "http://www.wikidata.org/entity/P279", f"{base}{o}")
        for s, o in edges
    ] + list(extra_rows)
    return spark.createDataFrame(rows, "subject string, predicate string, value string")


OWL_THING_IRI = "http://www.w3.org/2002/07/owl#Thing"


@pytest.mark.parametrize("cutoff", [None, 0])  # driver path / distributed path
def test_subclass_thing_propagation_and_exclusions(spark, cutoff):
    from kgforge.wikidata import wikidata_subclass_mappings

    quads = _p279(
        spark,
        [(2, 1), (3, 1), (4, 2), (5, 2), (6, 3), (7, 3), (7, 2)],
        extra_rows=[
            ("http://x/NotAQid", "http://www.wikidata.org/entity/P279", "http://x/Q9"),
            ("http://wikidata.dbpedia.org/resource/Q4", "http://www.wikidata.org/entity/P31",
             "http://wikidata.dbpedia.org/resource/Q1"),
        ],
    )
    got = {
        r["qid"]: r["value"]
        for r in wikidata_subclass_mappings(
            quads,
            seed_map={1: OWL_THING_IRI, 2: "Agent"},
            top_level_classes={"Agent"},
            driver_max_edges=cutoff,
        ).collect()
    }
    # 3, 6 inherit owl:Thing -> excluded; 7 reaches Thing (phase 0) before
    # Agent (phase 1) -> excluded; seeds 1, 2 excluded; non-P279 rows ignored
    assert got == {"Q4": "Agent", "Q5": "Agent"}


@pytest.mark.parametrize("cutoff", [None, 0])
def test_subclass_phase_priority_top_level_beats_deep(spark, cutoff):
    from kgforge.wikidata import wikidata_subclass_mappings

    quads = _p279(spark, [(7, 3), (7, 2), (8, 7)])
    got = {
        r["qid"]: r["value"]
        for r in wikidata_subclass_mappings(
            quads,
            seed_map={2: "Agent", 3: "Person"},
            top_level_classes={"Agent"},
            driver_max_edges=cutoff,
        ).collect()
    }
    # phase 1 (top-level Agent) beats phase 2 (Person) at equal hop,
    # and the label flows on to Q8
    assert got == {"Q7": "Agent", "Q8": "Agent"}


@pytest.mark.parametrize("cutoff", [None, 0])
def test_subclass_without_p279_edges_maps_nothing(spark, cutoff):
    """No subclass edge at all: on the distributed path the 2-hop table's
    size cap is 0, so the doubling step is skipped; both paths return an
    empty mapping."""
    from kgforge.wikidata import wikidata_subclass_mappings

    quads = _p279(spark, [], extra_rows=[
        ("http://wikidata.dbpedia.org/resource/Q4", "http://www.wikidata.org/entity/P31",
         "http://wikidata.dbpedia.org/resource/Q1"),
    ])
    got = wikidata_subclass_mappings(
        quads,
        seed_map={1: OWL_THING_IRI, 2: "Agent"},
        top_level_classes={"Agent"},
        driver_max_edges=cutoff,
    ).collect()
    assert got == []


def test_subclass_hop_then_name_tiebreak(spark):
    from kgforge.wikidata import wikidata_subclass_mappings

    # 9 is one hop from both same-phase seeds -> min class name wins;
    # 10 is 1 hop from Zebra, 2 hops from Apple -> nearer seed wins
    quads = _p279(spark, [(9, 2), (9, 3), (10, 3), (11, 9)])
    got = {
        r["qid"]: r["value"]
        for r in wikidata_subclass_mappings(
            quads, seed_map={2: "Apple", 3: "Zebra"}
        ).collect()
    }
    assert got == {"Q9": "Apple", "Q10": "Zebra", "Q11": "Apple"}


def test_subclass_cycles_terminate(spark):
    from kgforge.wikidata import wikidata_subclass_mappings

    quads = _p279(spark, [(8, 9), (9, 8), (9, 2)])
    got = {
        r["qid"]: r["value"]
        for r in wikidata_subclass_mappings(
            quads, seed_map={2: "Agent"}
        ).collect()
    }
    assert got == {"Q8": "Agent", "Q9": "Agent"}


def test_subclass_config_json(spark):
    from kgforge.wikidata import wikidata_subclass_config, wikidata_subclass_mappings

    quads = _p279(spark, [(4, 2), (5, 2)])
    js = wikidata_subclass_config(
        wikidata_subclass_mappings(quads, seed_map={2: "Agent"})
    )
    assert js == '{"Q4": "Agent", "Q5": "Agent"}'


def test_subclass_driver_and_distributed_paths_agree_on_random_dag(spark):
    """Exact-output parity between the hybrid's two execution paths on a
    400-node random multi-parent DAG (acyclic: every parent id < child id,
    like the P279-derived driver corpus)."""
    import random

    from kgforge.wikidata import wikidata_subclass_mappings

    rng = random.Random(7)
    edges = []
    for q in range(2, 400):
        edges.append((q, rng.randrange(1, q)))
        if rng.random() < 0.2:
            edges.append((q, rng.randrange(1, q)))
    quads = _p279(spark, edges)
    kw = dict(
        seed_map={1: OWL_THING_IRI, 3: "Agent", 17: "Person", 29: "Place"},
        top_level_classes={"Agent", "Place"},
    )
    driver = {
        (r["qid"], r["value"])
        for r in wikidata_subclass_mappings(quads, **kw).collect()
    }
    dist = {
        (r["qid"], r["value"])
        for r in wikidata_subclass_mappings(quads, driver_max_edges=0, **kw).collect()
    }
    assert driver == dist and len(driver) > 100


def test_full_r2r_table(spark):
    """The COMPLETE harvested R2R config (2,277 rules incl. the reference's
    2,179 external-id URI templates + 352 ontology equivalentClass pairs)
    compiles into the same one-branch-per-kind plan and maps real shapes."""
    from kgforge.wikidata import full_r2r_rules, wikidata_r2r_quads

    rules = full_r2r_rules()
    assert len(rules) >= 2200
    assert sum(1 for r in rules if r["kind"] == "uri_template") >= 2100
    doc = (
        '{"id":"Q42","claims":{'
        '"P434":[{"mainsnak":{"snaktype":"value","datavalue":{"value":"b10b","type":"string"}}}],'
        '"P31":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"entity-type":"item","id":"Q5"},"type":"wikibase-entityid"}}}],'
        '"P214":[{"mainsnak":{"snaktype":"value","datavalue":{"value":"1132","type":"string"}}}]}}'
    )
    df = spark.createDataFrame([(doc,)], "content string")
    got = {(r.predicate.rsplit("/", 1)[-1].rsplit("#", 1)[-1], r.value)
           for r in wikidata_r2r_quads(df, rules=rules).collect()}
    assert got == {
        ("type", "http://dbpedia.org/ontology/Person"),
        ("seeAlso", "http://musicbrainz.org/artist/b10b"),
        ("seeAlso", "http://viaf.org/viaf/1132"),
    }


def test_property_extractor_getvalue_dispatch(spark):
    """WikidataUtil.getValue/getDatatype edge semantics on a Property page
    (WikidataUtil.scala:61-107,273-354): century-precision time floors to
    its scale as gYear, dateTime for precision>=12, monolingualtext types
    xsd:string (not langString), URL strings emit datatype-less, quantity
    types xsd:float."""
    from kgforge.wikidata import wikidata_property_quads

    doc = (
        '{"id":"P99","claims":{'
        '"P1":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"time":"+1987-00-00T00:00:00Z","precision":7},"type":"time"}}}],'
        '"P2":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"time":"+2001-03-04T05:06:07Z","precision":14},"type":"time"}}}],'
        '"P3":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"text":"hi","language":"en"},"type":"monolingualtext"}}}],'
        '"P4":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '"https://x.example/y","type":"string"}}}],'
        '"P5":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"amount":"+7.5","unit":"1"},"type":"quantity"}}}]}}'
    )
    df = spark.createDataFrame([(doc,)], "content string")
    got = {
        r.predicate.rsplit("/", 1)[-1]: (r.value, r.datatype)
        for r in wikidata_property_quads(df).collect()
    }
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert got["P1"] == ("1900", xsd + "gYear")  # century floor
    assert got["P2"] == ("2001-03-04T00:00:00", xsd + "dateTime")
    assert got["P3"] == ("hi", xsd + "string")
    assert got["P4"] == ("https://x.example/y", None)
    assert got["P5"] == ("7.5", xsd + "float")


def test_parse_lexemes_keeps_every_l_page_of_a_mixed_corpus(spark):
    """The content prefilter ahead of the lexeme JSON parse keeps a lexeme
    whose id is written with a JSON escape; item pages still parse to
    nothing."""
    from kgforge.wikidata import parse_lexemes

    docs = [
        '{"type":"lexeme","id":"L7","lemmas":{}}',
        '{"type":"lexeme","id":"\\u004c8","lemmas":{}}',
        '{"type":"item","id":"Q1","labels":{"en":{"language":"en","value":"Lima"}}}',
    ]
    df = spark.createDataFrame([(d,) for d in docs], "content string")
    assert sorted(r.id for r in parse_lexemes(df).collect()) == ["L7", "L8"]


def test_lexeme_unmapped_category_falls_back_to_entity_iri(spark):
    """WikidataLexemeExtractor.scala:175-186: a lexicalCategory Q-id outside
    the harvested map renders as the canonical wd-entity IRI."""
    from kgforge.wikidata import wikidata_lexeme_quads

    doc = (
        '{"type":"lexeme","id":"L7","lemmas":{"en":{"language":"en","value":"zz top"}},'
        '"lexicalCategory":"Q99999999","language":"Q1860","claims":{},'
        '"forms":[],"senses":[]}'
    )
    df = spark.createDataFrame([(doc,)], "content string")
    got = {(r.predicate, r.value) for r in wikidata_lexeme_quads(df).collect()}
    assert (
        "http://lex.dbpedia.org/property/lexicalcategory",
        "http://www.wikidata.org/entity/Q99999999",
    ) in got
    assert (
        "http://dbpedia.org/ontology/language",
        "http://lex.dbpedia.org/English",
    ) in got
    # lemma spaces become underscores, no percent-encoding
    trip = {(r.subject, r.predicate, r.value) for r in wikidata_lexeme_quads(df).collect()}
    assert (
        "http://lex.dbpedia.org/resource/zz_top",
        "http://lex.dbpedia.org/property/lemma",
        "http://lex.dbpedia.org/wikidata/L7",
    ) in trip


def test_reference_extractor_entity_valued_reference(spark):
    """WikidataReferenceExtractor + getStatementUri: an entity-valued
    reference snak uses its Q-id (not a V-hash) in the statement URI."""
    from kgforge.wikidata import wikidata_reference_quads

    doc = (
        '{"id":"Q10","claims":{'
        '"P20":[{"mainsnak":{"snaktype":"value","datavalue":{"value":'
        '{"entity-type":"item","id":"Q5"},"type":"wikibase-entityid"}},'
        '"references":[{"snaks":{"P248":[{"snaktype":"value","datavalue":{"value":'
        '{"entity-type":"item","id":"Q328"},"type":"wikibase-entityid"}}]}}]}]}}'
    )
    df = spark.createDataFrame([(doc,)], "content string")
    rows = wikidata_reference_quads(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.subject == "http://wikidata.dbpedia.org/resource/Q10_P20_Q328"
    assert r.predicate == "http://dbpedia.org/ontology/reference"
    assert r.value == "http://www.wikidata.org/entity/Q328"
    assert r.datatype is None


def test_site_links_quads_pairs_and_routing(spark):
    """ProcessWikidataLinks semantics: every ordered cross-language pair
    per item INCLUDING the Wikidata URI, routed to the subject language,
    Wikidata page URL as context, titles wiki-encoded."""
    from kgforge.wikidata import site_link_conflicts, wikidata_site_links_quads

    links = spark.createDataFrame(
        [
            (7, "enwiki", "berlin wall"),   # lowercase + space → ucfirst + _
            (7, "dewiki", "Berliner Mauer"),
            (7, "zh_min_nanwiki", "X"),     # dbname underscores → hyphens
            (9, "enwiki", "Solo#Page"),     # '#' percent-encodes
        ],
        "item_id INT, site STRING, title STRING",
    )
    q = wikidata_site_links_quads(links, ["en", "de", "zh-min-nan"])
    rows = q.collect()
    # item 7 has 3 langs + wikidata = 4 URIs → 12 ordered pairs; item 9
    # has en + wikidata → 2
    assert len(rows) == 14
    by7 = {(r.language, r.subject, r.value) for r in rows if r.context.endswith("Q7")}
    assert (
        "en",
        "http://dbpedia.org/resource/Berlin_wall",
        "http://wikidata.dbpedia.org/resource/Q7",
    ) in by7
    assert (
        "wikidata",
        "http://wikidata.dbpedia.org/resource/Q7",
        "http://zh-min-nan.dbpedia.org/resource/X",
    ) in by7
    assert any(
        r.subject == "http://dbpedia.org/resource/Solo%23Page" for r in rows
    )
    for r in rows:
        assert r.predicate == "http://www.w3.org/2002/07/owl#sameAs"
        assert r.dataset == "interlanguage_links_same_as"
        assert r.context.startswith("http://wikidata.dbpedia.org/wiki/Q")
        # routed to the subject's language
        assert (r.language == "wikidata") == r.subject.startswith(
            "http://wikidata.dbpedia.org/resource/"
        )
    # unconfigured languages are filtered entirely
    assert not [r for r in rows if "fr.dbpedia" in r.subject + r.value]
    # scale shape: one item-keyed aggregation, pair expansion array-side —
    # the plan contains NO join operator
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # conflict surface: same (item, site), two titles
    bad = links.unionByName(
        spark.createDataFrame([(7, "enwiki", "Other")], links.schema)
    )
    conflicts = site_link_conflicts(bad).collect()
    assert [(c.item_id, c.site, c.n_titles) for c in conflicts] == [(7, "enwiki", 2)]
    assert site_link_conflicts(links).count() == 0


def test_map_wikidata_to_language_uri(spark):
    """MapWikidataToLanguageUri: subject re-homing, per-predicate
    representative selection (target lang > en retagged > head retagged;
    dct:description never falls back), wikidata-object rewrite, and the
    foaf surname/givenName subtraction."""
    from kgforge.wikidata import (
        DCT_DESCRIPTION, FOAF_GIVEN_NAME, FOAF_NAME, FOAF_SURNAME,
        map_wikidata_to_language_uri,
    )

    WD = "http://wikidata.dbpedia.org/resource/"
    DE = "http://de.dbpedia.org/resource/"
    cols = "subject STRING, predicate STRING, value STRING, datatype STRING, language STRING, dataset STRING"
    ill = spark.createDataFrame(
        [
            (DE + "Angela_Merkel", "sameAs", WD + "Q567", None, None, "ill"),
            (DE + "Berlin", "sameAs", WD + "Q64", None, None, "ill"),
        ],
        cols,
    )
    P = "http://dbpedia.org/ontology/birthPlace"
    quads = spark.createDataFrame(
        [
            # language selection: de present → picked as-is
            (WD + "Q567", FOAF_NAME, "Angela Merkel", None, "de", "persondata"),
            (WD + "Q567", FOAF_NAME, "Angela M.", None, "en", "persondata"),
            # en fallback retagged to de
            (WD + "Q567", FOAF_GIVEN_NAME, "Angela", None, "en", "persondata"),
            # description with NO de row → dropped entirely
            (WD + "Q567", DCT_DESCRIPTION, "chancellor", None, "en", "persondata"),
            # non-language group: wikidata object rewritten via the map
            (WD + "Q567", P, WD + "Q64", None, None, "persondata"),
            # unmapped wikidata object kept as-is
            (WD + "Q567", "http://dbpedia.org/ontology/deathPlace",
             WD + "Q999", None, None, "persondata"),
            # subject with no interlanguage link → all quads dropped
            (WD + "Q111", FOAF_NAME, "Ghost", None, "de", "persondata"),
        ],
        cols,
    )
    got = map_wikidata_to_language_uri(quads, ill, "de").collect()
    assert all(r.subject == DE + "Angela_Merkel" for r in got)
    by_pred = {(r.predicate, r.value, r.language) for r in got}
    assert (FOAF_NAME, "Angela Merkel", "de") in by_pred
    assert (FOAF_GIVEN_NAME, "Angela", "de") in by_pred  # retagged en → de
    assert not [r for r in got if r.predicate == DCT_DESCRIPTION]
    assert (P, DE + "Berlin", None) in by_pred  # object rewritten
    assert ("http://dbpedia.org/ontology/deathPlace", WD + "Q999", None) in by_pred
    # surname derivation: name - givenName leaves one word → foaf:surname
    assert (FOAF_SURNAME, "Merkel", "de") in by_pred
    assert all(r.dataset == "persondata" for r in got)
    # givenName derivation (symmetric), and a two-word remainder derives nothing
    quads2 = spark.createDataFrame(
        [
            (WD + "Q567", FOAF_NAME, "Angela Dorothea Kasner", None, "de", "p"),
            (WD + "Q567", FOAF_SURNAME, "Kasner", None, "de", "p"),
        ],
        cols,
    )
    got2 = {(r.predicate, r.value) for r in map_wikidata_to_language_uri(quads2, ill, "de").collect()}
    assert (FOAF_GIVEN_NAME, "Angela Dorothea") not in got2  # two words → no derive
    quads3 = spark.createDataFrame(
        [
            (WD + "Q567", FOAF_NAME, "Angela Kasner", None, "de", "p"),
            (WD + "Q567", FOAF_SURNAME, "Kasner", None, "de", "p"),
        ],
        cols,
    )
    got3 = {(r.predicate, r.value) for r in map_wikidata_to_language_uri(quads3, ill, "de").collect()}
    assert (FOAF_GIVEN_NAME, "Angela") in got3


def test_parse_entities_single_parse_above_fanout(spark):
    """The id gate must not be pushed below the fan-out exchange as a
    second schema-pruned from_json (kgforge.caching.no_pushdown): results
    must equal the plain filter, and no Filter node may parse JSON."""
    rows = [
        ("r", f"wd/Q{i}.json", "c", "wikidata",
         '{"id":"Q%d","labels":{"en":{"language":"en","value":"x"}}}' % i)
        for i in range(1, 9)
    ] + [
        ("r", "wd/bad.json", "c", "wikidata", "not json"),
        ("r", "wd/L1.json", "c", "wikidata", '{"id":"L1","lemmas":{}}'),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    from kgforge.wikidata import parse_entities

    df = spark.createDataFrame(rows, schema).repartition(4)
    ent = parse_entities(df)
    got = sorted(r.id for r in ent.collect())
    # bad row and lexeme page filtered, guard is a no-op
    assert got == [f"Q{i}" for i in range(1, 9)]
    plan = ent._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the plan prints top-down, so everything after the Exchange line is the
    # scan side — no JSON parse may run there (single-task at scale)
    lines = final.splitlines()
    ex_at = max(i for i, l in enumerate(lines) if "Exchange" in l)
    assert any("from_json" in l for l in lines[:ex_at])
    assert not any("from_json" in l for l in lines[ex_at:])


def test_site_links_min_title_per_site_ignores_nulls(spark):
    """The array-side first-per-site selection must reproduce the previous
    groupBy(item, site).min(title) exactly: least non-null title wins per
    site, duplicate titles collapse, and a site with only null titles
    contributes a null URI (min over all-null = null)."""
    from kgforge.wikidata import wikidata_site_links_quads

    links = spark.createDataFrame(
        [
            (1, "enwiki", "Zeta"),
            (1, "enwiki", "Alpha"),        # min per (1, enwiki) = Alpha
            (1, "enwiki", None),           # ignored by min (non-null exists)
            (1, "dewiki", "Beta"),
            (2, "enwiki", None),           # all-null site → null uri member
            (2, "dewiki", "Gamma"),
        ],
        "item_id INT, site STRING, title STRING",
    )
    q = wikidata_site_links_quads(links, ["en", "de"])
    subs1 = {r.subject for r in q.collect() if r.context.endswith("Q1")}
    assert "http://dbpedia.org/resource/Alpha" in subs1
    assert "http://dbpedia.org/resource/Zeta" not in subs1
    # item 2: en side is null-titled → null subject/value structs survive as
    # the min() path produced them (null uri pairs), de + wikidata present
    rows2 = [r for r in q.collect() if r.context.endswith("Q2")]
    assert {r.subject for r in rows2 if r.subject is not None} == {
        "http://de.dbpedia.org/resource/Gamma",
        "http://wikidata.dbpedia.org/resource/Q2",
    }


def test_site_links_two_links_same_site(spark):
    """An item with two links to ONE site: the second entry of the site run
    takes the CASE arm that compares it with its predecessor (never index
    0), and only the least title represents the site."""
    from kgforge.wikidata import wikidata_site_links_quads

    links = spark.createDataFrame(
        [(3, "enwiki", "Beta"), (3, "enwiki", "Alpha"), (3, "dewiki", "Gamma")],
        "item_id INT, site STRING, title STRING",
    )
    rows = wikidata_site_links_quads(links, ["en", "de"]).collect()
    subjects = {r.subject for r in rows}
    # en Alpha + de Gamma + wikidata Q3 → 6 ordered pairs
    assert len(rows) == 6
    assert subjects == {
        "http://dbpedia.org/resource/Alpha",
        "http://de.dbpedia.org/resource/Gamma",
        "http://wikidata.dbpedia.org/resource/Q3",
    }
