"""Mapping engine: rule-driven typing, first-template-wins, consistency
split (mappings/MappingExtractor.scala, TemplateMapping.scala:40-53,
SimplePropertyMapping.scala, scripts/TypeConsistencyCheck.scala)."""

from kgforge.mapping_engine import type_by_range, type_consistency
from kgforge.namespaces import RDF_LANGSTRING, XSD_DATE
from kgforge.ontology import DBO, OWL_THING, default_ontology


def test_type_by_range_object():
    v, dt, si = type_by_range("en", "[[Some Place]]", "object", DBO + "Person")
    assert v == "http://dbpedia.org/resource/Some_Place" and dt is None


def test_type_by_range_scalars():
    assert type_by_range("en", "12,345", "datatype", "http://www.w3.org/2001/XMLSchema#nonNegativeInteger")[0] == "12345"
    assert type_by_range("en", "-5", "datatype", "http://www.w3.org/2001/XMLSchema#nonNegativeInteger") is None
    v, dt, _ = type_by_range("en", "3 June 1981", "datatype", "http://www.w3.org/2001/XMLSchema#date")
    assert (v, dt) == ("1981-06-03", XSD_DATE)
    v, dt, _ = type_by_range("en", "free text", "datatype", RDF_LANGSTRING)
    assert (v, dt) == ("free text", RDF_LANGSTRING)


def test_type_by_range_unit_si():
    v, dt, si = type_by_range("en", "33.5 km2", "unit", "Area")
    assert v == repr(33.5e6) and dt.endswith("#double") and si == 33.5e6


def test_ontology_disjointness():
    o = default_ontology()
    assert o.is_disjoint(DBO + "Settlement", DBO + "Person")
    assert not o.is_disjoint(DBO + "Settlement", DBO + "PopulatedPlace")
    assert o.closure(DBO + "Settlement")[-1] == OWL_THING


def test_type_consistency_routing(spark):
    schema = (
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string"
    )
    leader = DBO + "leader"
    succ = DBO + "successor"
    rows = [
        # s1 typed Settlement; leader→o1 (typed Settlement → disjoint range)
        ("en", "instance_types", "s1", "t", DBO + "Settlement", None, None),
        ("en", "instance_types", "o1", "t", DBO + "Settlement", None, None),
        ("en", "mappingbased_objects_uncleaned", "s1", leader, "o1", None, None),
        # leader→o2 untyped → cleaned
        ("en", "mappingbased_objects_uncleaned", "s1", leader, "o2", None, None),
        # successor range owl:Thing → cleaned
        ("en", "mappingbased_objects_uncleaned", "s1", succ, "o1", None, None),
        # leader→p1 typed Person (subtype of range) → cleaned
        ("en", "instance_types", "p1", "t", DBO + "Person", None, None),
        ("en", "mappingbased_objects_uncleaned", "s1", leader, "p1", None, None),
    ]
    quads = spark.createDataFrame(rows, schema)
    out = {(r.value, r.dataset) for r in type_consistency(quads).collect()}
    assert ("o1", "mappingbased_objects_disjoint_range") in out
    assert ("o2", "mappingbased_objects") in out
    assert ("p1", "mappingbased_objects") in out
    assert ("o1", "mappingbased_objects") in out  # the successor quad


def test_type_consistency_with_an_empty_ontology(spark):
    """An ontology with no classes or object properties declares no range,
    domain or disjointness, so the split keeps every object quad."""
    from kgforge.ontology import Ontology

    quads = spark.createDataFrame(
        [
            ("en", "instance_types", "o1", "t", DBO + "Settlement", None, None),
            ("en", "mappingbased_objects_uncleaned", "s1", DBO + "leader", "o1", None, None),
        ],
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string",
    )
    got = [r.dataset for r in type_consistency(quads, Ontology()).collect()]
    assert got == ["mappingbased_objects"]


def test_template_redirect_dispatch(spark):
    """resolveMap: an infobox reached through a Template-namespace redirect
    still dispatches to the mapped rules, and a date template reached through
    a redirect still parses (Redirects.scala:60-94, MappingExtractor.scala:24,
    DateTimeParser.scala:110)."""
    from kgforge.extractors.fused import fused_quads
    from kgforge.mapping_engine import mapping_quads
    from kgforge.parse import prepare
    from kgforge.redirects import template_redirect_map
    from kgforge.vocab import INFOBOX_PROPERTIES, INSTANCE_TYPES, MAPPINGBASED_LITERALS

    rows = [
        # chain: Infobox townlet -> Infobox hamlet -> Infobox settlement
        ("r", "t/Template:Infobox_townlet.wiki", "c1", "en",
         "#REDIRECT [[Template:Infobox hamlet]]\n"),
        ("r", "t/Template:Infobox_hamlet.wiki", "c2", "en",
         "#REDIRECT [[Template:Infobox settlement]]\n"),
        ("r", "t/Template:Founded.wiki", "c3", "en",
         "#REDIRECT [[Template:Start date]]\n"),
        ("r", "a/Smallville.wiki", "c4", "en",
         "'''Smallville''' is small.\n\n{{Infobox townlet\n"
         "| population = 5,432\n| established = {{Founded|1901|2|3}}\n}}\n"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    parsed = prepare(corpus)
    tred = template_redirect_map(parsed)
    assert tred == {
        "infobox townlet": "infobox settlement",
        "infobox hamlet": "infobox settlement",
        "founded": "start date",
    }
    mq = mapping_quads(parsed, template_redirects=tred)
    got = {(r.dataset, r.predicate, r.value, r.datatype) for r in mq.collect()}
    assert (INSTANCE_TYPES, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            DBO + "Settlement", None) in got
    assert any(ds == MAPPINGBASED_LITERALS and p.endswith("populationTotal") and v == "5432"
               for ds, p, v, _ in got)
    # foundingDate via the redirected date template
    assert any(ds == MAPPINGBASED_LITERALS and p.endswith("foundingDate") and v == "1901-02-03"
               for ds, p, v, _ in got)
    # infobox cascade: dbp:established typed xsd:date through the redirect
    fq = fused_quads(parsed, template_redirects=tred)
    ib = {(r.predicate, r.value) for r in
          fq.filter(fq.dataset == INFOBOX_PROPERTIES).collect()}
    assert any(p.endswith("/established") and v == "1901-02-03" for p, v in ib)
    # WITHOUT the redirect map the same corpus produces none of these
    mq0 = mapping_quads(parsed)
    assert mq0.filter(mq0.dataset == INSTANCE_TYPES).count() == 0


def test_citation_gate_is_explicit(spark):
    """Templates like 'Bibliography'/'Bible' must NOT hit the citation branch
    (the old 'bib.*' prefix gate both emitted spurious citation quads and
    shadowed mapping dispatch, ADVICE r2); 'cite web' still does; a template
    with a mapping rule wins over the citation branch even if its name
    matches the citation pattern."""
    from kgforge.mapping_engine import TemplateMapping, mapping_quads
    from kgforge.ontology import DBO
    from kgforge.parse import prepare
    from kgforge.vocab import CITATION_DATA, CITATION_LINKS, INSTANCE_TYPES

    rows = [
        ("r", "a/A.wiki", "c", "en",
         "'''A''' x.\n\n{{Bibliography | title = Ignored}}\n{{Bible | book = Genesis}}\n"
         "{{cite web | url = http://x.example.org/p | title = T}}\n"
         "{{Citation | of = something}}\n"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    custom = {"citation": TemplateMapping("citation", DBO + "Work")}
    got = mapping_quads(parsed, mappings=custom).collect()
    cites = [r for r in got if r.dataset in (CITATION_LINKS, CITATION_DATA)]
    # only 'cite web' cites; bibliography/bible/citation(mapped) do not
    assert all("x.example.org" in r.value or r.subject == "http://x.example.org/p"
               for r in cites) and cites
    types = [r for r in got if r.dataset == INSTANCE_TYPES]
    assert [r.value for r in types] == [DBO + "Work"]


def test_persondata_markup_only_name_emits_nothing(spark):
    """A NAME whose plain rendering is '' must not mint an empty foaf:name
    (ADVICE r2); same for SHORT DESCRIPTION."""
    from kgforge.mapping_engine import mapping_quads
    from kgforge.parse import prepare
    from kgforge.vocab import PERSONDATA

    rows = [
        ("r", "a/P.wiki", "c", "en",
         "'''P''' x.\n\n{{Persondata\n| NAME = [[]]\n| SHORT DESCRIPTION = ''''''\n}}\n"),
        ("r", "a/Q.wiki", "c", "en",
         "'''Q''' x.\n\n{{Persondata\n| NAME = Doe, Jane\n| SHORT DESCRIPTION = ''''''\n}}\n"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    pd_quads = [r for r in mapping_quads(parsed).collect() if r.dataset == PERSONDATA]
    assert all(r.value != "" for r in pd_quads)
    assert not any(r.subject.endswith("/P") for r in pd_quads)
    assert any(r.value == "Jane Doe" for r in pd_quads)


def test_object_surface_form_fallback(spark):
    """ObjectParser same-page fallback (ObjectParser.scala:40-141,
    getTitleForSurfaceForm): a bare-text value of an object-ranged mapped
    property resolves against the page's OWN link anchors/targets; with no
    matching link it emits nothing."""
    from kgforge.mapping_engine import mapping_quads
    from kgforge.ontology import DBO
    from kgforge.parse import prepare
    from kgforge.vocab import MAPPINGBASED_OBJECTS

    rows = [
        ("r", "a/Town.wiki", "c", "en",
         "'''Town''' — see [[Jane Doe|the mayor]] and [[Old Town]].\n\n"
         "{{Infobox settlement\n"
         "| successor = Old Town\n"          # bare target title
         "| leader_name = the mayor\n"       # bare anchor text
         "}}\n"),
        ("r", "a/Empty.wiki", "c", "en",
         "'''Empty''' links [[Somewhere Else]].\n\n"
         "{{Infobox settlement\n| successor = No Such Page\n}}\n"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    objs = {(r.subject, r.predicate, r.value)
            for r in mapping_quads(parsed).collect() if r.dataset == MAPPINGBASED_OBJECTS}
    town = "http://dbpedia.org/resource/Town"
    assert (town, DBO + "successor", "http://dbpedia.org/resource/Old_Town") in objs
    assert (town, DBO + "leader", "http://dbpedia.org/resource/Jane_Doe") in objs
    assert not any(s.endswith("/Empty") and p.endswith("successor") for s, p, _ in objs)


def test_table_mapping_object_surface_form(spark):
    """Table cells are markup-stripped at parse, so object-ranged table
    columns resolve ONLY through the same-page surface-form fallback
    (TableMapping.scala runs ObjectParser with full page context)."""
    from kgforge.mapping_engine import PropertyRule, TableRule, table_mapping_quads
    from kgforge.ontology import DBO
    from kgforge.parse import prepare
    from kgforge.vocab import MAPPINGBASED_OBJECTS

    rows = [("r", "a/Books.wiki", "c", "en",
             "'''Books''' by [[Jane Doe|the author]].\n\n"
             '{| class="wikitable"\n|-\n! Title !! Author\n'
             "|-\n| Alpha || Jane Doe\n|-\n| Beta || Nobody Known\n|}\n")]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    rules = [TableRule(map_to_class=DBO + "Work", keywords="title",
                       header="title;author",
                       rules=[PropertyRule("author", DBO + "leader")])]
    got = {(r.subject, r.predicate, r.value)
           for r in table_mapping_quads(parsed, rules=rules).collect()
           if r.dataset == MAPPINGBASED_OBJECTS}
    inst = "http://dbpedia.org/resource/Books__Alpha__1"
    assert (inst, DBO + "leader", "http://dbpedia.org/resource/Jane_Doe") in got
    # a cell with no matching page link emits nothing for the object column
    assert not any(s.endswith("__Beta__2") and p.endswith("leader") for s, p, _ in got)


def test_hybrid_raw_and_mapping_split(spark):
    """HybridRawAndMappingExtractor (HybridRawAndMappingExtractor.scala:
    35-87): raw infobox facts whose (template, key) fired a mapping rule
    relabel to infobox_properties_mapped; unmapped keys stay
    infobox_properties; pages with no mapped template keep everything raw."""
    from kgforge.mapping_engine import hybrid_infobox_quads
    from kgforge.parse import prepare
    from kgforge import vocab as V

    rows = [
        # 'Infobox person' is mapped with a 'name' rule; 'quirk' is not
        ("r", "a/Ada.wiki", "c", "en",
         "'''Ada''' text.\n{{Infobox person\n| name = Ada Lovelace\n"
         "| quirk = Enigmatic\n}}\n"),
        # unmapped template: everything stays raw
        ("r", "a/Box.wiki", "c", "en",
         "'''Box''' text.\n{{Infobox widget\n| label = Plain\n| kind = Cube\n}}\n"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    got = {(r.dataset, r.subject, r.predicate.rsplit("/", 1)[-1], r.value)
           for r in hybrid_infobox_quads(parsed).collect()}
    ada = "http://dbpedia.org/resource/Ada"
    box = "http://dbpedia.org/resource/Box"
    assert (V.INFOBOX_PROPERTIES_MAPPED, ada, "name", "Ada Lovelace") in got
    assert (V.INFOBOX_PROPERTIES, ada, "quirk", "Enigmatic") in got
    assert (V.INFOBOX_PROPERTIES, box, "label", "Plain") in got
    assert (V.INFOBOX_PROPERTIES, box, "kind", "Cube") in got
    assert not any(d == V.INFOBOX_PROPERTIES_MAPPED and s == box for d, s, *_ in got)


def test_date_interval_full_semantics():
    """DateIntervalMapping.extractInterval (DateIntervalMapping.scala:62-120):
    open ends via present/since/onward words (per-language), lone start
    self-closes, full dates survive the dash-split guard."""
    from kgforge.mapping_engine import parse_date_interval as p

    assert p("1987-1995", "en") == ("1987", "1995")
    assert p("1987–1995", "en") == ("1987", "1995")
    assert p("1990 to 1999", "en") == ("1990", "1999")
    assert p("1987–present", "en") == ("1987", None)
    assert p("since 1987", "en") == ("1987", None)
    assert p("1987 onward", "en") == ("1987", None)
    assert p("1987", "en") == ("1987", "1987")
    assert p("2009-10-13", "en") == ("2009", "2009")  # full date, not a span
    assert p("desde 1987", "es") == ("1987", None)
    assert p("1987–aujourd'hui", "fr") == ("1987", None)
    assert p("1987–actualidad", "es") == ("1987", None)
    assert p("od 1990", "pl") == ("1990", None)
    assert p("not a date", "en") is None


def test_persondata_german_keys(spark):
    """PersondataExtractor de path (PersondataExtractorConfig:8-17):
    {{Personendaten}} with German keys, German date, localized place IRI."""
    from kgforge.mapping_engine import mapping_quads
    from kgforge.parse import prepare
    from kgforge.schema import CORPUS_SCHEMA

    de = ("{{Personendaten\n| NAME = Merkel, Angela\n"
          "| KURZBESCHREIBUNG = deutsche Politikerin\n"
          "| GEBURTSDATUM = 17. Juli 1954\n| GEBURTSORT = [[Hamburg]]\n}}\n")
    rows = [("r", "p/Angela_Merkel.wiki", "c", "de", de)]
    q = mapping_quads(prepare(spark.createDataFrame(rows, CORPUS_SCHEMA)))
    got = {r.predicate.rsplit("/", 1)[-1]: r.value
           for r in q.filter(q.dataset == "persondata").collect()}
    assert got["name"] == "Angela Merkel"
    assert got["surname"] == "Merkel" and got["givenName"] == "Angela"
    assert got["birthDate"] == "1954-07-17"
    assert got["birthPlace"] == "http://de.dbpedia.org/resource/Hamburg"
    assert got["description"] == "deutsche Politikerin"
