"""extract_page — the single-page debug API (ExtractionManager/Server
analog, SURVEY.md §3.3)."""

from pyspark.sql import functions as F  # noqa: F401

from kgforge.single_page import extract_page

PAGE = """'''Testville''' is a [[town]] in [[Testland]].
{{Infobox settlement
| name = Testville
| population = 12345
| image = Testville skyline.jpg
| website = [http://testville.example.org]
}}
== History ==
Founded long ago.

[[Category:Towns]]
"""


def test_extract_page_all_groups(spark):
    out = extract_page(spark, PAGE, title="Testville")
    assert out["labels"] == [
        {
            "language": "en",
            "subject": "http://dbpedia.org/resource/Testville",
            "predicate": "http://www.w3.org/2000/01/rdf-schema#label",
            "value": "Testville",
            "context": None,
            "datatype": "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
        }
    ]
    # one dict per dataset, all major groups present
    for ds in (
        "page_links", "article_categories", "article_templates",
        "infobox_properties", "homepages", "external_links",
        "short_abstracts", "long_abstracts", "nif_context", "image_meta",
    ):
        assert out[ds], ds
    infobox = {q["predicate"].rsplit("/", 1)[-1]: q["value"] for q in out["infobox_properties"]}
    assert infobox["population"] == "12345"
    assert out["homepages"][0]["value"] == "http://testville.example.org"
    # bare infobox image name reaches image_meta (the ImageExtractorNew path)
    depictions = [q["value"] for q in out["image_meta"]
                  if q["predicate"].endswith("depiction")]
    assert depictions == [
        "http://commons.wikimedia.org/wiki/Special:FilePath/Testville_skyline.jpg"
    ]


def test_extract_page_runs_the_mapping_engine(spark):
    """The "fused" group is the batch job's per-page extraction, so a mapped
    infobox (Infobox settlement, in the default rules) yields the mapping
    engine's typing and mapping-based quads."""
    out = extract_page(spark, PAGE, title="Testville", include=("fused",))
    lits = {q["predicate"]: q["value"] for q in out["mappingbased_literals"]}
    assert lits["http://dbpedia.org/ontology/populationTotal"] == "12345"
    assert [q["value"] for q in out["instance_types"]] == ["http://dbpedia.org/ontology/Settlement"]


def test_extract_page_with_side_pages(spark):
    # the non-free File page suppresses the image in image_meta
    out = extract_page(
        spark,
        PAGE,
        title="Testville",
        extra_pages=[("File:Testville skyline.jpg", "{{Non-free logo}}\nSkyline.\n")],
        include=("fused", "image_meta"),
    )
    depictions = [q["value"] for q in out.get("image_meta", [])
                  if q["predicate"].endswith("depiction")]
    assert depictions == []


def test_extract_page_scoped_include(spark):
    out = extract_page(spark, PAGE, title="Testville", include=("per_page",))
    assert set(out) <= {"nif_context", "nif_page_structure", "nif_text_links",
                        "long_abstracts", "cited_facts", "french_population"}
    assert out["nif_context"] and out["long_abstracts"]


def test_infobox_ignore_properties_language_scoped(spark):
    """InfoboxExtractorConfig.ignoreProperties is per-language with en
    fallback (InfoboxExtractor.scala:121): 'imagem' is an ignored image
    parameter on pt pages but an ordinary property on en pages."""
    from kgforge.single_page import extract_page

    body = (
        "{{Infobox cidade\n| nome = Porto\n| imagem = Porto.jpg\n"
        "| fundado = 1123\n| pais = Portugal\n}}\n"
    )
    pt = extract_page(spark, body, title="Porto", lang="pt", include=("fused",))
    pt_props = {q["predicate"].rsplit("/", 1)[-1] for q in pt.get("infobox_properties", [])}
    assert "imagem" not in pt_props and "fundado" in pt_props

    en = extract_page(spark, body, title="Porto", lang="en", include=("fused",))
    en_props = {q["predicate"].rsplit("/", 1)[-1] for q in en.get("infobox_properties", [])}
    assert "imagem" in en_props  # en fallback only ignores image/image_photo/map


def test_extract_page_no_repeated_quads(spark):
    """Every dataset list holds each quad once: no default group re-runs an
    extractor the suite already covers (file types, infobox references)."""
    out = extract_page(
        spark, PAGE, title="Testville", extra_pages=[("File:Map.png", "A map.\n")]
    )
    assert len(out["file_types"]) == 5
    for ds, quads in out.items():
        keys = [tuple(sorted(q.items())) for q in quads]
        assert len(keys) == len(set(keys)), ds
