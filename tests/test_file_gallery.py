"""GalleryExtractor + FileTypeExtractor (mappings/GalleryExtractor.scala,
mappings/FileTypeExtractor.scala): gallery harvesting at parse, extension →
mime/class typing, through the extractor suite."""

from kgforge import wikitext
from kgforge.extractors import run_extractors
from kgforge.parse import prepare

DBO = "http://dbpedia.org/ontology/"


def test_parser_captures_galleries():
    page = (
        "'''X''' intro [[Real Link]].\n\n"
        "<gallery caption=\"pics\">\n"
        "File:First pic.jpg|The '''first''' one\n"
        "Image:second_pic.png\n"
        "not a file line\n"
        "</gallery>\n"
    )
    r = wikitext.parse(page)
    assert r.galleries == [("First pic.jpg", "The first one"), ("Second pic.png", "")]
    # gallery body is a skip region: its lines never become plain text/links
    assert "First pic" not in r.plain
    assert [l.target for l in r.links] == ["Real Link"]


def _fixture(spark):
    rows = [
        ("r", "a/Town.wiki", "c", "en",
         "'''Town''' x.\n\n<gallery>\nFile:Town hall.jpg|the hall\n"
         "File:Map.svg\n</gallery>\n"),
        ("r", "f/File:Town hall.jpg.wiki", "c", "en", "== Summary ==\nA photo.\n"),
        ("r", "f/File:Anthem.ogg.wiki", "c", "en", "Sound file.\n"),
        ("r", "f/File:Clip.webm.wiki", "c", "en", "Video file.\n"),
        ("r", "f/File:Paper.pdf.wiki", "c", "en", "Document.\n"),
        ("r", "f/File:Noext.wiki", "c", "en", "No extension - skipped.\n"),
    ]
    return prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))


def test_gallery_images_quads(spark):
    parsed = _fixture(spark)
    got = {(r.subject, r.predicate, r.value)
           for r in run_extractors(parsed, ["gallery_images"]).collect()}
    town = "http://dbpedia.org/resource/Town"
    url = "http://commons.wikimedia.org/wiki/Special:FilePath/Town_hall.jpg"
    assert (town, "http://xmlns.com/foaf/0.1/depiction", url) in got
    assert (url, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", DBO + "Image") in got
    assert (url, "http://purl.org/dc/elements/1.1/rights",
            "http://en.wikipedia.org/wiki/File:Town_hall.jpg") in got
    assert any(v.endswith("Map.svg") for _s, _p, v in got)


def test_file_types_quads(spark):
    parsed = _fixture(spark)
    ft = run_extractors(parsed, ["file_types"]).collect()
    by_subj: dict[str, set] = {}
    for r in ft:
        by_subj.setdefault(r.subject, set()).add((r.predicate, r.value, r.datatype))
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    jpg = "http://dbpedia.org/resource/File:Town_hall.jpg"
    assert (DBO + "fileExtension", "jpg", xsd_s) in by_subj[jpg]
    assert ("http://purl.org/dc/terms/format", "image/jpeg", xsd_s) in by_subj[jpg]
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", DBO + "File", None) in by_subj[jpg]
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", DBO + "StillImage", None) in by_subj[jpg]
    assert (DBO + "fileURL",
            "http://commons.wikimedia.org/wiki/Special:FilePath/Town_hall.jpg", None) in by_subj[jpg]
    ogg = "http://dbpedia.org/resource/File:Anthem.ogg"
    assert ("http://purl.org/dc/terms/format", "audio/ogg", xsd_s) in by_subj[ogg]
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", DBO + "Sound", None) in by_subj[ogg]
    webm = "http://dbpedia.org/resource/File:Clip.webm"
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", DBO + "MovingImage", None) in by_subj[webm]
    pdf = "http://dbpedia.org/resource/File:Paper.pdf"
    assert ("http://purl.org/dc/terms/format", "application/pdf", xsd_s) in by_subj[pdf]
    # no extension → skipped entirely
    assert not any("Noext" in s for s in by_subj)


def test_fr_population_extractor(spark):
    """fr.PopulationExtractor (mappings/fr/PopulationExtractor.scala:27-55):
    fr Template-ns population-evolution pages -> city populationTotal;
    first match only, digit-only cities and Discussion pages excluded,
    non-fr languages emit nothing."""
    from kgforge.extractors.structural import extract_fr_population
    from kgforge.parse import prepare

    body = "{{Pyramide|pop=12345|an=1999}}\n{{Pyramide|pop=99|an=2005}}\n"
    rows = [
        ("r", "t/Modèle:Données%2FLyon%2Févolution population.wiki", "c", "fr", body),
        # digit-only city segment -> dropped
        ("r", "t/Modèle:Données%2F123%2Févolution population.wiki", "c", "fr", body),
        # Discussion page -> excluded
        ("r", "t/Modèle:Discussion Données%2FNice%2Févolution population.wiki", "c", "fr", body),
        # not fr -> nothing
        ("r", "t/Template:Données%2FLyon%2Févolution population.wiki", "c", "en", body),
        # no pop rows -> nothing
        ("r", "t/Modèle:Données%2FParis%2Févolution population.wiki", "c", "fr", "no data"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    got = [(r.subject, r.predicate, r.value, r.datatype)
           for r in extract_fr_population(parsed).collect()]
    assert got == [(
        "http://fr.dbpedia.org/resource/Lyon",
        "http://dbpedia.org/ontology/populationTotal",
        "12345",
        "http://www.w3.org/2001/XMLSchema#nonNegativeInteger",
    )]
