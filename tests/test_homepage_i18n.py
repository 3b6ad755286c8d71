"""HomepageExtractor full surface (mappings/HomepageExtractor.scala:47-102)
and language-scoped disambiguation title suffixes
(DisambiguationExtractorConfig:8-41)."""

from pyspark.sql import functions as F  # noqa: F401

from kgforge.extractors import run_extractors
from kgforge.parse import prepare
from kgforge.schema import CORPUS_SCHEMA


def _run(spark, rows):
    df = prepare(spark.createDataFrame(rows, CORPUS_SCHEMA))
    return {r.subject.rsplit("/", 1)[-1]: r.value for r in run_extractors(df, ["homepages"]).collect()}


def test_homepage_priority_and_branches(spark):
    got = _run(spark, [
        # property beats section link
        ("r", "p/A.wiki", "c", "en",
         "{{Infobox x\n| website = [http://a.example.org]\n}}\n"
         "== External links ==\n* [http://a2.example.org Official site]\n"),
        # transformed {{Official website}} beats the later official-labeled link
        ("r", "p/B.wiki", "c", "en",
         "Text.\n== External links ==\n"
         "* {{Official website|http://b-official.example.org}}\n"
         "* [http://b2.example.org Official homepage]\n"),
        # keyword in the LIST-ITEM text, not the label (listItemStartRegex)
        ("r", "p/H.wiki", "c", "en",
         "Text.\n== External links ==\n* Official site: [http://h.example.org visit]\n"),
        # non-official links in the section emit nothing
        ("r", "p/N.wiki", "c", "en",
         "Text.\n== External links ==\n* [http://n.example.org fan page]\n"),
        # a section other than External links never fires
        ("r", "p/G.wiki", "c", "en",
         "Text.\n== See also ==\n* [http://g.example.org Official thing]\n"),
        # bare domain in the property gets http:// (cleanProperty :108)
        ("r", "p/E.wiki", "c", "de",
         "{{Infobox y\n| webpräsenz = example.de/startseite\n}}\n"),
    ])
    assert got == {
        "A": "http://a.example.org",
        "B": "http://b-official.example.org",
        "H": "http://h.example.org",
        "E": "http://example.de/startseite",
    }


def test_homepage_language_tables(spark):
    got = _run(spark, [
        ("r", "p/D.wiki", "c", "fr",
         "Texte.\n== Liens externes ==\n* {{Site officiel|url=d.example.org}}\n"),
        ("r", "p/F.wiki", "c", "ru",
         "Текст.\n== Ссылки ==\n* [http://f.example.ru Официальный сайт компании]\n"),
        ("r", "p/J.wiki", "c", "ja",
         "文。\n== 外部リンク ==\n* [http://j.example.jp 公式サイト]\n"),
        ("r", "p/K.wiki", "c", "ru",
         "{{Карточка\n| сайт = [http://k.example.ru]\n}}\n"),
        # the ru property name is scoped: 'сайт' on an en page is not a key
        ("r", "p/L.wiki", "c", "en",
         "{{Infobox z\n| сайт = [http://l.example.org]\n}}\n"),
    ])
    assert got == {
        "D": "http://d.example.org",
        "F": "http://f.example.ru",
        "J": "http://j.example.jp",
        "K": "http://k.example.ru",
    }


def test_disambig_suffix_language_scoped(spark):
    rows = [
        ("r", "p/Foo_(homonymie).wiki", "c", "fr", "{{Homonymie}}\n* [[Foo (ville)]]\n* [[Barre]]\n"),
        ("r", "p/Bar_(значения).wiki", "c", "ru", "{{Disambig}}\n* [[Bar (река)]]\n* [[Другое]]\n"),
    ]
    df = prepare(spark.createDataFrame(rows, CORPUS_SCHEMA))
    got = {(r.subject.rsplit("/", 1)[-1], r.value.rsplit("/", 1)[-1])
           for r in run_extractors(df, ["disambiguations"]).collect()}
    assert got == {
        ("Foo_(homonymie)", "Foo_(ville)"),
        ("Bar_(значения)", "Bar_(река)"),
    }


def test_gender_language_tables(spark):
    en = ("{{Infobox person\n| name = X\n}}\n"
          "He was born. He lived. His work. He died. Him too.\n")
    pt = ("{{Infobox person\n| name = Y\n}}\n"
          "Ela nasceu. Ela viveu. Dela obra. Ela morreu. Nela história.\n")
    rows = [("r", "p/X.wiki", "c", "en", en), ("r", "p/Y.wiki", "c", "pt", pt)]
    df = prepare(spark.createDataFrame(rows, CORPUS_SCHEMA))
    got = {(r.subject.rsplit("/", 1)[-1], r.value) for r in run_extractors(df, ["gender"]).collect()}
    # pt emits the LOCALIZED gender word (GenderExtractorConfig pt table)
    assert got == {("X", "male"), ("Y", "mulher")}


def test_topical_concepts_cat_main_templates(spark):
    rows = [
        ("r", "p/Category:Physics.wiki", "c", "en", "{{Cat main|Physics}}\nStuff.\n"),
        ("r", "p/Category:Physique.wiki", "c", "fr", "{{Article principal|Physique}}\n"),
    ]
    df = prepare(spark.createDataFrame(rows, CORPUS_SCHEMA))
    got = {(r.subject.rsplit("/", 1)[-1], r.value) for r in run_extractors(df, ["topical_concepts"]).collect()}
    assert got == {
        ("Category:Physics", "http://dbpedia.org/resource/Physics"),
        ("Category:Physique", "http://fr.dbpedia.org/resource/Physique"),
    }
