"""Reference configuration tables for the extractor suite, and the
standalone extractors that run outside it.

The suite itself — one segment per ``ALL_EXTRACTORS`` name — lives in
``fused.py``; the per-language tables it reads (homepage property names,
disambiguation suffixes, gender pronouns, ...) are kept here, next to the
extractors that are separate passes (long abstracts, fr population; both
run in the pipeline's ``per_page`` stage, ``pipeline.per_page_quads``).

Reference parity notes cite file:line under the reference's
core/src/main/scala/org/dbpedia/extraction/. All quads carry ``context = null`` (Quad
equality ignores context, transform/Quad.scala:120-157).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import vocab as V
from ..namespaces import DBO, MAIN, RDF_LANGSTRING, TEMPLATE


def _quads(
    df: DataFrame,
    dataset: str,
    subject: Column,
    predicate: Column | str,
    value: Column,
    datatype: str | None = None,
    langstring: bool = False,
) -> DataFrame:
    pred = F.lit(predicate) if isinstance(predicate, str) else predicate
    dt = F.lit(RDF_LANGSTRING) if langstring else F.lit(datatype)
    return df.select(
        F.col("lang").alias("language"),
        F.lit(dataset).alias("dataset"),
        subject.alias("subject"),
        pred.alias("predicate"),
        value.cast("string").alias("value"),
        F.lit(None).cast("string").alias("context"),
        dt.cast("string").alias("datatype"),
    ).filter(F.col("subject").isNotNull() & F.col("value").isNotNull())


# --- standalone extractors (separate passes, outside the fused suite) ------


def extract_long_abstracts(parsed: DataFrame) -> DataFrame:
    """Long-abstract dataset (DBpediaDatasets long_abstracts; the reference's
    NIF/PlainAbstract pipeline renders via MediaWiki — this engine's
    deterministic substitute is the FULL plain_text, consistent with
    nif:isString; the short abstract stays the first paragraph). Standalone
    pass like the NIF group — not part of the fused golden set."""
    pages = parsed.filter(
        (F.col("namespace") == MAIN)
        & F.col("redirect_target").isNull()
        & (F.col("plain_text") != "")
    )
    return _quads(pages, V.LONG_ABSTRACTS, F.col("subject"), V.ABSTRACT_PROP,
                  F.col("plain_text"), langstring=True)


def extract_fr_population(parsed: DataFrame) -> DataFrame:
    """fr.PopulationExtractor (mappings/fr/PopulationExtractor.scala:27-55):
    French Template-ns pages titled '…/<City>/…évolution population…'
    carrying a '|pop=N' row → <City> dbo:populationTotal N (FIRST pop match
    only — the reference returns on the first hit; all-digit 'city'
    segments dropped; Discussion/Modèles pages excluded). Language-gated to
    fr, so it costs nothing elsewhere."""
    title = F.col("title")
    city_raw = F.try_element_at(F.split(title, "/"), F.lit(2))
    pop = F.regexp_extract(F.col("content"), r"pop=(\d+)", 1)
    pages = parsed.filter(
        (F.col("lang") == "fr")
        & (F.col("namespace") == TEMPLATE)
        & F.col("redirect_target").isNull()
        & F.lower(title).contains("évolution population")
        & ~title.contains("Discussion")
        & ~title.contains("Modèles")
        & F.col("content").contains("|pop=")
    ).select(
        "lang", city_raw.alias("city"), pop.alias("pop")
    ).filter(
        F.col("city").isNotNull() & (F.col("city") != "")
        & ~F.col("city").rlike("^[0-9]*$") & (F.col("pop") != "")
    )
    from ..wikidata import wiki_encode_expr

    subject = F.concat(
        F.lit("http://fr.dbpedia.org/resource/"), wiki_encode_expr(F.col("city"))
    )
    return _quads(
        pages, V.FRENCH_POPULATION, subject,
        "http://dbpedia.org/ontology/populationTotal", F.col("pop"),
        datatype="http://www.w3.org/2001/XMLSchema#nonNegativeInteger",
    )


# --- disambiguation: the isAcronym rule -----------------------------------

_DISAMBIG_TEMPLATES = ("disambiguation", "disambig", "dab", "begriffsklärung", "homonymie")

# DisambiguationExtractorConfig.disambiguationTitlePartMap (:8-41): the
# per-language title suffix stripped before matching links against the
# cleaned title (regex-escaped parens added here)
_DISAMBIG_SUFFIX: dict[str, str] = {
    "en": r" \(disambiguation\)$", "am": r" \(መንታ\)$", "ar": r" \(توضيح\)$",
    "bg": r" \(пояснение\)$", "ca": r" \(desambiguació\)$", "cs": r" \(rozcestník\)$",
    "de": r" \(Begriffsklärung\)$", "el": r" \(αποσαφήνιση\)$", "eo": r" \(apartigilo\)$",
    "es": r" \(desambiguación\)$", "eu": r" \(argipena\)$", "fr": r" \(homonymie\)$",
    "ga": r" \(idirdhealáin\)$", "gl": r" \(homónimos\)$", "he": r" \(פירושונים\)$",
    "hi": r" \(बहुविकल्पी\)$", "hu": r" \(egyértelműsítő lap\)$", "id": r" \(disambig\)$",
    "it": r" \(disambigua\)$", "ja": r" \(曖昧さ回避\)$", "ko": r" \(동음이의\)$",
    "mk": r" \(појаснување\)$", "nl": r" \(doorverwijspagina\)$",
    "pl": r" \(ujednoznacznienie\)$", "pt": r" \(desambiguação\)$",
    "ro": r" \(dezambiguizare\)$", "ru": r" \(значения\)$",
    "sk": r" \(Rozlišovacia stránka\)$", "uk": r" \(значення\)$",
}


def acronym_matches(clean_title: Column, target: Column) -> Column:
    """isAcronym (DisambiguationExtractor.scala:68-83): walk the destination
    words (dashes→spaces), advancing through the acronym whenever a word
    starts with the current acronym character — as a fold expression."""
    words = F.split(F.upper(F.regexp_replace(target, "-", " ")), " ")
    n = F.length(clean_title)
    final = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: F.when(
            (acc < n) & (F.substring(w, 1, 1) == clean_title.substr(acc + 1, F.lit(1))),
            acc + 1,
        ).otherwise(acc),
    )
    return final == n


# --- per-language configuration tables of the fused segments --------------

# HomepageExtractorConfig.propertyNamesMap (:11-50) — per-language infobox
# property names; unknown languages fall back to the en set (the reference
# returns Set() there, but en names dominate real infobox reuse)
_HOMEPAGE_KEYS_BY_LANG: dict[str, tuple[str, ...]] = {
    "en": ("website", "homepage", "web", "site"),
    "am": ("ድህረገፅ", "ድህረ ገፅ", "ገጽ", "ድህረ ገጽ", "ድረ ገፅ", "ድረገፅ", "ድረገጽ",
           "ድረ ገጽ", "ዋና ገጽ", "ዌብሳይት", "website", "web", "site"),
    "ar": ("الموقع", "الصفحة الرسمية", "موقع", "الصفحة الرئيسية", "صفحة ويب", "موقع ويب"),
    "bg": ("сайт", "уебсайт"),
    "ca": ("pàgina", "web", "lloc"),
    "cs": ("webová stránka", "oficiální web"),
    "de": ("website", "homepage", "webpräsenz", "web", "site", "siteweb", "site web"),
    "el": ("ιστότοπος", "ιστοσελίδα"),
    "eo": ("ĉefpaĝo", "retejo"),
    "es": ("website", "homepage", "web", "site", "siteweb", "site web",
           "página", "sitio", "pagina"),
    "eu": ("webgunea",),
    "fr": ("website", "homepage", "web", "site", "siteweb", "site web"),
    "ga": ("suíomh",),
    "hi": ("वेबसाइट",),
    "it": ("homepage", "sito", "sito web"),
    "ja": ("homepage", "website", "web", "siteweb", "hp", "ホームページ",
           "ウェブ", "サイト", "ウェブサイト", "公式サイト"),
    "mk": ("портал", "мреж. место"),
    "nl": ("website", "homepage", "hoofdpagina", "webpagina", "web", "site"),
    "pl": ("web", "strona"),
    "pt": ("website", "homepage", "web", "site", "siteweb", "site web",
           "página", "sitio", "pagina"),
    "ru": ("сайт",),
    "uk": ("веб-сайт", "домашня сторінка", "сайт"),
}

# externalLinkSectionsMap (:58-81) / officialMap (:87-110) — section-heading
# and 'official' keyword regexes per language
_EXT_SECTION_RE: dict[str, str] = {
    "en": r"(?iu)^External links?$", "de": r"(?iu)^Weblinks?$",
    "fr": r"(?iu)^(?:Lien externe|Liens externes|Liens et documents externes)$",
    "es": r"(?iu)^(?:Enlaces externos|Enlace externo|Links externos|Link externo)$",
    "it": r"(?iu)^Collegamenti esterni$", "nl": r"(?iu)^(?:Externe links|Externe link)$",
    "pt": r"(?iu)^(?:Ligações externas|Ligação externa|Links externos|Link externo)$",
    "pl": r"(?iu)^(?:Linki zewnętrzne|Link zewnętrzny)$", "ru": r"(?iu)^Ссылки$",
    "uk": r"(?iu)^Посилання$", "ja": r"(?iu)^外部リンク$", "ar": r"(?iu)^وصلات خارجية$",
    "cs": r"(?iu)^Odkazy$", "el": r"(?iu)^(?:Εξωτερικοί σύνδεσμοι|Εξωτερικές συνδέσεις)$",
    "bg": r"(?iu)^Външни препратки$", "ca": r"(?iu)^(?:Enllaços externs|Enllaço extern)$",
    "eo": r"(?iu)^Eksteraj ligiloj$", "eu": r"(?iu)^Kanpo loturak?$",
    "ga": r"(?iu)^(?:Naisc sheachtracha|Nasc sheachtrach)$", "hi": r"(?iu)^बाहरी कड़ियाँ$",
    "mk": r"(?iu)^Надворешни врски$",
}
_OFFICIAL_RE: dict[str, str] = {
    "en": r"(?iu)\bofficial\b", "de": r"(?iu)offizielle", "fr": r"(?iu)officiel",
    "es": r"(?iu)oficial", "it": r"(?iu)ufficiale", "nl": r"(?iu)officieel|officiële",
    "pt": r"(?iu)oficial", "pl": r"(?iu)oficjalna", "ru": r"(?iu)официальный",
    "uk": r"(?iu)офіційний", "ja": r"(?iu)公式|オフィシャル", "ar": r"(?iu)رسمي",
    "cs": r"(?iu)oficiální", "el": r"(?iu)επίσημος|επίσημη", "bg": r"(?iu)официален",
    "ca": r"(?iu)oficial", "eo": r"(?iu)oficiala", "eu": r"(?iu)ofiziala?",
    "ga": r"(?iu)oifigiúil", "hi": r"(?iu)आधिकारिक", "mk": r"(?iu)официјален",
    "am": r"(?iu)ዋና",
}
# templateOfficialWebsiteMap (:117-132): template name (normalized) → key
_OFFICIAL_TEMPLATE: dict[str, tuple[str, str]] = {
    "en": ("official website", "1"), "ja": ("official website", "1"),
    "fr": ("site officiel", "url"), "ru": ("официальный сайт", "1"),
    "uk": ("official", "1"), "pt": ("oficial", "1"), "ca": ("oficial", "1"),
    "bg": ("официален сайт", "1"), "el": ("επίσημη ιστοσελίδα", "1"),
    "eo": ("oficiala retejo", "1"), "es": ("página web", "1"),
    "ga": ("páxina web", "1"), "hi": ("आधिकारिक वेबसाइट", "1"),
}
_URL_IN_VALUE = r"\[?\s*((?:https?|ftp)://[^\s\]\|]+)"
# bare domain ('example.org') — the reference prefixes http:// when the
# cleaned property value has a word.word shape (HomepageExtractor.scala:108)
_BARE_DOMAIN = r"^\s*([A-Za-z0-9][\w.-]*\.\w[\w/.~%#?=&-]*)\s*$"


_IGNORE_TEMPLATES = (
    "redirect", "seealso", "see_also", "main", "cquote", "chess diagram", "ipa", "lang",
    "تحويل",  # ar redirect (InfoboxExtractorConfig.ignoreTemplates)
)
_IGNORE_TEMPLATE_RE = r"^(cite.*|citation.*|assessment.*|zh-.*|llang.*|ipa-.*|citajxo.*)$"
# InfoboxExtractorConfig.ignoreProperties: per-language image/map parameter
# names, en as the fallback set (InfoboxExtractor.scala:121 getOrElse("en");
# keys compare lowercased, so el's capitalized duplicates collapse)
_IGNORE_PROPS_BY_LANG: dict[str, tuple[str, ...]] = {
    "en": ("image", "image_photo", "map"),
    "am": ("ምስል", "ፎቶ", "ስዕል", "ካርታ", "አርማ"),
    "ar": ("صورة",),
    "id": ("foto", "gambar"),
    "el": ("εικόνα", "εικονα", "χάρτης"),
    "eo": ("dosiero",),
    "pt": ("imagem", "foto", "mapa"),
}


# GenderExtractorConfig.pronounsMap (:6-27): per-language pronoun sets AND
# localized gender words (the reference emits 'mulher'/'homem' on pt)
_GENDER_TABLES: dict[str, tuple[tuple[str, ...], tuple[str, ...], str, str]] = {
    "en": (("he", "his", "him", "himself"), ("she", "her", "herself"), "male", "female"),
    "pt": (("ele", "dele", "nele"), ("ela", "dela", "nela"), "homem", "mulher"),
    "am": (("እሱ", "እሱን", "የእሱ", "የራሱ", "እራሱ", "እራሱን"),
           ("እሷ", "እሷን", "የሷ", "እራሷን", "እራሷ"), "ወንድ", "ሴት"),
}


# TopicalConceptsExtractorConfig.catMainTemplates (:10-22) — one shared set
# across languages (the reference FIXME acknowledges the conflation)
_CAT_MAIN_TEMPLATES = tuple(t.lower() for t in (
    "مزيد", "Infocat", "Infocatm", "Catmore", "Cat main", "AP", "Nagusia",
    "Article principal", "Voce principale", "torna a", "Artigo principal",
    "Основная статья по теме категории", "Catmain",
))


# extension → (mime, ontology class) — FileTypeExtractorConfig.scala:40-67's
# mimeTypeFromFileExtension, exactly (incl. its quirks: pdf/djvu are
# StillImage there, mid is application/x-midi, wav is audio/vnd.wave).
# Documented EXTENSIONS beyond the reference map (which would send them to
# owl:Thing/octet-stream): ogg/mp3/mp4/webp/bmp/midi — common on commons,
# typed by their obvious class.
FILE_TYPE_MAP: dict[str, tuple[str, str]] = {
    "jpg": ("image/jpeg", V.DBO_STILL_IMAGE),
    "jpeg": ("image/jpeg", V.DBO_STILL_IMAGE),
    "png": ("image/png", V.DBO_STILL_IMAGE),
    "gif": ("image/gif", V.DBO_STILL_IMAGE),
    "svg": ("image/svg+xml", V.DBO_STILL_IMAGE),
    "tif": ("image/tiff", V.DBO_STILL_IMAGE),
    "tiff": ("image/tiff", V.DBO_STILL_IMAGE),
    "xcf": ("image/xcf", V.DBO_STILL_IMAGE),
    "kml": ("application/vnd.google-earth.kml+xml", V.DBO_STILL_IMAGE),
    "pdf": ("application/pdf", V.DBO_STILL_IMAGE),
    "djvu": ("image/vnd.djvu", V.DBO_STILL_IMAGE),
    "webp": ("image/webp", V.DBO_STILL_IMAGE),
    "bmp": ("image/bmp", V.DBO_STILL_IMAGE),
    "ogg": ("audio/ogg", V.DBO_SOUND),
    "oga": ("audio/ogg", V.DBO_SOUND),
    "mp3": ("audio/mpeg", V.DBO_SOUND),
    "wav": ("audio/vnd.wave", V.DBO_SOUND),
    "flac": ("audio/x-flac", V.DBO_SOUND),
    "mid": ("application/x-midi", V.DBO_SOUND),
    "midi": ("application/x-midi", V.DBO_SOUND),
    "ogv": ("video/ogg", V.DBO_MOVING_IMAGE),
    "webm": ("video/webm", V.DBO_MOVING_IMAGE),
    "mp4": ("video/mp4", V.DBO_MOVING_IMAGE),
    "js": ("application/javascript", DBO + "Software"),
}
