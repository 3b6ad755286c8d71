"""The extractor suite: one named segment per extractor, exploded once.

Each ``ALL_EXTRACTORS`` name is defined exactly once, as a segment: a
function from the parsed-page columns to an ``array<quad>`` expression, with
its namespace guard inside. ``fused_quads`` concatenates every segment per
page and explodes ONCE; ``run_extractors(parsed, names)`` explodes the named
subset the same way — the reference's ``CompositeParseExtractor`` (one page
parse, every ``Extractor[N].extract(page)`` over it) as one narrow pass:

    parsed (32 partitions) → select(quads_array) → explode → quad rows

``page_quads`` adds the mapping cascades (``mapping_engine``) to the same
select: the one per-page extraction every caller builds on.

No shuffle at all until the downstream dedup — per-page choices (first
homepage URL, first root coordinate) are array expressions or parse-time
columns, never a groupBy. At 100 TB this is the difference between 1 pass +
1 shuffle and one pass per extractor plus their aggregations.

The segments' only Python is one vectorized pandas UDF for the infobox
typing cascade (array-in / array-out, so it adds no explode-multiplied rows
to the Arrow channel); it is attached only when a selected segment reads its
``_ib`` column. Golden P/R = 1.0 is pinned by tests/test_end_to_end.py.
"""

from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .. import vocab as V
from ..dataparsers import _BR_SPLIT_RE, property_iri, property_label, type_value
from ..mapping_engine import mapping_quad_array, table_mapping_quad_array
from ..namespaces import (
    CATEGORY,
    DBO,
    FILE,
    MAIN,
    RDF_LANGSTRING,
    RDF_TYPE,
    RDFS_LABEL,
    TEMPLATE,
    XSD_INTEGER,
    XSD_NONNEG_INT,
    XSD_STRING,
)
from .structural import (
    _BARE_DOMAIN,
    _CAT_MAIN_TEMPLATES,
    _DISAMBIG_SUFFIX,
    _DISAMBIG_TEMPLATES,
    _EXT_SECTION_RE,
    _GENDER_TABLES,
    _HOMEPAGE_KEYS_BY_LANG,
    _IGNORE_PROPS_BY_LANG,
    _IGNORE_TEMPLATE_RE,
    _IGNORE_TEMPLATES,
    _OFFICIAL_RE,
    _OFFICIAL_TEMPLATE,
    _URL_IN_VALUE,
    FILE_TYPE_MAP,
    acronym_matches,
)

_XSD_FLOAT = "http://www.w3.org/2001/XMLSchema#float"
_XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
META_CONTRIBUTOR = "http://dbpedia.org/meta/contributor"
META_CONTRIBUTOR_ID = "http://dbpedia.org/meta/contributorID"
_FILE_PATH = "http://commons.wikimedia.org/wiki/Special:FilePath/"

_QUAD_DDL = (
    "array<struct<dataset:string,subject:string,predicate:string,"
    "value:string,context:string,datatype:string>>"
)


def _q(dataset: str, s: Column, p, v: Column, dt=None) -> Column:
    pc = F.lit(p) if isinstance(p, str) else p
    dtc = F.lit(dt) if (dt is None or isinstance(dt, str)) else dt
    return F.struct(
        F.lit(dataset).alias("dataset"),
        s.cast("string").alias("subject"),
        pc.cast("string").alias("predicate"),
        v.cast("string").alias("value"),
        F.lit(None).cast("string").alias("context"),
        dtc.cast("string").alias("datatype"),
    )


def _guard(cond: Column, seg: Column) -> Column:
    return F.when(cond, seg).otherwise(F.expr(f"cast(array() as {_QUAD_DDL})"))


def _sql(v) -> str:
    """A string, or a tuple of strings, as a Spark SQL literal."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "array(" + ", ".join(map(_sql, v)) + ")"


def _by_lang(table: dict, sql=_sql) -> Column:
    """The page language's entry of a per-language table (en fallback), as
    ONE SQL CASE over ``lang``; ``sql(entry)`` renders an entry. Parsing it
    is one py4j call, where a ``when`` chain costs several per language
    (measured ~2 s of driver time for the homepage tables alone)."""
    whens = " ".join(f"WHEN {_sql(lg)} THEN {sql(v)}" for lg, v in table.items() if lg != "en")
    return F.expr(f"CASE lang {whens} ELSE {sql(table['en'])} END")


def _param(t: Column, key: Column) -> Column:
    """The value of template ``t``'s parameter ``key`` (least, if repeated)."""
    return F.array_min(F.transform(F.filter(t["params"], lambda kv: kv["key"] == key), lambda kv: kv["value"]))


def _prop_base() -> Column:
    """Per-language property namespace (Language.propertyUri)."""
    return F.when(F.col("lang") == "en", F.lit("http://dbpedia.org/property/")).otherwise(
        F.concat(F.lit("http://"), F.col("lang"), F.lit(".dbpedia.org/property/"))
    )


# --- infobox typing cascade: one array-in/array-out pandas UDF --------------

_IB_RESULT = T.ArrayType(
    T.StructType(
        [
            T.StructField("prop_iri", T.StringType()),
            T.StructField("prop_label", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("datatype", T.StringType()),
            # source provenance for the Hybrid raw/mapped split
            T.StructField("src_template", T.StringType()),
            T.StructField("src_key", T.StringType()),
        ]
    )
)

_IGNORE_RE = re.compile(_IGNORE_TEMPLATE_RE)
_PARENS_RE = re.compile(r"\s*\([^()]*\)")
_IGNORE_TPL_SET = frozenset(_IGNORE_TEMPLATES)
_IGNORE_PROPS_SETS = {lg: frozenset(v) for lg, v in _IGNORE_PROPS_BY_LANG.items()}
_IGNORE_PROP_SET = _IGNORE_PROPS_SETS["en"]


def make_infobox_props_udf(template_redirects: dict[str, str] | None = None):
    """InfoboxExtractor gates + extractValue cascade
    (InfoboxExtractor.scala:108-197), vectorized per Arrow batch.

    ``template_redirects`` (Template-ns redirect map, already chain-resolved)
    feeds the date parsers' template path (DateTimeParser.scala:110 resolves
    template names through context.redirects before the templateDateMap
    lookup). The dict ships in the UDF closure — broadcast-once state."""
    tred = template_redirects or {}
    resolve = (lambda n: tred.get(n, n)) if tred else None

    @F.pandas_udf(_IB_RESULT)
    def infobox_props_udf(lang: pd.Series, templates: pd.Series) -> pd.Series:
        out = []
        for lg, tpls in zip(lang, templates):
            res = []
            for t in tpls if tpls is not None else []:
                name_l = (t["name"] or "").lower()
                if name_l in _IGNORE_TPL_SET or _IGNORE_RE.match(name_l):
                    continue
                tparams = t["params"] if t["params"] is not None else []
                ignore = _IGNORE_PROPS_SETS.get(lg, _IGNORE_PROP_SET)
                params = [p for p in tparams if (p["key"] or "").lower() not in ignore]
                if not params:
                    continue
                explicit = [p for p in params if not (p["key"] or "").isdigit()]
                if len(explicit) < 2 or (len(explicit) / len(params)) <= 0.75:
                    continue
                for p in explicit:
                    v = (p["value"] or "").strip()
                    if not v:
                        continue
                    # split multi-values on <br> (splitPropertyNodeRegexInfobox)
                    # and strip parenthesized suffixes on plain parts
                    # (NodeUtil.removeParentheses, NodeUtil.scala:20-69)
                    for part in _BR_SPLIT_RE.split(v):
                        part = part.strip()
                        if not part:
                            continue
                        if "[[" not in part and "http" not in part:
                            part = _PARENS_RE.sub("", part).strip()
                        try:
                            r = type_value(lg, part, resolve_template=resolve)
                        except Exception:
                            r = None
                        if r is not None:
                            res.append(
                                {
                                    "prop_iri": property_iri(lg, p["key"]),
                                    "prop_label": property_label(p["key"]),
                                    "value": r[0],
                                    "datatype": r[1],
                                    "src_template": t["name"],
                                    "src_key": p["key"],
                                }
                            )
            out.append(res)
        return pd.Series(out)

    return infobox_props_udf


# --- the segments -------------------------------------------------------------


class _Page:
    """The derived expressions several segments share (built once per
    plan)."""

    def __init__(self):
        self.subj = F.col("subject")
        self.pb = _prop_base()
        self.is_main = F.col("namespace") == MAIN
        self.is_cat = F.col("namespace") == CATEGORY
        self.is_redirect = F.col("redirect_target").isNotNull()
        self.internal = F.filter(F.col("links"), lambda l: l["iw"] == "")
        self.internal_main = F.filter(F.col("links"), lambda l: (l["iw"] == "") & (l["ns"] == MAIN))
        self.internal_cat = F.filter(F.col("links"), lambda l: (l["iw"] == "") & (l["ns"] == CATEGORY))


Segment = Callable[[_Page], Column]
SEGMENTS: dict[str, Segment] = {}


def _segment(name: str):
    def register(build: Segment) -> Segment:
        SEGMENTS[name] = build
        return build

    return register


@_segment("page_ids")
def _page_ids(p: _Page) -> Column:
    """PageIdExtractor (mappings/PageIdExtractor.scala:23-29): all namespaces."""
    return F.array(_q(V.PAGE_IDS, p.subj, V.WIKI_PAGE_ID, F.col("page_id"), XSD_INTEGER))


@_segment("revision_ids")
def _revision_ids(p: _Page) -> Column:
    """RevisionIdExtractor (mappings/RevisionIdExtractor.scala:23-29)."""
    return F.array(_q(V.REVISION_IDS, p.subj, V.WIKI_PAGE_REVISION_ID, F.col("revision_id"), XSD_INTEGER))


@_segment("labels")
def _labels(p: _Page) -> Column:
    """LabelExtractor (mappings/LabelExtractor.scala:27-37): Main-ns title as
    rdfs:label langString."""
    return _guard(p.is_main, F.array(_q(V.LABELS, p.subj, RDFS_LABEL, F.col("title"), RDF_LANGSTRING)))


@_segment("page_length")
def _page_length(p: _Page) -> Column:
    """WikiPageLengthExtractor (mappings/WikiPageLengthExtractor.scala:22-32)."""
    return _guard(
        p.is_main, F.array(_q(V.PAGE_LENGTH, p.subj, V.WIKI_PAGE_LENGTH, F.length("content"), XSD_NONNEG_INT))
    )


@_segment("out_degree")
def _out_degree(p: _Page) -> Column:
    """WikiPageOutDegreeExtractor (:25-37): count of internal-link nodes."""
    return _guard(
        p.is_main, F.array(_q(V.OUT_DEGREE, p.subj, V.WIKI_PAGE_OUT_DEGREE, F.size(p.internal), XSD_NONNEG_INT))
    )


@_segment("article_page")
def _article_page(p: _Page) -> Column:
    """ArticlePageExtractor (:23-41): foaf:isPrimaryTopicOf / primaryTopic /
    dc:language / rdf:type foaf:Document."""
    page = F.col("page_iri")
    return _guard(
        p.is_main,
        F.array(
            _q(V.WIKIPEDIA_LINKS, p.subj, V.FOAF_IS_PRIMARY_TOPIC_OF, page),
            _q(V.WIKIPEDIA_LINKS, page, V.FOAF_PRIMARY_TOPIC, p.subj),
            _q(V.WIKIPEDIA_LINKS, page, V.DC_LANGUAGE, F.col("lang"), XSD_STRING),
            _q(V.WIKIPEDIA_LINKS, page, RDF_TYPE, F.lit(V.FOAF_DOCUMENT)),
        ),
    )


@_segment("page_links")
def _page_links(p: _Page) -> Column:
    """PageLinksExtractor (:27-41): every internal link on a Main page, any
    destination namespace."""
    return _guard(
        p.is_main, F.transform(p.internal, lambda l: _q(V.PAGE_LINKS, p.subj, V.WIKI_PAGE_WIKI_LINK, l["iri"]))
    )


@_segment("anchor_text")
def _anchor_text(p: _Page) -> Column:
    """AnchorTextExtractor (:24-48): subject = link TARGET, value = anchor
    text — the surface-form generator feeding entity linking."""
    return _guard(
        p.is_main,
        F.transform(
            p.internal_main,
            lambda l: _q(V.ANCHOR_TEXT, l["iri"], V.WIKI_PAGE_WIKI_LINK_TEXT, l["label"], RDF_LANGSTRING),
        ),
    )


@_segment("external_links")
def _external_links(p: _Page) -> Column:
    """ExternalLinksExtractor (:24-37)."""
    return _guard(
        p.is_main,
        F.transform(
            F.col("external_links"), lambda e: _q(V.EXTERNAL_LINKS, p.subj, V.WIKI_PAGE_EXTERNAL_LINK, e["uri"])
        ),
    )


@_segment("article_categories")
def _article_categories(p: _Page) -> Column:
    """ArticleCategoriesExtractor (:16-29): Main-page links into Category ns."""
    return _guard(
        p.is_main,
        F.transform(p.internal_cat, lambda l: _q(V.ARTICLE_CATEGORIES, p.subj, V.DCT_SUBJECT, l["iri"])),
    )


@_segment("category_labels")
def _category_labels(p: _Page) -> Column:
    """CategoryLabelExtractor (:17-25)."""
    return _guard(p.is_cat, F.array(_q(V.CATEGORY_LABELS, p.subj, RDFS_LABEL, F.col("title"), RDF_LANGSTRING)))


@_segment("skos_categories")
def _skos_categories(p: _Page) -> Column:
    """SkosCategoriesExtractor (:24-41): Concept type + prefLabel + broader
    per category-destination link on Category pages."""
    return _guard(
        p.is_cat,
        F.concat(
            F.array(
                _q(V.SKOS_CATEGORIES, p.subj, RDF_TYPE, F.lit(V.SKOS_CONCEPT)),
                _q(V.SKOS_CATEGORIES, p.subj, V.SKOS_PREF_LABEL, F.col("title"), RDF_LANGSTRING),
            ),
            F.transform(p.internal_cat, lambda l: _q(V.SKOS_CATEGORIES, p.subj, V.SKOS_BROADER, l["iri"])),
        ),
    )


@_segment("article_templates")
def _article_templates(p: _Page) -> Column:
    """ArticleTemplatesExtractor (:31-65): top-level templates →
    article_templates, nested → article_templates_nested; predicate in the
    per-language PROPERTY namespace (see the FIXME at :25-27)."""
    pred = F.concat(p.pb, F.lit("wikiPageUsesTemplate"))
    return F.concat(
        F.transform(
            F.filter(F.col("templates"), lambda t: t["depth"] == 0),
            lambda t: _q(V.ARTICLE_TEMPLATES, p.subj, pred, t["iri"]),
        ),
        F.transform(
            F.filter(F.col("templates"), lambda t: t["depth"] > 0),
            lambda t: _q(V.ARTICLE_TEMPLATES_NESTED, p.subj, pred, t["iri"]),
        ),
    )


@_segment("template_parameters")
def _template_parameters(p: _Page) -> Column:
    """TemplateParameterExtractor (:26-55): declared {{{params}}} on
    non-redirect Template-ns pages, distinct per page, xsd:string."""
    pred = F.concat(p.pb, F.lit("templateUsesParameter"))
    return _guard(
        (F.col("namespace") == TEMPLATE) & ~p.is_redirect,
        F.transform(
            F.filter(F.array_distinct(F.col("param_decls")), lambda d: d != F.lit("")),
            lambda d: _q(V.TEMPLATE_PARAMETERS, p.subj, pred, d, XSD_STRING),
        ),
    )


@_segment("redirects")
def _redirects(p: _Page) -> Column:
    """RedirectExtractor (:27-38): redirect pages in {Main, Template,
    Category} whose first link targets the SAME namespace."""
    first_link = F.element_at("links", 1)
    return _guard(
        p.is_redirect
        & (F.size("links") > 0)
        & (first_link["iw"] == "")
        & (first_link["ns"] == F.col("namespace"))
        & F.col("namespace").isin(MAIN, TEMPLATE, CATEGORY),
        F.array(_q(V.REDIRECTS, p.subj, V.WIKI_PAGE_REDIRECTS, first_link["iri"])),
    )


@_segment("interlanguage_links")
def _interlanguage_links(p: _Page) -> Column:
    """InterLanguageLinksExtractor (:17-26): InterWikiLinkNodes on
    Main/Template/Category pages."""
    return _guard(
        F.col("namespace").isin(MAIN, TEMPLATE, CATEGORY),
        F.transform(
            F.filter(F.col("links"), lambda l: l["iw"] != ""),
            lambda l: _q(V.INTERLANGUAGE_LINKS, p.subj, V.WIKI_PAGE_INTER_LANGUAGE_LINK, l["iri"]),
        ),
    )


@_segment("abstracts")
def _abstracts(p: _Page) -> Column:
    """Deterministic first-paragraph abstract (substitute for the reference's
    live-API PlainAbstractExtractor — SURVEY.md §2.3 abstracts group)."""
    return _guard(
        p.is_main & ~p.is_redirect & (F.col("abstract") != ""),
        F.array(_q(V.ABSTRACTS, p.subj, V.ABSTRACT_PROP, F.col("abstract"), RDF_LANGSTRING)),
    )


@_segment("disambiguations")
def _disambiguations(p: _Page) -> Column:
    """DisambiguationExtractor (:31-83): on disambiguation pages keep links
    whose target contains the cleaned page title (case-insensitive) OR
    spells it out as an acronym (:68-83). The title is cleaned of the page
    language's suffix, then of the en one (DisambiguationExtractorConfig
    :8-41; en-titled pages occur in every edition). A page is a
    disambiguation page if it carries a disambiguation template (the
    reference's fallback, Disambiguations.scala:70-77; its primary source,
    the page_props dump, is not a job input)."""
    is_disambig = F.exists(F.col("templates"), lambda t: F.lower(t["name"]).isin(*_DISAMBIG_TEMPLATES))
    lang_stripped = F.regexp_replace(F.col("title"), _by_lang(_DISAMBIG_SUFFIX), F.lit(""))
    clean_title = F.upper(F.regexp_replace(lang_stripped, _DISAMBIG_SUFFIX["en"], ""))
    # a lambda body re-evaluates outer expressions per element: the
    # one-element array binds the cleaned title once per page
    return _guard(
        p.is_main & is_disambig,
        F.flatten(
            F.transform(
                F.array(clean_title),
                lambda ct: F.transform(
                    F.filter(
                        p.internal_main,
                        lambda l: F.upper(l["target"]).contains(ct) | acronym_matches(ct, l["target"]),
                    ),
                    lambda l: _q(V.DISAMBIGUATIONS, p.subj, V.WIKI_PAGE_DISAMBIGUATES, l["iri"]),
                ),
            )
        ),
    )


@_segment("geo")
def _geo(p: _Page) -> Column:
    """GeoExtractor (:26-58): first ROOT template parseable as a coordinate →
    4 quads. The coordinate itself is computed at parse time
    (wikitext.ParsedPage.first_coord), so this is a pure projection."""
    lat_s = F.col("coord_lat").cast("string")  # double repr == vocab.fmt_double
    lon_s = F.col("coord_lon").cast("string")
    return _guard(
        p.is_main & F.col("coord_lat").isNotNull(),
        F.array(
            _q(V.GEO_COORDINATES, p.subj, RDF_TYPE, F.lit(V.GEO_SPATIAL_THING)),
            _q(V.GEO_COORDINATES, p.subj, V.GEO_LAT, lat_s, _XSD_FLOAT),
            _q(V.GEO_COORDINATES, p.subj, V.GEO_LONG, lon_s, _XSD_FLOAT),
            _q(V.GEO_COORDINATES, p.subj, V.GEORSS_POINT, F.concat_ws(" ", lat_s, lon_s), XSD_STRING),
        ),
    )


@_segment("homepages")
def _homepages(p: _Page) -> Column:
    """HomepageExtractor (mappings/HomepageExtractor.scala:47-102): in
    priority order — (1) the first URL in a website/homepage infobox
    property (per-language property names, bare domains prefixed http://),
    (2) an {{official website}}-family template inside the external-links
    section, (3) an external link whose list item matches the language's
    'official' keyword inside that section. 'Inside the section' = line
    number within [section line, next section line). The winner is the
    least (rank, position), ties broken by URL."""
    # (1) infobox property
    def prop_url(v: Column) -> Column:
        url = F.regexp_extract(v, _URL_IN_VALUE, 1)
        bare = F.regexp_extract(v, _BARE_DOMAIN, 1)
        return F.when(url != "", url).when(bare != "", F.concat(F.lit("http://"), bare))

    keys = _by_lang(_HOMEPAGE_KEYS_BY_LANG)
    by_prop = F.flatten(
        F.transform(
            F.col("templates"),
            lambda t: F.transform(
                F.filter(t["params"], lambda kv: F.array_contains(keys, F.lower(kv["key"]))),
                lambda kv: F.struct(
                    F.lit(0).alias("rank"), t["pos"].alias("pos"), prop_url(kv["value"]).alias("url")
                ),
            ),
        )
    )

    # the external-links section's line range [lo, hi) as a 0/1-element
    # array: a lambda body re-evaluates outer expressions per element, so
    # binding the range through an array computes it once per page
    lo = F.array_min(
        F.transform(
            F.filter(F.col("sections"), lambda s: F.regexp_like(s["name"], _by_lang(_EXT_SECTION_RE))),
            lambda s: s["line"],
        )
    )
    section = F.transform(
        F.filter(F.array(lo), lambda x: x.isNotNull()),
        lambda x: F.struct(
            x.alias("lo"),
            F.coalesce(
                F.array_min(F.transform(F.filter(F.col("sections"), lambda s: s["line"] > x), lambda s: s["line"])),
                F.lit(2**31 - 1),
            ).alias("hi"),
        ),
    )

    # (2) {{official website|url}} template inside the section
    tpl_name = _by_lang(_OFFICIAL_TEMPLATE, lambda nk: _sql(nk[0]))
    tpl_key = _by_lang(_OFFICIAL_TEMPLATE, lambda nk: _sql(nk[1]))

    def tpl_url(t: Column) -> Column:
        v = _param(t, tpl_key)
        return F.when(v.rlike(r"^(?:https?|ftp)://"), v).when(
            v.rlike(_BARE_DOMAIN), F.concat(F.lit("http://"), F.trim(v))
        )

    # (3) external link in the section whose LIST-ITEM text mentions the
    # 'official' keyword (the reference's listItemStartRegex over the text
    # node, HomepageExtractor.scala:38,180-196 — the keyword sits in the item
    # text, not necessarily the link label; a transformed {{Official
    # website}} link has no label at all). Line-shift-proof: match any
    # source line carrying both the link URI and the keyword.
    official_re = _by_lang(_OFFICIAL_RE)

    def official(e: Column) -> Column:
        return F.regexp_like(e["label"], official_re) | F.exists(
            F.split(F.col("content"), "\n"),
            lambda ln: ln.contains(e["uri"]) & F.regexp_like(ln, official_re),
        )

    def in_section(r: Column, line: Column) -> Column:
        return (line >= r["lo"]) & (line < r["hi"])

    by_section = F.flatten(
        F.transform(
            section,
            lambda r: F.concat(
                F.transform(
                    F.filter(
                        F.col("templates"),
                        lambda t: (F.lower(F.regexp_replace(t["name"], "_", " ")) == tpl_name)
                        & in_section(r, t["line"]),
                    ),
                    lambda t: F.struct(F.lit(1).alias("rank"), t["line"].alias("pos"), tpl_url(t).alias("url")),
                ),
                F.transform(
                    F.filter(F.col("external_links"), lambda e: in_section(r, e["line"]) & official(e)),
                    lambda e: F.struct(F.lit(2).alias("rank"), e["line"].alias("pos"), e["uri"].alias("url")),
                ),
            ),
        )
    )
    cands = F.array_sort(F.filter(F.concat(by_prop, by_section), lambda c: c["url"].isNotNull()))
    winner = F.try_element_at(cands, F.lit(1))["url"]  # null (dropped) when no candidate
    return _guard(p.is_main, F.array(_q(V.HOMEPAGES, p.subj, V.FOAF_HOMEPAGE, winner)))


@_segment("provenance")
def _provenance(p: _Page) -> Column:
    """ProvenanceExtractor (mappings/ProvenanceExtractor.scala:25-29):
    prov:wasDerivedFrom sourceIri (WikiPage.scala:62)."""
    src = F.concat(F.col("page_iri"), F.lit("?oldid="), F.col("revision_id"), F.lit("&ns="), F.col("namespace"))
    return F.array(_q(V.PROVENANCE, p.subj, V.PROV_WAS_DERIVED_FROM, src))


def _pronoun_counts(pronouns: tuple[str, ...]) -> str:
    """SQL: the summed pronoun counts over the raw wikitext. regexp_count
    keeps the reference's exact non-overlapping-match semantics
    (GenderExtractor.scala:58 findAllIn) without materializing a split
    array of the full page per pronoun; the Capitalized form counts too
    (pronounsMap lists both)."""
    def pattern(w: str) -> str:
        cased = f"[{w[0].upper()}{w[0]}]{w[1:]}" if w[0].upper() != w[0] else w
        return r"\W" + cased + r"\W"

    return " + ".join(f"regexp_count(content, {_sql(pattern(w))})" for w in pronouns)


def _person_template_names() -> list[str]:
    """Template names mapped to dbo:Person (GenderExtractor applies only to
    Person-typed pages; the reference re-runs the MappingExtractor to find
    out, GenderExtractor.scala:39-49 — this consults the mapping config)."""
    from ..mapping_engine import default_mappings

    return [n for n, m in default_mappings().items() if m.map_to_class == DBO + "Person"]


@_segment("gender")
def _gender(p: _Page) -> Column:
    """GenderExtractor (mappings/GenderExtractor.scala:39-86): argmax of the
    language's gendered pronoun counts over the raw wikitext; emit the
    language's gender word when count > 3 and count/second > 2
    (GenderExtractorConfig.scala:31-33). A null gender falls out in the
    suite's final value filter."""
    male = _by_lang(_GENDER_TABLES, lambda g: _pronoun_counts(g[0]))
    female = _by_lang(_GENDER_TABLES, lambda g: _pronoun_counts(g[1]))
    male_word = _by_lang(_GENDER_TABLES, lambda g: _sql(g[2]))
    female_word = _by_lang(_GENDER_TABLES, lambda g: _sql(g[3]))
    gender = F.when((male > 3) & ((female == 0) | (male / female > 2)), male_word).when(
        (female > 3) & ((male == 0) | (female / male > 2)), female_word
    )
    is_person = F.exists(F.col("templates"), lambda t: F.lower(t["name"]).isin(*_person_template_names()))
    return _guard(
        p.is_main & is_person, F.array(_q(V.GENDERS, p.subj, V.FOAF_GENDER, gender, RDF_LANGSTRING))
    )


@_segment("topical_concepts")
def _topical_concepts(p: _Page) -> Column:
    """TopicalConceptsExtractor (mappings/TopicalConceptsExtractor.scala:
    37-62): Category pages carrying a {{Cat main|Article}}-family template →
    mainArticleForCategory to the named article (first positional param).
    The blank-sort-label link path ([[Main article| ]]) rides along as a
    documented extension — the golden corpus marks main articles that way."""
    from ..wikidata import wiki_encode_expr

    resource = F.when(F.col("lang") == "en", F.lit("http://dbpedia.org/resource/")).otherwise(
        F.concat(F.lit("http://"), F.col("lang"), F.lit(".dbpedia.org/resource/"))
    )
    by_label = F.filter(
        F.col("links"), lambda l: (l["iw"] == "") & (l["ns"] == MAIN) & (F.trim(l["label"]) == "")
    )
    mains = F.filter(
        F.transform(
            F.filter(F.col("templates"), lambda t: F.lower(t["name"]).isin(*_CAT_MAIN_TEMPLATES)),
            lambda t: _param(t, F.lit("1")),
        ),
        lambda v: F.trim(v) != "",
    )
    return _guard(
        p.is_cat,
        F.transform(
            F.concat(
                F.transform(by_label, lambda l: l["iri"]),
                F.transform(mains, lambda v: F.concat(resource, wiki_encode_expr(v))),
            ),
            lambda iri: _q(V.TOPICAL_CONCEPTS, p.subj, V.MAIN_ARTICLE_FOR_CATEGORY, iri),
        ),
    )


def _image_quads(p: _Page, enc: Column) -> Column:
    """The per-file image quads both image extractors emit."""
    url = F.concat(F.lit(_FILE_PATH), enc)
    thumb = F.concat(url, F.lit("?width=300"))
    wiki_page = F.concat(F.lit("http://"), F.col("lang"), F.lit(".wikipedia.org/wiki/File:"), enc)
    return F.array(
        _q(V.IMAGES, p.subj, V.FOAF_DEPICTION, url),
        _q(V.IMAGES, url, V.FOAF_THUMBNAIL, thumb),
        _q(V.IMAGES, url, RDF_TYPE, F.lit(V.DBO_IMAGE)),
        _q(V.IMAGES, thumb, RDF_TYPE, F.lit(V.DBO_IMAGE)),
        _q(V.IMAGES, url, V.DC_RIGHTS, wiki_page),
        _q(V.IMAGES, thumb, V.DC_RIGHTS, wiki_page),
    )


@_segment("images")
def _images(p: _Page) -> Column:
    """ImageExtractor (mappings/ImageExtractorNew.scala:54-94, link-based
    core): File-namespace links on Main pages → foaf:depiction + commons
    FilePath URL, per-image type/rights quads, dbo:thumbnail for the FIRST
    image."""
    file_links = F.filter(F.col("links"), lambda l: (l["iw"] == "") & (l["ns"] == FILE))
    enc = lambda l: F.regexp_extract(l["iri"], r"File:(.*)$", 1)  # noqa: E731
    first_thumb = F.concat(F.lit(_FILE_PATH), enc(file_links[0]), F.lit("?width=300"))
    return F.concat(
        _guard(p.is_main, F.flatten(F.transform(file_links, lambda l: _image_quads(p, enc(l))))),
        _guard(
            p.is_main & (F.size(file_links) > 0),
            F.array(_q(V.IMAGES, p.subj, V.DBO_THUMBNAIL, first_thumb)),
        ),
    )


@_segment("gallery_images")
def _gallery_images(p: _Page) -> Column:
    """GalleryExtractor (mappings/GalleryExtractor.scala:24-122): files
    listed inside ``<gallery>`` bodies on Main pages → the same image quad
    shapes as the link-based ImageExtractor (minus the first-image
    dbo:thumbnail, which stays link-based)."""
    return _guard(p.is_main, F.flatten(F.transform(F.col("galleries"), lambda g: _image_quads(p, g["enc"]))))


@_segment("file_types")
def _file_types(p: _Page) -> Column:
    """FileTypeExtractor (mappings/FileTypeExtractor.scala:40-226): File-ns
    pages with a recognizable extension → dbo:fileExtension, dct:format
    (mime), rdf:type dbo:File + the specific media class, dbo:fileURL to the
    commons FilePath. Pages without an extension are skipped (the reference
    logs and skips too); unknown extensions' null mime/class quads fall out
    in the final value filter."""
    ext = F.lower(F.regexp_extract(F.col("title"), r"\.([A-Za-z0-9]+)$", 1))
    mime_pairs: list[Column] = []
    cls_pairs: list[Column] = []
    for e, (mime, cls) in FILE_TYPE_MAP.items():
        mime_pairs += [F.lit(e), F.lit(mime)]
        cls_pairs += [F.lit(e), F.lit(cls)]
    url = F.concat(F.lit(_FILE_PATH), F.regexp_extract(p.subj, r"File:(.*)$", 1))
    return _guard(
        (F.col("namespace") == FILE) & (ext != ""),
        F.array(
            _q(V.FILE_TYPES, p.subj, V.DBO_FILE_EXTENSION, ext, XSD_STRING),
            _q(V.FILE_TYPES, p.subj, V.DCT_FORMAT, F.element_at(F.create_map(*mime_pairs), ext), XSD_STRING),
            _q(V.FILE_TYPES, p.subj, RDF_TYPE, F.lit(V.DBO_FILE)),
            _q(V.FILE_TYPES, p.subj, RDF_TYPE, F.element_at(F.create_map(*cls_pairs), ext)),
            _q(V.FILE_TYPES, p.subj, V.DBO_FILE_URL, url),
        ),
    )


@_segment("infobox_references")
def _infobox_references(p: _Page) -> Column:
    """InfoboxReferencesExtractor (mappings/InfoboxReferencesExtractor.scala:
    60-170, simplified): <ref> bodies attributed to the infobox property on
    whose line they sit → (page, property IRI, plain ref text). Attribution
    and IRI minting happen at parse time (kgforge/wikitext._extract_refs).
    Refs whose body renders to '' (pure cite markup) are carried for the
    CitedFactsExtractor but emit no reference-text quad."""
    return _guard(
        p.is_main,
        F.transform(
            F.filter(F.col("ref_texts"), lambda r: r["prop_iri"].isNotNull() & (r["text"] != "")),
            lambda r: _q(V.INFOBOX_REFERENCES, p.subj, r["prop_iri"], r["text"], RDF_LANGSTRING),
        ),
    )


@_segment("meta_information")
def _meta_information(p: _Page) -> Column:
    """MetaInformationExtractor (mappings/MetaInformationExtractor.scala:
    24-53): modification date + edit/revision/history links for Main-ns
    pages → revision_meta. Divergence (documented): the corpus carries no
    edit timestamps, so the date is 2000-01-01 + (revision_id % 9000) days,
    as xsd:date; the reference's wall-clock wikiPageExtracted quad is NOT
    emitted — a non-deterministic value would break exact resume and P/R
    comparison."""
    idx = F.concat(
        F.lit("http://"), F.col("lang"), F.lit(".wikipedia.org/w/index.php?title="),
        F.regexp_extract(F.col("page_iri"), r"([^/]+)$", 1),
    )
    modified = F.date_add(
        F.to_date(F.lit("2000-01-01")), (F.col("revision_id") % 9000).cast("int")
    ).cast("string")
    return _guard(
        p.is_main,
        F.array(
            _q(V.REVISION_META, p.subj, DBO + "wikiPageModified", modified, _XSD_DATE),
            _q(V.REVISION_META, p.subj, DBO + "wikiPageEditLink", F.concat(idx, F.lit("&action=edit"))),
            _q(V.REVISION_META, p.subj, DBO + "wikiPageRevisionLink",
               F.concat(idx, F.lit("&oldid="), F.col("revision_id").cast("string"))),
            _q(V.REVISION_META, p.subj, DBO + "wikiPageHistoryLink", F.concat(idx, F.lit("&action=history"))),
        ),
    )


@_segment("contributors")
def _contributors(p: _Page) -> Column:
    """ContributorExtractor (mappings/ContributorExtractor.scala:28-65).
    Derivation decision (the corpus carries no contributor columns): the
    committing entity is the repo — name = repo, id = a deterministic small
    int from the repo string; subject of the page→contributor quad is the
    wiki page IRI, mirroring the reference's pageURL choice."""
    curl = F.concat(F.lit("http://dbpedia.org/contributor/"), F.regexp_replace(F.col("repo"), " ", "_"))
    cid = (F.length("repo") * 1000 + F.ascii(F.substring("repo", 1, 1))).cast("string")
    return _guard(
        p.is_main,
        F.array(
            _q(V.REVISION_META, F.col("page_iri"), META_CONTRIBUTOR, curl),
            _q(V.REVISION_META, curl, RDFS_LABEL, F.col("repo"), XSD_STRING),
            _q(V.REVISION_META, curl, META_CONTRIBUTOR_ID, cid, XSD_INTEGER),
        ),
    )


@_segment("infobox")
def _infobox(p: _Page) -> Column:
    """InfoboxExtractor (mappings/InfoboxExtractor.scala:108-197): the typed
    raw template harvest of the ``_ib`` column, plus per-page property
    definition quads (deduplicated globally downstream)."""
    ib = F.when(p.is_main, F.col("_ib")).otherwise(F.expr("cast(array() as " + _IB_RESULT.simpleString() + ")"))
    return F.concat(
        F.transform(ib, lambda r: _q(V.INFOBOX_PROPERTIES, p.subj, r["prop_iri"], r["value"], r["datatype"])),
        F.flatten(
            F.transform(
                ib,
                lambda r: F.array(
                    _q(V.INFOBOX_PROPERTY_DEFINITIONS, r["prop_iri"], RDF_TYPE, F.lit(V.RDF_PROPERTY)),
                    _q(V.INFOBOX_PROPERTY_DEFINITIONS, r["prop_iri"], RDFS_LABEL, r["prop_label"], RDF_LANGSTRING),
                ),
            )
        ),
    )


ALL_EXTRACTORS = tuple(SEGMENTS)


# --- the one explode ------------------------------------------------------------


def _quads_per_page(
    parsed: DataFrame, names, template_redirects: dict[str, str] | None, cascades=()
) -> DataFrame:
    page = _Page()
    # building the segment expression trees costs ~7,800 serial py4j round
    # trips for the full suite: a small thread pool overlaps them
    # (construction only; the plan is identical and order-preserving)
    with ThreadPoolExecutor(8) as ex:
        built = list(ex.map(lambda n: SEGMENTS[n](page), names))
    if "infobox" in names:  # the only `_ib` reader
        ib_udf = make_infobox_props_udf(template_redirects)
        parsed = parsed.withColumn("_ib", ib_udf(F.col("lang"), F.col("templates")))
    return parsed.select(
        "page_id",
        F.col("lang").alias("language"),
        F.filter(
            F.concat(*built, *cascades), lambda q: q["subject"].isNotNull() & q["value"].isNotNull()
        ).alias("quads"),
    )


def explode_quads(per_page: DataFrame) -> DataFrame:
    """(language, quads array) rows → one flat quad row per element."""
    # explode_outer: explode's inferred `size(quads) > 0` filter re-runs every segment and UDF
    return per_page.select("language", F.explode_outer("quads").alias("q")).filter(
        F.col("q").isNotNull()
    ).select(
        "language",
        *(F.col("q." + c).alias(c)
          for c in ("dataset", "subject", "predicate", "value", "context", "datatype")),
    )


def page_quads(
    parsed: DataFrame,
    template_redirects: dict[str, str] | None = None,
    mappings=None,
    ontology=None,
) -> DataFrame:
    """(page_id, language, quads array<quad struct>): every segment plus the
    mapping and table-mapping cascades (``mappings``, ``ontology`` as
    ``Pipeline.run`` takes them) in ONE select. The batch job's ``quads``
    stage explodes it; the DBpedia-Live store keeps it per page, as the
    reference re-extracts a changed page with the dump run's extraction and
    diffs its quad SET (live/.../publisher/DiffData.java:11-26)."""
    cascades = (mapping_quad_array(mappings, ontology, template_redirects),
                table_mapping_quad_array(ontology=ontology))
    return _quads_per_page(parsed, ALL_EXTRACTORS, template_redirects, cascades)


def fused_quads(parsed: DataFrame, template_redirects: dict[str, str] | None = None) -> DataFrame:
    """Every extractor segment over the parsed pages (no mapping cascades):
    one quad row per emitted quad."""
    return explode_quads(_quads_per_page(parsed, ALL_EXTRACTORS, template_redirects))


def run_extractors(parsed: DataFrame, names: list[str] | None = None) -> DataFrame:
    """The named extractors only (all when ``names`` is None), in the same
    single explode. Callers persist/checkpoint ``parsed`` so the parse stage
    runs once."""
    return explode_quads(_quads_per_page(parsed, names or ALL_EXTRACTORS, None))
