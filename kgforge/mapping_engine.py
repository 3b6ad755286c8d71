"""MappingExtractor: community template-mapping rules → typed statements.

Re-implements the semantics of mappings/MappingExtractor.scala (97 LoC),
TemplateMapping.scala:35-180 (instance typing, first-mapped-template-wins)
and SimplePropertyMapping.scala (rule-driven value typing with unit
standardization + class-specific specialized predicates) as ONE vectorized
pandas UDF over the parse stage's ``templates`` column.

Why a UDF and not joins: the reference's semantics are per-page and
order-sensitive (the FIRST mapped template determines the page's class,
TemplateMapping.scala:40-53) — inside the UDF the page's templates arrive
together in parse order, so the window/ordering logic is plain Python and
the stage stays shuffle-free. The mapping rules + ontology are small
broadcast state (SparkExtractionJob.scala:50-57 analog: closure-captured,
shipped once per executor).

Datasets emitted: instance_types, instance_types_transitive,
mappingbased_literals, mappingbased_objects_uncleaned,
specific_mappingbased_properties.

Post-processing: ``type_consistency`` splits mappingbased objects into
cleaned / disjoint-domain / disjoint-range (scripts/TypeConsistencyCheck
.scala:24-55 — untyped and non-disjoint both land in cleaned, :171-179).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import vocab as V
from .dataparsers import (
    _BR_SPLIT_RE,
    DIMENSION_OF_STANDARD,
    _parse_double,
    _parse_int,
    parse_boolean,
    parse_date,
    parse_duration,
    parse_enumeration,
    parse_flag_template,
    parse_geo_text,
    parse_scaled_number,
    parse_single_coordinate,
    parse_inconvertible_unit,
    parse_unit_value,
    plain_string,
)
from .dates import find_date, merge_date_parts
from .namespaces import (
    MAIN,
    RDF_LANGSTRING,
    RDF_TYPE,
    XSD_DATE,
    XSD_DOUBLE,
    XSD_NONNEG_INT,
    normalize_title,
    resource_base,
    split_namespace,
    title_with_namespace,
    wiki_encode,
)
from .ontology import DBO, OWL_THING, Ontology, default_ontology
from .vocab import fmt_double
from .wikitext import _CITE_NAME_RE

# ---------------------------------------------------------------------------
# mapping rules (the MappingsLoader fixture — FIXTURES.md §3.1)
# ---------------------------------------------------------------------------


@dataclass
class PropertyRule:
    template_property: str      # lowercased param key
    ontology_property: str      # property IRI
    select: str | None = None   # "first" | "last" | None (SimplePropertyMapping.scala:34-46)
    prefix: str | None = None   # literal transform (SimplePropertyMapping.scala:47-65)
    suffix: str | None = None


@dataclass
class IntervalRule:
    """DateIntervalMapping (mappings/DateIntervalMapping.scala, 145 LoC):
    one template property carries a year interval → start/end properties."""
    template_property: str
    start_property: str
    end_property: str


@dataclass
class CombineDateRule:
    """CombineDateMapping (mappings/CombineDateMapping.scala:38-56): partial
    dates in several template properties merge into one value of the target
    property's range (gYear + gMonthDay → xsd:date)."""
    ontology_property: str
    # template property → datatype-hint IRI (xsd:gYear / gYearMonth / gMonthDay)
    template_properties: dict[str, str] = field(default_factory=dict)


@dataclass
class CalculateRule:
    """CalculateMapping (mappings/CalculateMapping.scala:60-108): combine two
    template properties arithmetically ('add') into one typed value; unit
    ranges go through SI standardization + specific-property emission."""
    template_property_1: str
    template_property_2: str
    ontology_property: str
    operation: str = "add"


@dataclass
class GeoRule:
    """GeoCoordinatesMapping (mappings/GeoCoordinatesMapping.scala:61-120):
    either one property carrying a full coordinate, or a latitude/longitude
    property pair → geo:lat / geo:long / georss:point."""
    coordinates: str | None = None
    latitude: str | None = None
    longitude: str | None = None


@dataclass
class IntermediateRule:
    """IntermediateNodeMapping (mappings/IntermediateNodeMapping.scala):
    mint a per-page sub-resource (UriGenerator counter semantics,
    wikiparser/Node.scala:165-238: baseUri + "__" + name + "__" + counter)
    holding a group of properties, linked from the page."""
    name: str                   # cleaned name used in the minted IRI
    node_class: str             # class IRI of the sub-resource
    link_property: str          # page → node object property
    rules: list[PropertyRule] = field(default_factory=list)


@dataclass
class TableRule:
    """TableMapping (mappings/TableMapping.scala:31-147): tables whose header
    matches the keyword groups become one typed instance per data row, with
    columns matched to template properties by the header definition."""
    map_to_class: str
    keywords: str                      # "a,b;c" — ';' groups, ',' alternatives
    header: str                        # per property: "year;value&total"
    rules: list[PropertyRule] = field(default_factory=list)
    corresponding_property: str | None = None


@dataclass
class ClassCondition:
    """ConditionalMapping (mappings/ConditionalMapping.scala /
    ConditionMapping.scala: isSet / equals / contains / otherwise guards
    choosing the mapped class)."""
    template_property: str
    operator: str               # "isSet" | "equals" | "contains" | "otherwise"
    value: str | None
    map_to_class: str


@dataclass
class TemplateMapping:
    template_name: str          # lowercased
    map_to_class: str           # class IRI (the 'otherwise' default)
    rules: list[PropertyRule] = field(default_factory=list)
    conditions: list[ClassCondition] = field(default_factory=list)
    # ConstantMapping: fixed (property, value, datatype|None) per mapped page
    constants: list[tuple[str, str, str | None]] = field(default_factory=list)
    intervals: list[IntervalRule] = field(default_factory=list)
    intermediates: list[IntermediateRule] = field(default_factory=list)
    combine_dates: list[CombineDateRule] = field(default_factory=list)
    calculates: list[CalculateRule] = field(default_factory=list)
    geo: list[GeoRule] = field(default_factory=list)


def default_mappings() -> dict[str, TemplateMapping]:
    """Mapping rules for the synthetic + driver corpora, loaded from the
    mappings-wiki-style data files under ``kgforge/fixtures/mappings/en/``
    (MappingsLoader.scala:24-92 analog — adding a mapping is a data edit,
    not a code edit)."""
    from .mappings_loader import cached_mappings

    return dict(cached_mappings("en"))


# ---------------------------------------------------------------------------
# value typing by ontology range (SimplePropertyMapping.scala:106-161)
# ---------------------------------------------------------------------------

_WIKILINK_RE = re.compile(r"^\[\[([^\]\|]+)(?:\|[^\]]*)?\]\]$")
_XSD_FLOAT = "http://www.w3.org/2001/XMLSchema#float"
XSD_STRING_IRI = "http://www.w3.org/2001/XMLSchema#string"
_COORD_TPL_RE = re.compile(r"\{\{\s*(?:coord|coor|location)\s*\|([^{}]*)\}\}", re.IGNORECASE)
_FLAG_TPL_RE = re.compile(r"\{\{\s*(flagicon|flagcountry|flag)\s*\|\s*([^{}|]+?)\s*(?:\|[^{}]*)?\}\}", re.IGNORECASE)


def _coord_from_value(v: str, lang: str | None = None):
    """Coordinate out of one property value: {{coord|...}} template first
    (GeoCoordinatesMapping case 1 via GeoCoordinateParser.catchTemplate),
    then the free-text DMS/decimal families."""
    m = _COORD_TPL_RE.search(v)
    if m:
        from .wikitext import parse_coord_params

        c = parse_coord_params([p.strip() for p in m.group(1).split("|")])
        if c is not None:
            return c
    return parse_geo_text(v, lang)


def _object_iri(lang: str, raw: str) -> str | None:
    m = _WIKILINK_RE.match(raw.strip())
    if not m:
        return None
    ns, rest = split_namespace(m.group(1).split("#")[0])
    title = normalize_title(rest)
    if not title:
        return None
    return resource_base(lang) + wiki_encode(title_with_namespace(ns, title))


def type_by_range(lang: str, raw: str, prop_kind: str, prop_range: str | None,
                  resolve_template=None, enum: dict[str, str] | None = None,
                  surface_forms: dict[str, str] | None = None):
    """→ (value, datatype, si_value|None) or None. si_value feeds the
    specific-property conversion for unit ranges. ``surface_forms`` is the
    page's own {lower anchor/title: link IRI} dict for the bare-text object
    fallback."""
    v = raw.strip()
    if not v:
        return None
    if prop_kind == "object":
        iri = _object_iri(lang, v)
        if iri is None:
            # flag templates name a country (FlagTemplateParser path of
            # ObjectParser, dataparser/ObjectParser.scala:40-141)
            fm = _FLAG_TPL_RE.search(v)
            if fm:
                country = parse_flag_template(fm.group(1), fm.group(2), lang)
                if country:
                    iri = resource_base(lang) + wiki_encode(normalize_title(country))
        if iri is None and surface_forms:
            # same-page surface-form fallback (ObjectParser.scala:40-141
            # getTitleForSurfaceForm): a bare-text value of an object-ranged
            # property resolves against the anchor texts / targets of links
            # elsewhere on the SAME page — per-page array, no shuffle
            p = plain_string(v).strip().lower()
            if p:
                iri = surface_forms.get(p)
        return (iri, None, None) if iri else None
    if enum:
        # EnumerationParser: value must be one of the ontology enumeration's
        # allowed lexical forms (dataparser/EnumerationParser.scala)
        mapped = parse_enumeration(v, enum)
        return (mapped, XSD_STRING_IRI, None) if mapped else None
    rng = prop_range or ""
    if rng.endswith("langString"):
        p = plain_string(v)
        return (p, RDF_LANGSTRING, None) if p else None
    if rng.endswith(("#date", "#gYear", "#gYearMonth", "#gMonthDay")):
        # SimplePropertyMapping builds its DateTimeParser non-strict
        # (DateTimeParser.scala:20 default): the date may sit inside text.
        d = find_date(v, rng, strict=False, resolve_template=resolve_template, lang=lang)
        return (d[0], d[1], None) if d else None
    if rng.endswith(("#integer", "#nonNegativeInteger", "#positiveInteger")):
        iv = _parse_int(v)
        if iv is None:
            return None
        if rng.endswith("nonNegativeInteger") and iv < 0:
            return None
        return (str(iv), rng, None)
    if rng.endswith(("#double", "#float")):
        dv = _parse_double(v)
        if dv is None:
            dv = parse_scaled_number(v, lang)
        return (fmt_double(dv), rng, None) if dv is not None else None
    if rng.endswith("#boolean"):
        b = parse_boolean(v)
        return (("true" if b else "false"), rng, None) if b is not None else None
    if prop_kind == "unit" and rng == "Time":
        d = parse_duration(v, lang)
        if d is not None:
            return (fmt_double(d), XSD_DOUBLE, d)
    if prop_kind == "unit":
        # InconvertibleUnitDatatype pass-through (currencies): keep the value
        # in its unit with the unit-datatype IRI; no SI → no specialized
        # predicate (SimplePropertyMapping.scala:244-276)
        inc = parse_inconvertible_unit(v, loose=(rng == "Currency"))
        if inc is not None and (not rng or rng == "Currency"):
            return (fmt_double(inc[0]), inc[1], None)
        # a currency hit under a non-Currency range falls THROUGH to the
        # dimensioned unit parse ('12 km2 (worth $3M)' is still an Area)
        uv = parse_unit_value(v)
        if uv is None:
            return None
        si, std = uv
        # dimension check: a value in a Mass unit cannot fill an Area-ranged
        # property (UnitValueParser.scala:38-60 unit-vs-datatype check)
        if rng and DIMENSION_OF_STANDARD.get(std) != rng:
            return None
        return (fmt_double(si), XSD_DOUBLE, si)
    p = plain_string(v)
    return (p, RDF_LANGSTRING, None) if p else None


# ---------------------------------------------------------------------------
# the extractor
# ---------------------------------------------------------------------------

_MAP_RESULT = T.ArrayType(
    T.StructType(
        [
            T.StructField("dataset", T.StringType()),
            T.StructField("subject", T.StringType()),  # null ⇒ the page subject
            T.StructField("predicate", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("datatype", T.StringType()),
            # provenance for the Hybrid raw/mapped split: the template +
            # param key a fired rule consumed. Regular quads carry nulls;
            # '_consumed_pair' sentinel rows (value=None, so the normal
            # quad path drops them) carry the pair
            T.StructField("src_template", T.StringType()),
            T.StructField("src_key", T.StringType()),
        ]
    )
)

# sentinel dataset for (template, key) consumption records (hybrid split)
CONSUMED_PAIR = "_consumed_pair"

# Persondata key config (en; PersondataExtractorConfig analog)
_PD_NAME = "NAME"
_PD_DESC = "SHORT DESCRIPTION"
_PD_BIRTH_DATE = "DATE OF BIRTH"
_PD_BIRTH_PLACE = "PLACE OF BIRTH"
# PersondataExtractorConfig (:8-17): de uses {{Personendaten}} with German
# keys (ALTERNATIVE NAMES is a no-op in the reference, PersondataExtractor
# .scala:106-111); key lookup table per language, en fallback
_PD_KEYS_BY_LANG = {
    "en": {"name": "NAME", "desc": "SHORT DESCRIPTION",
           "birth_date": "DATE OF BIRTH", "birth_place": "PLACE OF BIRTH",
           "death_date": "DATE OF DEATH", "death_place": "PLACE OF DEATH"},
    "de": {"name": "NAME", "desc": "KURZBESCHREIBUNG",
           "birth_date": "GEBURTSDATUM", "birth_place": "GEBURTSORT",
           "death_date": "STERBEDATUM", "death_place": "STERBEORT"},
}
_PD_TEMPLATE_BY_LANG = {"en": "persondata", "de": "personendaten"}
_PD_DEATH_DATE = "DATE OF DEATH"
_PD_DEATH_PLACE = "PLACE OF DEATH"
_PND_TEMPLATES = frozenset(("normdaten", "normdata"))
_PND_RE = re.compile(r"(?i)^[0-9X]+$")
_XSD_GYEAR = "http://www.w3.org/2001/XMLSchema#gYear"

# DateIntervalMappingConfig (:12-66): per-language 'present'/'since'/
# 'onward'/split-word tables, en fallback
_INTERVAL_PRESENT: dict[str, frozenset] = {
    lg: frozenset(words) for lg, words in {
        "en": ("present", "now"), "ar": ("الحاضر",),
        "be": ("па гэты дзень", "па сучаснасць"),
        "bg": ("до наши дни", "настояще", "досега"), "ca": ("actualitat",),
        "cs": ("současnost",), "el": ("παρόν", "σήμερα"),
        "es": ("presente", "actualidad", "fecha"),
        "eu": ("gaur egun", "gaur egun arte", "egun"),
        "fr": ("aujourd'hui", "en cours"), "ga": ("inniu",), "hi": ("अबतक",),
        "hr": ("danas",), "hu": ("napjainkig",), "id": ("sekarang",),
        "it": ("in attività",), "mk": ("денес",), "nl": ("heden",),
        "pl": ("nadal", "obecnie"),
        "pt": ("presente", "atualidade", "atualmente", "agora"),
        "ru": ("наши дни", "настоящее время", "наст. время", "н.вр."),
        "sk": ("súčasnosť",), "sl": ("danes",),
        "tr": ("günümüz", "günümüze", "halen"),
        "uk": ("зараз", "в даний момент часу", "в нинішні дні"),
    }.items()
}
_INTERVAL_SINCE = {"en": "since", "ca": "des del", "es": "desde", "fr": "depuis",
                   "pl": "od", "pt": "desde", "uk": "від"}
_INTERVAL_ONWARD = {"en": "onward", "es": "en adelante", "pt": "adiante|avante"}
_INTERVAL_SPLIT_WORD = {"en": "to", "es": "al|a la|a|hasta (?:el|la)",
                        "fr": "à|au", "pl": "do", "pt": "a"}
_DASHES = r"[-\u2012\u2013\u2014\u2015\u2212]|&mdash;|&ndash;"
_INTERVAL_SPLIT_CACHE: dict = {}


def _interval_split_res(lg):
    if lg not in _INTERVAL_SPLIT_CACHE:
        word = _INTERVAL_SPLIT_WORD.get(lg, _INTERVAL_SPLIT_WORD["en"])
        pat = rf"(?iu)(?:{_DASHES}|\b(?:{word})\b)"
        _INTERVAL_SPLIT_CACHE[lg] = (
            re.compile(pat),
            re.compile(rf"(?iu)\s(?:{_DASHES}|\b(?:{word})\b)\s"),
        )
    return _INTERVAL_SPLIT_CACHE[lg]


def parse_date_interval(raw, lg, resolve=None):
    """DateIntervalMapping.extractInterval (DateIntervalMapping.scala:
    62-120): split on dash variants / the language's split word — re-split
    space-bounded when >2 parts (the 2009-10-13 full-date guard); 'present'
    second halves and 'since …'/'… onward' single values leave the end
    open; a lone start closes the interval on itself. Returns
    (start, end | None) of gYear lexical forms, or None."""
    loose, bounded = _interval_split_res(lg or "en")
    parts = [p for p in (x.strip() for x in loose.split(raw)) if p]
    if len(parts) > 2:
        parts = [p for p in (x.strip() for x in bounded.split(raw)) if p]
    if not parts or len(parts) > 2:
        return None
    start = find_date(parts[0], _XSD_GYEAR, strict=False,
                      resolve_template=resolve, lang=lg)
    if not start:
        return None
    if len(parts) == 2:
        tail = parts[1].strip().lower()
        if tail in _INTERVAL_PRESENT.get(lg or "en", _INTERVAL_PRESENT["en"]):
            return start[0], None
        end = find_date(parts[1], _XSD_GYEAR, strict=False,
                        resolve_template=resolve, lang=lg)
        return (start[0], end[0]) if end else None
    low = raw.strip().lower()
    since = _INTERVAL_SINCE.get(lg or "en", _INTERVAL_SINCE["en"])
    onward = _INTERVAL_ONWARD.get(lg or "en", _INTERVAL_ONWARD["en"])
    if low.startswith(since) or re.search(rf"(?:{onward})\s*$", low):
        return start[0], None
    return start[0], start[0]
_BARE_URL_RE = re.compile(r"^(?:https?|ftp)://\S+$")


def make_mapping_udf(
    mappings: dict[str, TemplateMapping] | None = None,
    ontology: Ontology | None = None,
    template_redirects: dict[str, str] | None = None,
):
    mp = mappings or default_mappings()
    # per-language rule sets: {lang: {template: TemplateMapping}} — the
    # reference runs one extraction per language with that language's
    # mappings-wiki rules; a nested dict dispatches per page language with
    # an en fallback (flat dicts keep the single-language behavior)
    by_lang = bool(mp) and all(isinstance(v, dict) for v in mp.values())
    if template_redirects:
        # resolveMap: template names reached via Template-ns redirects
        # dispatch to the target's rules (Redirects.scala:60-94,
        # MappingExtractor.scala:24)
        from .redirects import resolve_mapping_names

        if by_lang:
            mp = {lg: resolve_mapping_names(m_, template_redirects) for lg, m_ in mp.items()}
        else:
            mp = resolve_mapping_names(mp, template_redirects)
    tred = template_redirects or {}
    resolve = (lambda n: tred.get(n, n)) if tred else None
    onto = ontology or default_ontology()
    closures = {c: onto.closure(c) for c in onto.classes}

    def _spec_quads(quads, page_class, ontology_property, si):
        """Class-specific specialized predicate for a unit value
        (SimplePropertyMapping.scala:239-279, shared with CalculateMapping)."""
        if si is None or page_class is None:
            return
        for cls in closures.get(page_class, [page_class]):
            spec = onto.specializations.get((cls, ontology_property))
            if spec:
                _unit, to_spec, dt_iri = spec
                cls_local = cls.rsplit("/", 1)[-1]
                prop_local = ontology_property.rsplit("/", 1)[-1]
                quads.append({
                    "dataset": V.SPECIFIC_MAPPINGBASED,
                    "subject": None,
                    "predicate": f"{DBO}{cls_local}/{prop_local}",
                    "value": fmt_double(si * to_spec),
                    "datatype": dt_iri,
                })
                return

    from . import vocab as _V
    from .vocab import citation_iri as _cite_iri

    def _emit_persondata(lg, quads, params_by_key):
        """PersondataExtractor (mappings/PersondataExtractor.scala:45-130);
        de pages use the German key set (PersondataExtractorConfig)."""
        pdk = _PD_KEYS_BY_LANG.get(lg, _PD_KEYS_BY_LANG["en"])
        raw_name = params_by_key.get(pdk["name"], "").strip()
        if not raw_name:
            return
        name_plain = plain_string(raw_name)
        if not name_plain:
            # markup-only NAME renders to '' — an empty foaf:name quad would
            # survive the value.isNotNull() filter (ADVICE r2)
            return
        parts = name_plain.split(",")
        if len(parts) == 2:
            surname, given = parts[0].strip(), parts[1].strip()
            quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": _V.FOAF_NAME,
                          "value": f"{given} {surname}", "datatype": RDF_LANGSTRING})
            quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": _V.FOAF_SURNAME,
                          "value": surname, "datatype": RDF_LANGSTRING})
            quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": _V.FOAF_GIVEN_NAME,
                          "value": given, "datatype": RDF_LANGSTRING})
        else:
            quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": _V.FOAF_NAME,
                          "value": name_plain, "datatype": RDF_LANGSTRING})
        quads.append({"dataset": _V.PERSONDATA, "subject": None,
                      "predicate": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                      "value": _V.FOAF_PERSON, "datatype": None})
        desc = plain_string(params_by_key.get(pdk["desc"], "").strip())
        if desc:
            quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": _V.DC_DESCRIPTION,
                          "value": desc, "datatype": RDF_LANGSTRING})
        for key, pred in ((pdk["birth_date"], _V.BIRTH_DATE), (pdk["death_date"], _V.DEATH_DATE)):
            raw = params_by_key.get(key, "").strip()
            if raw:
                d = parse_date(raw, strict=False, resolve_template=resolve, lang=lg)
                if d:
                    quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": pred,
                                  "value": d[0], "datatype": d[1]})
        for key, pred in ((pdk["birth_place"], _V.BIRTH_PLACE),
                          (pdk["death_place"], DBO + "deathPlace")):
            raw = params_by_key.get(key, "").strip()
            if raw:
                iri = _object_iri(lg, raw)
                if iri:
                    quads.append({"dataset": _V.PERSONDATA, "subject": None, "predicate": pred,
                                  "value": iri, "datatype": None})

    @F.pandas_udf(_MAP_RESULT)
    def mapping_udf(lang: pd.Series, subject: pd.Series, templates: pd.Series,
                    sf_links: pd.Series) -> pd.Series:
        out = []
        for lg, subj, tpls, slinks in zip(lang, subject, templates, sf_links):
            mp_l = (mp.get(lg) or mp.get("en") or {}) if by_lang else mp
            quads: list[dict] = []
            page_class: str | None = None
            node_counts: dict[str, int] = {}
            sf_dict = _sf_dict_of(slinks)
            # (template name, param key) pairs a FIRED rule consumed —
            # emitted as sentinel rows for the Hybrid raw/mapped split
            consumed: set[tuple[str, str]] = set()
            for t in sorted(tpls if tpls is not None else [], key=lambda x: x["pos"]):
                name_l = (t["name"] or "").lower()
                tpl_params = [(p["key"], p["value"] or "") for p in
                              (t["params"] if t["params"] is not None else [])]
                if name_l == _PD_TEMPLATE_BY_LANG.get(lg, "persondata"):
                    _emit_persondata(lg, quads, dict(tpl_params))
                    continue
                if name_l in _PND_TEMPLATES:
                    # PndExtractor (mappings/PndExtractor.scala:33-70)
                    for k, v in tpl_params:
                        if k.lower() == "pnd" and _PND_RE.match(v.strip()):
                            quads.append({"dataset": _V.PND, "subject": None,
                                          "predicate": _V.INDIVIDUALISED_PND,
                                          "value": v.strip(), "datatype":
                                          "http://www.w3.org/2001/XMLSchema#string"})
                    continue
                # a mapping rule for the template wins over the citation
                # branch — a mapped template must never be shadowed
                if _CITE_NAME_RE.match(name_l) and name_l not in mp_l:
                    # CitationExtractor (mappings/CitationExtractor.scala:38-62,159-182)
                    pbase = "http://dbpedia.org/property/" if lg == "en" else f"http://{lg}.dbpedia.org/property/"
                    cite = _cite_iri(tpl_params)
                    quads.append({"dataset": _V.CITATION_LINKS, "subject": cite,
                                  "predicate": pbase + "isCitedBy", "value": subj, "datatype": None})
                    for k, v in tpl_params:
                        v = v.strip()
                        if not v:
                            continue
                        kb = pbase + k.lower().strip()
                        if _BARE_URL_RE.match(v):
                            quads.append({"dataset": _V.CITATION_DATA, "subject": cite,
                                          "predicate": kb, "value": v, "datatype": None})
                        else:
                            p = plain_string(v)
                            if p:
                                quads.append({"dataset": _V.CITATION_DATA, "subject": cite,
                                              "predicate": kb, "value": p,
                                              "datatype": RDF_LANGSTRING})
                    continue
                m = mp_l.get(name_l)
                if m is None:
                    continue
                by_key_early: dict[str, str] = {}
                for p in (t["params"] if t["params"] is not None else []):
                    by_key_early.setdefault((p["key"] or "").lower(), p["value"] or "")
                if page_class is None:
                    # first mapped template types the page
                    # (TemplateMapping.scala:40-53); ConditionalMapping may
                    # override the class by guard
                    page_class = m.map_to_class
                    for cond in m.conditions:
                        pv = by_key_early.get(cond.template_property, "").strip()
                        if (
                            (cond.operator == "isSet" and pv)
                            or (cond.operator == "equals" and pv == (cond.value or ""))
                            or (cond.operator == "contains" and cond.value and cond.value in pv)
                            or cond.operator == "otherwise"
                        ):
                            page_class = cond.map_to_class
                            break
                    quads.append({"dataset": V.INSTANCE_TYPES, "subject": None,
                                  "predicate": RDF_TYPE, "value": page_class, "datatype": None})
                    for sup in closures.get(page_class, [])[1:]:
                        quads.append({"dataset": V.INSTANCE_TYPES_TRANSITIVE, "subject": None,
                                      "predicate": RDF_TYPE, "value": sup, "datatype": None})
                by_key: dict[str, str] = {}
                for p in (t["params"] if t["params"] is not None else []):
                    by_key.setdefault((p["key"] or "").lower(), p["value"] or "")
                for rule in m.rules:
                    raw = by_key.get(rule.template_property)
                    if raw is None:
                        continue
                    prop = onto.properties.get(rule.ontology_property)
                    kind = prop.kind if prop else "datatype"
                    rng = prop.range if prop else None
                    # multi-value split + select first/last
                    # (SimplePropertyMapping.scala:34-46 splitPropertyNode)
                    parts = [x.strip() for x in _BR_SPLIT_RE.split(raw) if x.strip()]
                    if rule.select == "first":
                        parts = parts[:1]
                    elif rule.select == "last":
                        parts = parts[-1:]
                    typed_parts = [
                        t for t in (
                            type_by_range(lg, part, kind, rng, resolve_template=resolve,
                                          enum=prop.enum if prop else None,
                                          surface_forms=sf_dict)
                            for part in parts
                        ) if t is not None
                    ]
                    if typed_parts:
                        consumed.add((t["name"], rule.template_property))
                    for value, dt, si in typed_parts:
                        if dt is not None and (rule.prefix or rule.suffix):
                            # literal transform (SimplePropertyMapping.scala:47-65)
                            value = (rule.prefix or "") + value + (rule.suffix or "")
                        if dt is None:
                            quads.append({"dataset": V.MAPPINGBASED_OBJECTS, "subject": None,
                                          "predicate": rule.ontology_property,
                                          "value": value, "datatype": None})
                        else:
                            quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                          "predicate": rule.ontology_property,
                                          "value": value, "datatype": dt})
                        # class-specific specialized predicate
                        # (SimplePropertyMapping.scala:239-279)
                        if si is not None and page_class is not None:
                            # specialization applies to the class or any
                            # superclass (City inherits Settlement/areaTotal)
                            spec, spec_cls = None, None
                            for cls in closures.get(page_class, [page_class]):
                                spec = onto.specializations.get((cls, rule.ontology_property))
                                if spec:
                                    spec_cls = cls
                                    break
                            if spec:
                                _unit, to_spec, dt_iri = spec
                                cls_local = spec_cls.rsplit("/", 1)[-1]
                                prop_local = rule.ontology_property.rsplit("/", 1)[-1]
                                quads.append({
                                    "dataset": V.SPECIFIC_MAPPINGBASED,
                                    "subject": None,
                                    "predicate": f"{DBO}{cls_local}/{prop_local}",
                                    "value": fmt_double(si * to_spec),
                                    "datatype": dt_iri,
                                })
                # ConstantMapping
                for cprop, cval, cdt in m.constants:
                    ds = V.MAPPINGBASED_LITERALS if cdt else V.MAPPINGBASED_OBJECTS
                    quads.append({"dataset": ds, "subject": None, "predicate": cprop,
                                  "value": cval, "datatype": cdt})
                # DateIntervalMapping (full extractInterval semantics:
                # present/since/onward open ends, lone-start self-close)
                for ir in m.intervals:
                    raw = by_key.get(ir.template_property, "").strip()
                    if not raw:
                        continue
                    iv = parse_date_interval(raw, lg, resolve)
                    if iv:
                        start_v, end_v = iv
                        consumed.add((t["name"], ir.template_property))
                        quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                      "predicate": ir.start_property, "value": start_v,
                                      "datatype": _XSD_GYEAR})
                        if end_v is not None:
                            quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                          "predicate": ir.end_property, "value": end_v,
                                          "datatype": _XSD_GYEAR})
                # CombineDateMapping (CombineDateMapping.scala:38-56)
                for cd in m.combine_dates:
                    parts = []
                    for tp, hint in cd.template_properties.items():
                        rawv = by_key.get(tp, "").strip()
                        if rawv:
                            rr = find_date(rawv, hint, strict=False, resolve_template=resolve, lang=lg)
                            if rr:
                                parts.append(rr)
                                consumed.add((t["name"], tp))
                    if not parts:
                        continue
                    prop = onto.properties.get(cd.ontology_property)
                    target = prop.range if prop and prop.range else XSD_DATE
                    merged = merge_date_parts(parts, target)
                    if merged:
                        quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                      "predicate": cd.ontology_property,
                                      "value": merged[0], "datatype": merged[1]})
                # CalculateMapping (CalculateMapping.scala:60-108; 'add' only,
                # like the reference)
                for cr in m.calculates:
                    r1 = by_key.get(cr.template_property_1, "").strip()
                    r2 = by_key.get(cr.template_property_2, "").strip()
                    if not (r1 and r2) or cr.operation != "add":
                        continue
                    prop = onto.properties.get(cr.ontology_property)
                    kind = prop.kind if prop else "datatype"
                    rng = prop.range if prop else None
                    if kind == "unit":
                        u1, u2 = parse_unit_value(r1), parse_unit_value(r2)
                        if u1 is None or u2 is None:
                            continue
                        if rng and (DIMENSION_OF_STANDARD.get(u1[1]) != rng
                                    or DIMENSION_OF_STANDARD.get(u2[1]) != rng):
                            continue
                        si = u1[0] + u2[0]
                        consumed.add((t["name"], cr.template_property_1))
                        consumed.add((t["name"], cr.template_property_2))
                        quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                      "predicate": cr.ontology_property,
                                      "value": fmt_double(si), "datatype": XSD_DOUBLE})
                        _spec_quads(quads, page_class, cr.ontology_property, si)
                    elif rng and rng.endswith(("#integer", "#nonNegativeInteger", "#positiveInteger")):
                        i1, i2 = _parse_int(r1), _parse_int(r2)
                        if i1 is None or i2 is None:
                            continue
                        consumed.add((t["name"], cr.template_property_1))
                        consumed.add((t["name"], cr.template_property_2))
                        quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                      "predicate": cr.ontology_property,
                                      "value": str(i1 + i2), "datatype": rng})
                    elif rng and rng.endswith(("#double", "#float")):
                        d1, d2 = _parse_double(r1), _parse_double(r2)
                        if d1 is None or d2 is None:
                            continue
                        consumed.add((t["name"], cr.template_property_1))
                        consumed.add((t["name"], cr.template_property_2))
                        quads.append({"dataset": V.MAPPINGBASED_LITERALS, "subject": None,
                                      "predicate": cr.ontology_property,
                                      "value": fmt_double(d1 + d2), "datatype": rng})
                # GeoCoordinatesMapping (GeoCoordinatesMapping.scala:61-120)
                for gr in m.geo:
                    coord = None
                    if gr.coordinates:
                        rawv = by_key.get(gr.coordinates, "").strip()
                        if rawv:
                            coord = _coord_from_value(rawv, lg)
                    elif gr.latitude and gr.longitude:
                        la = by_key.get(gr.latitude, "").strip()
                        lo = by_key.get(gr.longitude, "").strip()
                        if la and lo:
                            lat = parse_single_coordinate(la, "lat")
                            lon = parse_single_coordinate(lo, "lon")
                            if lat is not None and lon is not None:
                                coord = (lat, lon)
                    if coord is None:
                        continue
                    for used in ((gr.coordinates,) if gr.coordinates
                                 else (gr.latitude, gr.longitude)):
                        if used:
                            consumed.add((t["name"], used))
                    lat_s, lon_s = fmt_double(coord[0]), fmt_double(coord[1])
                    gds = V.GEO_COORDINATES_MAPPED
                    quads.append({"dataset": gds, "subject": None, "predicate": RDF_TYPE,
                                  "value": V.GEO_SPATIAL_THING, "datatype": None})
                    quads.append({"dataset": gds, "subject": None, "predicate": V.GEO_LAT,
                                  "value": lat_s, "datatype": _XSD_FLOAT})
                    quads.append({"dataset": gds, "subject": None, "predicate": V.GEO_LONG,
                                  "value": lon_s, "datatype": _XSD_FLOAT})
                    quads.append({"dataset": gds, "subject": None, "predicate": V.GEORSS_POINT,
                                  "value": f"{lat_s} {lon_s}", "datatype": XSD_STRING_IRI})
                # IntermediateNodeMapping: deterministic per-page counter
                for im in m.intermediates:
                    present = [ru for ru in im.rules if by_key.get(ru.template_property, "").strip()]
                    if not present:
                        continue
                    node_counts[im.name] = node_counts.get(im.name, 0) + 1
                    node = f"{subj}__{im.name}__{node_counts[im.name]}"
                    quads.append({"dataset": V.MAPPINGBASED_OBJECTS, "subject": None,
                                  "predicate": im.link_property, "value": node, "datatype": None})
                    quads.append({"dataset": V.INSTANCE_TYPES, "subject": node,
                                  "predicate": RDF_TYPE, "value": im.node_class, "datatype": None})
                    for ru in present:
                        prop = onto.properties.get(ru.ontology_property)
                        kind = prop.kind if prop else "datatype"
                        rng = prop.range if prop else None
                        typed = type_by_range(lg, by_key[ru.template_property], kind, rng,
                                              resolve_template=resolve,
                                              surface_forms=sf_dict)
                        if typed is None:
                            continue
                        value, dt, _si = typed
                        consumed.add((t["name"], ru.template_property))
                        ds = V.MAPPINGBASED_OBJECTS if dt is None else V.MAPPINGBASED_LITERALS
                        quads.append({"dataset": ds, "subject": node,
                                      "predicate": ru.ontology_property,
                                      "value": value, "datatype": dt})
            for tpl_name, key in sorted(consumed):
                # value=None ⇒ dropped by _page_quad_array's value filter;
                # read explicitly by hybrid_infobox_quads
                quads.append({"dataset": CONSUMED_PAIR, "subject": None,
                              "predicate": None, "value": None, "datatype": None,
                              "src_template": tpl_name, "src_key": key})
            for q in quads:
                q.setdefault("src_template", None)
                q.setdefault("src_key", None)
            out.append(quads)
        return pd.Series(out)

    return mapping_udf


def _page_quad_array(udf, gate, *inputs) -> Column:
    """A cascade's per-page output as the fused suite's quad structs. Its
    inputs are null where ``gate`` fails (no quads), so no row filter splits
    the page's one select. Subject defaults to the page's; valueless rows
    (the ``_consumed_pair`` sentinels) are dropped."""
    out = udf(*(F.when(gate, c) for c in inputs))
    return F.transform(
        F.filter(out, lambda q: q["value"].isNotNull()),
        lambda q: F.struct(
            q["dataset"].alias("dataset"),
            F.coalesce(q["subject"], F.col("subject")).alias("subject"),
            q["predicate"].alias("predicate"),
            q["value"].alias("value"),
            F.lit(None).cast("string").alias("context"),
            q["datatype"].alias("datatype"),
        ),
    )


def mapping_quad_array(
    mappings: dict[str, TemplateMapping] | None = None,
    ontology: Ontology | None = None,
    template_redirects: dict[str, str] | None = None,
) -> Column:
    """The mapping cascade as a per-page ``array<quad>`` column over the
    parsed pages (Main namespace only). The page's Main-ns links ride along as a PRUNED (sf, title, iri) array so
    the ObjectParser same-page surface-form fallback never shuffles — the
    Arrow transfer carries only lowered anchor/title strings + IRIs."""
    udf = make_mapping_udf(mappings, ontology, template_redirects)
    return _page_quad_array(
        udf, F.col("namespace") == MAIN,
        F.col("lang"), F.col("subject"), F.col("templates"), _sf_links_col(),
    )


def _explode_array(parsed: DataFrame, quads: Column) -> DataFrame:
    from .extractors.fused import explode_quads

    return explode_quads(parsed.select(F.col("lang").alias("language"), quads.alias("quads")))


def mapping_quads(
    parsed: DataFrame,
    mappings: dict[str, TemplateMapping] | None = None,
    ontology: Ontology | None = None,
    template_redirects: dict[str, str] | None = None,
) -> DataFrame:
    """parsed pages → mapping-based quads (the array column, exploded)."""
    return _explode_array(parsed, mapping_quad_array(mappings, ontology, template_redirects))


def hybrid_infobox_quads(
    parsed: DataFrame,
    mappings: dict[str, TemplateMapping] | None = None,
    ontology: Ontology | None = None,
    template_redirects: dict[str, str] | None = None,
) -> DataFrame:
    """HybridRawAndMappingExtractor (mappings/HybridRawAndMappingExtractor
    .scala:35-87): split the RAW infobox harvest into facts the mapping
    engine ALSO produced (dataset ``infobox_properties_mapped``) and facts
    it did not (``infobox_properties``). The reference indexes mapped facts
    by (infobox, property, line) carried in quad provenance; this engine
    carries (template name, param key) on both UDF outputs — the mapping
    UDF emits one ``_consumed_pair`` sentinel per fired rule — and
    relabels with a per-page pair join. Template occurrence lines are not
    distinguished (two copies of one infobox share the pair — documented
    simplification). Compose with mapping_quads for the reference's
    ``mappedGraph ++ split`` output."""
    from .extractors.fused import make_infobox_props_udf

    udf = make_mapping_udf(mappings, ontology, template_redirects)
    ib_col = make_infobox_props_udf(template_redirects)(F.col("lang"), F.col("templates"))
    sf_links = _sf_links_col()
    pages = parsed.filter(F.col("namespace") == MAIN)
    pairs = (
        pages.select(
            "subject",
            F.explode(
                udf(F.col("lang"), F.col("subject"), F.col("templates"), sf_links)
            ).alias("q"),
        )
        .filter(F.col("q.dataset") == CONSUMED_PAIR)
        .select(
            F.col("subject").alias("m_subject"),
            F.lower("q.src_template").alias("m_tpl"),
            F.lower("q.src_key").alias("m_key"),
        )
        .distinct()
    )
    raw = pages.select(
        "lang", "subject",
        F.explode(ib_col).alias("r"),
    )
    j = raw.join(
        pairs,
        (raw["subject"] == pairs["m_subject"])
        & (F.lower(raw["r.src_template"]) == pairs["m_tpl"])
        & (F.lower(raw["r.src_key"]) == pairs["m_key"]),
        "left",
    )
    dataset = F.when(
        F.col("m_key").isNotNull(), F.lit(V.INFOBOX_PROPERTIES_MAPPED)
    ).otherwise(F.lit(V.INFOBOX_PROPERTIES))
    return j.select(
        F.col("lang").alias("language"),
        dataset.alias("dataset"),
        F.col("subject"),
        F.col("r.prop_iri").alias("predicate"),
        F.col("r.value").alias("value"),
        F.lit(None).cast("string").alias("context"),
        F.col("r.datatype").alias("datatype"),
    )


def type_statistics(quads: DataFrame) -> DataFrame:
    """TypeStatistics / CountTypes (scripts): instances per ontology class,
    per language. One map-side-combined groupBy."""
    return (
        quads.filter(F.col("dataset") == V.INSTANCE_TYPES)
        .groupBy("language", F.col("value").alias("type_iri"))
        .agg(F.count(F.lit(1)).alias("n_instances"))
    )


# ---------------------------------------------------------------------------
# TableMapping (mappings/TableMapping.scala)
# ---------------------------------------------------------------------------


def _match_table_header(header_cells: list[str], header_def: str):
    """headerDef column matching (TableMapping.scala:150-212): for each ';'
    group pick the best-matching column; a ',' alternative is '&'-joined
    keywords that must appear in order within one column header. Returns
    [(property_key, column_index), ...]."""
    out = []
    for group in header_def.split(";"):
        best = None  # (start_index, column_index, property_key)
        for col_idx, col in enumerate(header_cells):
            for alt in group.split(","):
                keywords = [k.strip().lower() for k in alt.split("&") if k.strip()]
                if not keywords:
                    continue
                i = 0
                start = -1
                ok = True
                for kw in keywords:
                    i = col.find(kw, i)
                    if i == -1:
                        ok = False
                        break
                    if start == -1:
                        start = i
                    i += len(kw)
                if ok:
                    cand = (start, col_idx, "&".join(keywords))
                    if best is None or cand[:2] < best[:2]:
                        best = cand
        if best is not None:
            out.append((best[2], best[1]))
    return out


def _sf_links_col():
    """Pruned (sf, title, iri) array of the page's Main-ns links — the
    ObjectParser same-page fallback context that rides the Arrow transfer."""
    main_links = F.filter(F.col("links"), lambda l: l["ns"] == MAIN)
    return F.transform(
        main_links,
        lambda l: F.struct(
            F.lower(F.coalesce(l["label"], l["target"])).alias("sf"),
            F.lower(l["target"]).alias("title"),
            l["iri"].alias("iri"),
        ),
    )


def _sf_dict_of(slinks) -> dict[str, str]:
    """Per-page surface-form dict: first matching link wins, anchors take
    precedence over bare titles (ObjectParser.scala:40-141)."""
    sf_dict: dict[str, str] = {}
    if slinks is not None:
        for sl in slinks:
            if sl["iri"] and sl["sf"]:
                sf_dict.setdefault(sl["sf"], sl["iri"])
        for sl in slinks:
            if sl["iri"] and sl["title"]:
                sf_dict.setdefault(sl["title"], sl["iri"])
    return sf_dict


def make_table_mapping_udf(rules: list[TableRule], ontology: Ontology | None = None):
    onto = ontology or default_ontology()
    closures = {c: onto.closure(c) for c in onto.classes}

    @F.pandas_udf(_MAP_RESULT)
    def table_udf(lang: pd.Series, subject: pd.Series, tables: pd.Series,
                  sf_links: pd.Series) -> pd.Series:
        out = []
        for lg, subj, tbls, slinks in zip(lang, subject, tables, sf_links):
            quads: list[dict] = []
            # table cells are markup-STRIPPED at parse, so object columns can
            # only resolve through the page's own links (ObjectParser
            # same-page fallback — TableMapping.scala uses the full parser)
            sf_dict = _sf_dict_of(slinks)
            for tb in tbls if tbls is not None else []:
                cells = tb["cells"] if tb["cells"] is not None else []
                header = [c["text"].lower() for c in cells if c["row"] == 0]
                if not header:
                    continue
                by_row: dict[int, list] = {}
                for c in cells:
                    if c["row"] > 0:
                        by_row.setdefault(c["row"], []).append(c)
                for tr in rules:
                    # keyword gate (containsKeywords, :88-95): every ';' group
                    # must have one ',' alternative contained in some header
                    if not all(
                        any(kw.strip().lower() in h for kw in grp.split(",") for h in header)
                        for grp in tr.keywords.split(";")
                    ):
                        continue
                    matched = _match_table_header(header, tr.header)
                    if not matched:
                        continue
                    rule_by_key = {r.template_property: r for r in tr.rules}
                    for row_idx in sorted(by_row):
                        row = sorted(by_row[row_idx], key=lambda c: c["col"])
                        if len(row) != len(header):
                            continue  # :153-156 row/header arity check
                        first = (row[0]["text"] or "").strip()
                        if not first:
                            continue
                        inst = f"{subj}__{first.replace(' ', '_')}__{row_idx}"
                        for cls in closures.get(tr.map_to_class, [tr.map_to_class]):
                            ds = V.INSTANCE_TYPES if cls == tr.map_to_class else V.INSTANCE_TYPES_TRANSITIVE
                            quads.append({"dataset": ds, "subject": inst,
                                          "predicate": RDF_TYPE, "value": cls, "datatype": None})
                        if tr.corresponding_property:
                            quads.append({"dataset": V.MAPPINGBASED_OBJECTS, "subject": None,
                                          "predicate": tr.corresponding_property,
                                          "value": inst, "datatype": None})
                        for key, col_idx in matched:
                            rule = rule_by_key.get(key)
                            if rule is None or col_idx >= len(row):
                                continue
                            raw = (row[col_idx]["text"] or "").strip()
                            if not raw:
                                continue
                            prop = onto.properties.get(rule.ontology_property)
                            kind = prop.kind if prop else "datatype"
                            rng = prop.range if prop else None
                            typed = type_by_range(lg, raw, kind, rng,
                                                  surface_forms=sf_dict)
                            if typed is None:
                                continue
                            value, dt, _si = typed
                            ds = V.MAPPINGBASED_OBJECTS if dt is None else V.MAPPINGBASED_LITERALS
                            quads.append({"dataset": ds, "subject": inst,
                                          "predicate": rule.ontology_property,
                                          "value": value, "datatype": dt})
            out.append(quads)
        return pd.Series(out)

    return table_udf


def table_mapping_quad_array(
    rules: list[TableRule] | None = None,
    ontology: Ontology | None = None,
) -> Column:
    """The table-mapping cascade as a per-page ``array<quad>`` column over
    the parsed pages (Main namespace only)."""
    if rules is None:
        from .mappings_loader import cached_table_mappings

        rules = cached_table_mappings("en")
    if not rules:
        from .extractors.fused import _QUAD_DDL

        return F.expr(f"cast(array() as {_QUAD_DDL})")
    # pages without tables send nulls: most pages have none, and their
    # nested columns never cross into Python
    return _page_quad_array(
        make_table_mapping_udf(rules, ontology),
        (F.col("namespace") == MAIN) & (F.size("tables") > 0),
        F.col("lang"), F.col("subject"), F.col("tables"), _sf_links_col(),
    )


def table_mapping_quads(
    parsed: DataFrame,
    rules: list[TableRule] | None = None,
    ontology: Ontology | None = None,
) -> DataFrame:
    """parsed pages → table-mapping quads (the array column, exploded)."""
    return _explode_array(parsed, table_mapping_quad_array(rules, ontology))


# ---------------------------------------------------------------------------
# TypeConsistencyCheck (scripts/TypeConsistencyCheck.scala:24-55, 171-179)
# ---------------------------------------------------------------------------


def type_consistency(quads: DataFrame, ontology: Ontology | None = None) -> DataFrame:
    """Split mappingbased_objects_uncleaned into mappingbased_objects
    (cleaned) / _disjoint_range / _disjoint_domain by joining object (and
    subject) IRIs with instance_types and consulting ontology disjointness.

    Spark plan: broadcast the (small) direct-type table of typed resources?
    No — instance_types scales with the corpus, so this is a plain
    shuffle join on the object IRI; the ontology lookup tables (range/domain
    per property, pairwise class disjointness) are broadcast literals baked
    into CASE expressions.
    """
    onto = ontology or default_ontology()
    objects = quads.filter(F.col("dataset") == V.MAPPINGBASED_OBJECTS)
    types = (
        quads.filter(F.col("dataset") == V.INSTANCE_TYPES)
        .select(F.col("subject").alias("r"), F.col("value").alias("rtype"))
        .dropDuplicates(["r"])
    )

    # the literals are cast to string element types: an ontology without
    # object properties or disjoint classes gives empty ones, whose void
    # element type cannot be indexed by a string column
    def class_map(get_target):
        pairs = []
        for piri, p in onto.properties.items():
            if p.kind == "object":
                tgt = get_target(p)
                if tgt:
                    pairs.append((piri, tgt))
        return F.create_map(*[F.lit(x) for pair in pairs for x in pair]).cast("map<string,string>")

    range_map = class_map(lambda p: p.range)
    domain_map = class_map(lambda p: p.domain)
    # disjointness as a broadcast literal set of "classA|classB" keys
    dis_keys = set()
    for a in onto.classes:
        for b in onto.classes:
            if onto.is_disjoint(a, b):
                dis_keys.add(f"{a}|{b}")
    # subtype: "sub|super" keys
    sub_keys = {f"{c}|{s}" for c in onto.classes for s in onto.closure(c)}

    dis_arr = F.array(*[F.lit(k) for k in sorted(dis_keys)]).cast("array<string>")
    sub_arr = F.array(*[F.lit(k) for k in sorted(sub_keys)]).cast("array<string>")

    j = (
        objects.join(types, objects["value"] == types["r"], "left")
        .drop("r")
        .withColumnRenamed("rtype", "obj_type")
    )
    stypes = types.select(F.col("r").alias("r2"), F.col("rtype").alias("subj_type"))
    j = j.join(stypes, j["subject"] == stypes["r2"], "left").drop("r2")

    rng = range_map[F.col("predicate")]
    dom = domain_map[F.col("predicate")]
    obj_key = F.concat(F.col("obj_type"), F.lit("|"), rng)
    subj_key = F.concat(F.col("subj_type"), F.lit("|"), dom)

    range_bad = (
        F.col("obj_type").isNotNull()
        & rng.isNotNull()
        & (rng != OWL_THING)
        & ~F.array_contains(sub_arr, obj_key)
        & F.array_contains(dis_arr, F.concat(F.col("obj_type"), F.lit("|"), rng))
    )
    domain_bad = (
        F.col("subj_type").isNotNull()
        & dom.isNotNull()
        & (dom != OWL_THING)
        & ~F.array_contains(sub_arr, subj_key)
        & F.array_contains(dis_arr, F.concat(F.col("subj_type"), F.lit("|"), dom))
    )
    dataset = (
        F.when(range_bad, F.lit("mappingbased_objects_disjoint_range"))
        .when(domain_bad, F.lit("mappingbased_objects_disjoint_domain"))
        .otherwise(F.lit("mappingbased_objects"))
    )
    return j.select(
        "language",
        dataset.alias("dataset"),
        "subject",
        "predicate",
        "value",
        "context",
        "datatype",
    )


# ---------------------------------------------------------------------------
# CitedFactsExtractor (mappings/CitedFactsExtractor.scala:33-97)
# ---------------------------------------------------------------------------

def cited_facts_quads(parsed: DataFrame, quads: DataFrame) -> DataFrame:
    """Infobox facts carrying a citation on their source line → the fact
    re-emitted with the citation IRI as provenance context
    (CitedFactsExtractor.scala:72-84: dataset ``cited_facts``).

    The reference joins quads to citations by an ``#absolute-line=`` sentinel
    parsed back out of the context IRI (:85-96). This engine's parse stage
    already attributes each ``<ref>`` to the infobox property on its line
    (wikitext._extract_refs walk-back — the same heuristic, applied once at
    parse time), so the join key is (subject, property IRI): a hash join on
    already-available columns instead of string surgery on contexts.

    The facts are the ``infobox_properties`` rows of ``quads`` (the
    extraction of the same ``parsed`` pages, e.g. ``Pipeline.run``'s quads
    stage), so the infobox cascade does not run a second time here.

    The citation IRI is minted by the parse (``cite_iri``, set on refs
    attributed to a property; wikitext.first_cite_iri), so this is a JVM
    equi-join with no Python pass; AQE handles skew."""
    cites = (
        parsed.filter(F.col("namespace") == MAIN)
        .select("lang", "subject", F.explode("ref_texts").alias("r"))
        .filter(F.col("r.cite_iri").isNotNull())
        .select("lang", "subject", F.col("r.prop_iri").alias("predicate"),
                F.col("r.cite_iri").alias("context"))
        .distinct()
    )
    props = quads.filter(F.col("dataset") == V.INFOBOX_PROPERTIES).select(
        F.col("language").alias("lang"), "subject", "predicate", "value", "datatype"
    )
    return props.join(cites, ["lang", "subject", "predicate"]).select(
        F.col("lang").alias("language"),
        F.lit("cited_facts").alias("dataset"),
        "subject",
        "predicate",
        "value",
        "context",
        "datatype",
    )
