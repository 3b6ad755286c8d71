"""Wikidata-JSON extractor core (mappings/wikidata/* group).

Re-expresses the reference's wikidata extractors over rows whose ``content``
column carries a Wikidata entity JSON document — 100% Catalyst
(``from_json`` with a fixed pruned schema + explodes + ``get_json_object``),
no Python:

- WikidataLabelExtractor (:28-51): labels → rdfs:label langStrings,
  per-language dataset ``wikidata_labels``.
- WikidataDescriptionExtractor: descriptions → dbo:description.
- WikidataAliasExtractor (:40-50): aliases → skos:altLabel (the dataset the
  reference routes via its alias property mapping).
- WikidataSameAsExtractor (:28-48): *language-Wikipedia* sitelinks →
  owl:sameAs to each language-DBpedia resource IRI (non-language sites such
  as commonswiki/specieswiki are filtered; titles run through the wikiEncode
  policy, WikiUtil.scala:93-121).
- WikidataRawExtractor (WikidataRawExtractor.scala): EVERY mainsnak family →
  (subject, wikidata property IRI, typed value) in ``wikidata_raw``.
  Polymorphic ``datavalue.value`` is parsed as a raw-JSON *string* column and
  dispatched per ``datavalue.type`` with ``get_json_object`` — so a snak
  whose shape differs from any fixed struct can never null out the whole
  entity (no dependency on spark.sql.json.enablePartialResults).
- WikidataR2RExtractor (WikidataR2RExtractor.scala): a data-driven rule
  table maps P-properties onto ontology terms (rdf:type with a Q→class map,
  typed literals, IRIs, commons file IRIs, geo lat/long/point) — see
  ``DEFAULT_R2R_RULES``.

No silent caps: snaks the extractor drops (snaktype somevalue/novalue, or a
datavalue.type outside the handled set) are countable via
``wikidata_snak_stats`` — run it alongside ``wikidata_quads`` on real dumps.

The ``from_json`` schema prunes everything else, so at dump scale the JSON
tokenizer only materializes the five branches used (Jackson skips the rest).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.window import Window

from . import vocab as V
from .caching import fits, no_pushdown, truncate_lineage
from .namespaces import (
    FOAF,
    RDF_LANGSTRING,
    RDF_TYPE,
    RDFS_LABEL,
    XSD_DATE,
    XSD_DECIMAL,
    XSD_FLOAT,
    XSD_GYEAR,
    XSD_GYEARMONTH,
    XSD_STRING,
)
from .session import concurrently

WD_RESOURCE = "http://wikidata.dbpedia.org/resource/"
WD_PROPERTY = "http://www.wikidata.org/prop/direct/"
DBO_DESCRIPTION = "http://dbpedia.org/ontology/description"
SKOS_ALT_LABEL = "http://www.w3.org/2004/02/skos/core#altLabel"
COMMONS_FILE = "http://commons.wikimedia.org/wiki/Special:FilePath/"

WIKIDATA_LABELS = "wikidata_labels"
WIKIDATA_DESCRIPTIONS = "wikidata_descriptions"
WIKIDATA_ALIASES = "wikidata_aliases"
WIKIDATA_SAME_AS = "wikidata_same_as"
WIKIDATA_RAW = "wikidata_raw"
WIKIDATA_RAW_REIFIED = "wikidata_raw_reified"
WIKIDATA_RAW_QUALIFIERS = "wikidata_raw_reified_qualifiers"
RDF_STATEMENT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement"
RDF_SUBJECT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#subject"
RDF_PREDICATE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate"
RDF_OBJECT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#object"
WIKIDATA_R2R_TYPES = "wikidata_instance_types"
WIKIDATA_R2R_LITERALS = "wikidata_mappingbased_literals"
WIKIDATA_R2R_OBJECTS = "wikidata_mappingbased_objects"
WIKIDATA_R2R_GEO = "wikidata_geo_coordinates"

# sitelink keys ending in 'wiki' that are NOT language Wikipedias
# (WikidataSameAsExtractor only routes language editions; the rest of the
# sites go to other extractors in the reference)
NON_LANGUAGE_SITES = (
    "commonswiki",
    "specieswiki",
    "metawiki",
    "wikidatawiki",
    "mediawikiwiki",
    "sourceswiki",
    "foundationwiki",
    "outreachwiki",
    "wikifunctionswiki",
    "wikimaniawiki",
)

_TERM = T.StructType(
    [T.StructField("language", T.StringType()), T.StructField("value", T.StringType())]
)
# datavalue.value is POLYMORPHIC in Wikidata JSON (object for entityid/time/
# quantity/globecoordinate/monolingualtext, plain string for string snaks).
# Declaring it StringType makes Jackson capture the raw JSON text of whatever
# is there — a fixed struct would depend on JSON partial-results semantics
# and could null the entire entity on the first mismatched snak (ADVICE r2).
_SNAK = T.StructType(
    [
        T.StructField("snaktype", T.StringType()),
        T.StructField("property", T.StringType()),
        T.StructField(
            "datavalue",
            T.StructType(
                [
                    T.StructField("value", T.StringType()),
                    T.StructField("type", T.StringType()),
                ]
            ),
        ),
    ]
)
ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), _TERM)),
        T.StructField("descriptions", T.MapType(T.StringType(), _TERM)),
        T.StructField("aliases", T.MapType(T.StringType(), T.ArrayType(_TERM))),
        T.StructField(
            "sitelinks",
            T.MapType(
                T.StringType(),
                T.StructType(
                    [T.StructField("site", T.StringType()), T.StructField("title", T.StringType())]
                ),
            ),
        ),
        T.StructField(
            "claims",
            T.MapType(
                T.StringType(),
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("mainsnak", _SNAK),
                            T.StructField("rank", T.StringType()),
                            # qualifier snaks share the mainsnak shape
                            # (property + polymorphic datavalue)
                            T.StructField(
                                "qualifiers",
                                T.MapType(T.StringType(), T.ArrayType(_SNAK)),
                            ),
                            # per-statement source references: each carries a
                            # snaks map of the same polymorphic shape
                            # (WikidataReferenceExtractor.scala:56-76)
                            T.StructField(
                                "references",
                                T.ArrayType(
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "snaks",
                                                T.MapType(
                                                    T.StringType(), T.ArrayType(_SNAK)
                                                ),
                                            )
                                        ]
                                    )
                                ),
                            ),
                        ]
                    )
                ),
            ),
        ),
    ]
)

HANDLED_SNAK_TYPES = (
    "wikibase-entityid",
    "string",
    "time",
    "quantity",
    "monolingualtext",
    "globecoordinate",
)


def wiki_encode_expr(col: Column) -> Column:
    """Column twin of namespaces.wiki_encode (WikiUtil.wikiEncode,
    util/WikiUtil.scala:93-121): collapse whitespace/underscores to '_',
    ucfirst, percent-encode the reference's iriReplacements set
    (`` \"%<>?[]\\^`{|}#``). Unicode stays raw — IRIs allow it."""
    t = F.regexp_replace(F.regexp_replace(col, "_", " "), r"^\s+|\s+$", "")
    t = F.regexp_replace(t, r"\s+", "_")
    t = F.concat(F.upper(F.substring(t, 1, 1)), F.substring(t, 2, 2147483647))
    for ch, code in (
        ("%", "%25"),  # must run first
        ('"', "%22"),
        ("#", "%23"),
        ("<", "%3C"),
        (">", "%3E"),
        ("?", "%3F"),
        ("[", "%5B"),
        ("\\", "%5C"),
        ("]", "%5D"),
        ("^", "%5E"),
        ("`", "%60"),
        ("{", "%7B"),
        ("|", "%7C"),
        ("}", "%7D"),
    ):
        t = F.replace(t, F.lit(ch), F.lit(code))
    return t


def _quad(ds, lang: Column, s: Column, p, v: Column, dt=None) -> list[Column]:
    return [
        lang.alias("language"),
        (F.lit(ds) if isinstance(ds, str) else ds).alias("dataset"),
        s.cast("string").alias("subject"),
        (F.lit(p) if isinstance(p, str) else p).cast("string").alias("predicate"),
        v.cast("string").alias("value"),
        F.lit(None).cast("string").alias("context"),
        (F.lit(dt) if (dt is None or isinstance(dt, str)) else dt).cast("string").alias("datatype"),
    ]


def parse_entities(df: DataFrame) -> DataFrame:
    """content → one row per parsed item or property (subject + pruned
    entity struct). Parse ONCE and pass the (persisted) result to
    wikidata_quads / wikidata_r2r_quads / wikidata_snak_stats via
    ``entities=`` — otherwise every union branch re-runs from_json over the
    corpus. Lexeme pages (``parse_lexemes``) and unparseable rows are
    dropped: every consumer gates on ``^Q``, ``^P`` or ``^[QP]``."""
    # no_pushdown: without it the id filter is pushed below the fan-out
    # exchange as a second (schema-pruned) from_json over the raw content —
    # every JSON document tokenized twice, the first pass single-task on the
    # unsplittable scan side (measured 44 s → 22 s for the 10x entity parse)
    gate = F.col("e.id").rlike("^[QP][0-9]+$")
    e = df.select(F.from_json(F.col("content"), ENTITY_SCHEMA).alias("e")).filter(
        gate if df.isStreaming else no_pushdown(gate)
    )
    subj = F.concat(F.lit(WD_RESOURCE), F.col("e.id"))
    return e.select(subj.alias("s"), "e.*")


_entities = parse_entities  # internal alias


def _snak_table(
    df: DataFrame,
    entities: DataFrame | None = None,
    check_rank: bool = False,
    with_qualifiers: bool = False,
) -> DataFrame:
    """One row per mainsnak: (s, prop, snaktype, vtype, raw, rank) where raw
    is the datavalue.value as text (raw JSON for object values, the string
    itself for string snaks).

    ``check_rank=True`` applies the reference's per-statement-group rank
    selection (WikidataR2RExtractor.scala:149-160 checkRank: PREFERRED
    statements if any exist, else NORMAL — deprecated never) ARRAY-SIDE,
    before the explode, so the plan stays shuffle-free."""
    ent = entities if entities is not None else _entities(df)
    claims = ent.select(F.col("s"), F.explode_outer("claims").alias("prop", "stmts")).filter(
        F.col("stmts").isNotNull()
    )
    if check_rank:
        preferred = F.filter(F.col("stmts"), lambda st: st["rank"] == "preferred")
        normal = F.filter(
            F.col("stmts"),
            lambda st: st["rank"].isNull() | (st["rank"] == "normal"),
        )
        claims = claims.withColumn(
            "stmts", F.when(F.size(preferred) > 0, preferred).otherwise(normal)
        )
    cols = [
        F.col("s"),
        F.col("prop"),
        F.col("st.mainsnak.snaktype").alias("snaktype"),
        F.col("st.mainsnak.datavalue.type").alias("vtype"),
        F.col("st.mainsnak.datavalue.value").alias("raw"),
        F.col("st.rank").alias("rank"),
    ]
    if with_qualifiers:
        cols.append(F.col("st.qualifiers").alias("qualifiers"))
    return claims.select(F.col("s"), F.col("prop"), F.explode("stmts").alias("st")).select(*cols)


def _typed_value(vtype: Column, raw: Column) -> tuple[Column, Column, Column]:
    """(value, datatype, language) for one snak — shared by the raw and R2R
    passes. Time precision: ≥11 → xsd:date, 10 → gYearMonth, ≤9 → gYear
    (WikidataUtil time handling; negative/astronomical years are passed
    through with their sign)."""
    time_s = F.regexp_replace(F.get_json_object(raw, "$.time"), r"^\+", "")
    prec = F.get_json_object(raw, "$.precision").cast("int")
    # variable-width year: BC years keep their '-' sign and astronomical
    # years can exceed 4 digits — fixed-width substrings would corrupt both
    t_year = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 1)
    t_month = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 2)
    t_day = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 3)
    time_val = (
        F.when(prec >= 11, F.concat_ws("-", t_year, t_month, t_day))
        .when(prec == 10, F.concat_ws("-", t_year, t_month))
        .otherwise(t_year)
    )
    time_val = F.when(t_year != "", time_val)  # unparseable time → NULL row
    time_dt = (
        F.when(prec >= 11, F.lit(XSD_DATE))
        .when(prec == 10, F.lit(XSD_GYEARMONTH))
        .otherwise(F.lit(XSD_GYEAR))
    )
    amount = F.regexp_replace(F.get_json_object(raw, "$.amount"), r"^\+", "")
    point = F.concat_ws(
        " ", F.get_json_object(raw, "$.latitude"), F.get_json_object(raw, "$.longitude")
    )
    value = (
        F.when(vtype == "wikibase-entityid", F.concat(F.lit(WD_RESOURCE), F.get_json_object(raw, "$.id")))
        .when(vtype == "string", raw)
        .when(vtype == "time", time_val)
        .when(vtype == "quantity", amount)
        .when(vtype == "monolingualtext", F.get_json_object(raw, "$.text"))
        .when(vtype == "globecoordinate", point)
    )
    datatype = (
        F.when(vtype == "wikibase-entityid", F.lit(None).cast("string"))
        .when(vtype == "string", F.lit(XSD_STRING))
        .when(vtype == "time", time_dt)
        .when(vtype == "quantity", F.lit(XSD_DECIMAL))
        .when(vtype == "monolingualtext", F.lit(RDF_LANGSTRING))
        .when(vtype == "globecoordinate", F.lit(XSD_STRING))
    )
    language = F.when(
        vtype == "monolingualtext", F.get_json_object(raw, "$.language")
    ).otherwise(F.lit("wikidata"))
    return value, datatype, language


def wikidata_quads(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """rows(content = wikidata entity JSON) → quads. Rows whose content does
    not parse to an entity (no id) are dropped; snaks outside
    HANDLED_SNAK_TYPES are dropped (count them with wikidata_snak_stats).
    Pass a persisted ``entities=parse_entities(df)`` to share one JSON parse
    across all branches (and with the R2R pass).

    Item pages only (the reference's term/sitelink/raw extractors
    deserialize ItemDocuments in the Main namespace; Property and Lexeme
    pages route to their own extractors — wikidata_property_quads /
    wikidata_lexeme_quads).

    r6 (the fused_quads pattern, guide §2.4): ONE entity pass. The r5 shape
    unioned five branches (labels / descriptions / aliases / sitelinks /
    claims), each re-scanning the entity cache with its own explode —
    measured as the dominant wikidata-build branch once R2R was fused
    (10.9 s sequential-cold at the 10x validation scale). All five term
    families are now built array-side per entity and exploded once."""
    ent = (entities if entities is not None else _entities(df)).filter(
        F.col("id").rlike("^Q[0-9]+$")
    )

    def _qs(ds, lang, p, v, dt=None) -> Column:
        pc = F.lit(p) if isinstance(p, str) else p
        dtc = F.lit(dt) if (dt is None or isinstance(dt, str)) else dt
        return F.struct(
            lang.cast("string").alias("language"),
            F.lit(ds).alias("dataset"),
            F.col("s").cast("string").alias("subject"),
            pc.cast("string").alias("predicate"),
            v.cast("string").alias("value"),
            F.lit(None).cast("string").alias("context"),
            dtc.cast("string").alias("datatype"),
        )

    _Q_DDL = (
        "array<struct<language:string,dataset:string,subject:string,"
        "predicate:string,value:string,context:string,datatype:string>>"
    )
    empty = F.expr(f"cast(array() as {_Q_DDL})")

    def _nz(arr: Column) -> Column:
        # null collection → empty quad array (explode_outer + notNull filter
        # semantics of the r5 branches); nulls from unmatched when()s dropped
        return F.coalesce(F.array_compact(arr), empty)

    def _terms(col: str, ds: str, pred: str) -> Column:
        return _nz(
            F.transform(
                F.map_values(F.col(col)),
                lambda t: F.when(
                    t["value"].isNotNull(),
                    _qs(ds, t["language"], pred, t["value"], RDF_LANGSTRING),
                ),
            )
        )

    labels = _terms("labels", WIKIDATA_LABELS, RDFS_LABEL)
    descriptions = _terms("descriptions", WIKIDATA_DESCRIPTIONS, DBO_DESCRIPTION)
    aliases = _nz(
        F.transform(
            F.flatten(
                F.filter(F.map_values(F.col("aliases")), lambda a: a.isNotNull())
            ),
            lambda t: F.when(
                t["value"].isNotNull(),
                _qs(WIKIDATA_ALIASES, t["language"], SKOS_ALT_LABEL,
                    t["value"], RDF_LANGSTRING),
            ),
        )
    )

    # language-Wikipedia sitelinks only: 'xxwiki' → http://xx.dbpedia.org/
    # resource/<wikiEncode(Title)> (enwiki → the generic domain,
    # WikidataSameAsExtractor.scala:40-48); commons/species/meta etc. are NOT
    # language editions and are filtered. dbname underscores become hyphens
    # in the language code / hostname (zh_min_nanwiki → zh-min-nan.dbpedia.org)
    def _sl_quad(e):
        lang = F.regexp_replace(F.regexp_replace(e["key"], "wiki$", ""), "_", "-")
        base = F.when(lang == "en", F.lit("http://dbpedia.org/resource/")).otherwise(
            F.concat(F.lit("http://"), lang, F.lit(".dbpedia.org/resource/"))
        )
        return F.when(
            e["value"]["title"].isNotNull()
            & e["key"].rlike("^[a-z]+(_[a-z]+)*wiki$")
            & ~e["key"].isin(*NON_LANGUAGE_SITES),
            _qs(WIKIDATA_SAME_AS, lang, V.OWL_SAME_AS,
                F.concat(base, wiki_encode_expr(e["value"]["title"]))),
        )

    same_as = _nz(F.transform(F.map_entries(F.col("sitelinks")), _sl_quad))

    def _claim_quads(e):
        def _snak_quad(st):
            vtype = st["mainsnak"]["datavalue"]["type"]
            raw = st["mainsnak"]["datavalue"]["value"]
            value, datatype, language = _typed_value(vtype, raw)
            # the value-isNotNull gate runs POST-explode (codegen) — inside
            # this interpreted lambda it would evaluate the regex-heavy
            # typed-value expression a second time per snak
            return F.when(
                (st["mainsnak"]["snaktype"] == "value")
                & vtype.isin(*HANDLED_SNAK_TYPES),
                _qs(WIKIDATA_RAW, language, F.concat(F.lit(WD_PROPERTY), e["key"]),
                    value, datatype),
            )

        return F.transform(e["value"], _snak_quad)

    claims = _nz(
        F.flatten(
            F.transform(
                F.filter(F.map_entries(F.col("claims")), lambda e: e["value"].isNotNull()),
                _claim_quads,
            )
        )
    )

    arr = F.concat(labels, descriptions, aliases, same_as, claims)
    # no non-claim branch can emit a null value (term/sitelink quads are
    # notNull-guarded array-side), so this single codegen filter is exactly
    # the r5 claims branch's value-isNotNull
    return (
        ent.select(F.explode(arr).alias("q"))
        .filter(F.col("q.value").isNotNull())
        .select("q.*")
    )


def wikidata_reified_quads(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """Statement reification + qualifier snaks
    (WikidataRawExtractor.scala:17-30,95-120): every value-mainsnak statement
    mints a statement node ``<s>_<P>_<id>`` and emits

    - ``wikidata_raw_reified``: rdf:type rdf:Statement, rdf:subject,
      rdf:predicate, rdf:object (typed like the raw claim), and
    - ``wikidata_raw_reified_qualifiers``: one quad per qualifier value-snak
      on the SAME statement node — dates-with-precision,
      population-at-point-in-time keep their statement context.

    Statement id: the Q-id for entity values, else ``V`` + md5(raw)[:5]
    (WikidataUtil.getStatementUri + getItemId, util/WikidataUtil.scala:32-46;
    the hash input is the raw datavalue JSON text — the engine's
    deterministic analog of wdtk's value.toString). Single pass: the four
    base quads + qualifier quads are built array-side and exploded once.
    Quad language is the constant 'wikidata' (the reference passes
    context.language here, not the snak's text language)."""
    ent = (entities if entities is not None else _entities(df)).filter(
        F.col("id").rlike("^Q[0-9]+$")
    )
    snaks = _snak_table(df, ent, with_qualifiers=True).filter(
        (F.col("snaktype") == "value") & F.col("vtype").isin(*HANDLED_SNAK_TYPES)
    )
    value, datatype, _lang = _typed_value(F.col("vtype"), F.col("raw"))
    item_id = F.when(
        F.col("vtype") == "wikibase-entityid",
        F.get_json_object(F.col("raw"), "$.id"),
    ).otherwise(F.concat(F.lit("V"), F.substring(F.md5(F.col("raw")), 1, 5)))
    stmt = F.concat(F.col("s"), F.lit("_"), F.col("prop"), F.lit("_"), item_id)
    base = snaks.select(
        F.col("s"),
        F.concat(F.lit(WD_PROPERTY), F.col("prop")).alias("p"),
        stmt.alias("stmt"),
        value.alias("v"),
        datatype.alias("dt"),
        F.col("qualifiers"),
    ).filter(F.col("v").isNotNull())

    def q(ds: str, s_col, p_col, v_col, dt_col):
        return F.struct(
            F.lit(ds).alias("dataset"),
            s_col.cast("string").alias("subject"),
            p_col.cast("string").alias("predicate"),
            v_col.cast("string").alias("value"),
            dt_col.cast("string").alias("datatype"),
        )

    none = F.lit(None).cast("string")
    base4 = F.array(
        q(WIKIDATA_RAW_REIFIED, F.col("stmt"), F.lit(RDF_TYPE), F.lit(RDF_STATEMENT), none),
        q(WIKIDATA_RAW_REIFIED, F.col("stmt"), F.lit(RDF_SUBJECT), F.col("s"), none),
        q(WIKIDATA_RAW_REIFIED, F.col("stmt"), F.lit(RDF_PREDICATE), F.col("p"), none),
        q(WIKIDATA_RAW_REIFIED, F.col("stmt"), F.lit(RDF_OBJECT), F.col("v"), F.col("dt")),
    )
    # qualifiers map → flat (qprop, snak) pairs, value-snaks of handled
    # types only, typed by the SAME polymorphic dispatch as mainsnaks
    pairs = F.flatten(
        F.transform(
            F.coalesce(F.map_entries(F.col("qualifiers")), F.array()),
            lambda e: F.transform(
                e["value"], lambda sn: F.struct(e["key"].alias("qprop"), sn.alias("snak"))
            ),
        )
    )
    usable = F.filter(
        pairs,
        lambda pr: (pr["snak"]["snaktype"] == "value")
        & pr["snak"]["datavalue"]["type"].isin(*HANDLED_SNAK_TYPES),
    )

    def _qual_quad(pr):
        qv, qdt, _ = _typed_value(pr["snak"]["datavalue"]["type"], pr["snak"]["datavalue"]["value"])
        return q(
            WIKIDATA_RAW_QUALIFIERS,
            F.col("stmt"),
            F.concat(F.lit(WD_PROPERTY), pr["qprop"]),
            qv,
            qdt,
        )

    qual_quads = F.transform(usable, _qual_quad)
    all_quads = F.concat(base4, qual_quads)
    return base.select(F.explode(all_quads).alias("q")).filter(
        F.col("q.value").isNotNull()
    ).select(
        F.lit("wikidata").alias("language"),
        F.col("q.dataset").alias("dataset"),
        F.col("q.subject").alias("subject"),
        F.col("q.predicate").alias("predicate"),
        F.col("q.value").alias("value"),
        F.lit(None).cast("string").alias("context"),
        F.col("q.datatype").alias("datatype"),
    )


def wikidata_snak_stats(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """Dropped-snak accounting (no silent caps): per (snaktype, vtype),
    whether wikidata_quads handles it and how many mainsnaks there are."""
    ent = (entities if entities is not None else _entities(df)).filter(
        F.col("id").rlike("^Q[0-9]+$")
    )
    snaks = _snak_table(df, ent)
    handled = (F.col("snaktype") == "value") & F.col("vtype").isin(*HANDLED_SNAK_TYPES)
    return (
        snaks.groupBy("snaktype", "vtype")
        .agg(F.count(F.lit(1)).alias("n_snaks"))
        .withColumn("handled", handled)
        .select("snaktype", "vtype", "handled", "n_snaks")
    )


# --- Property / Reference / NamespaceSameAs / Lexeme extractors -------------

WIKIDATA_PROPERTY = "wikidata_property"
WIKIDATA_REFERENCE = "wikidata_reference"
WIKIDATA_NS_SAME_AS = "wikidata_namespace_same_as"
WIKIDATA_LEXEME = "wikidata_lexeme"

WD_ENTITY = "http://www.wikidata.org/entity/"
DBO_ALIAS = "http://dbpedia.org/ontology/alias"
DBO_REFERENCE = "http://dbpedia.org/ontology/reference"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"


def wikidata_namespace_same_as(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """WikidataNameSpaceSameAsExtractor.scala:32-41: every non-property,
    non-lexeme entity page links its DBpedia-wikidata IRI to the canonical
    www.wikidata.org entity IRI. Map-only — one projection over the shared
    entity parse."""
    ent = entities if entities is not None else _entities(df)
    items = ent.filter(F.col("id").rlike("^Q[0-9]+$"))
    return items.select(
        *_quad(
            WIKIDATA_NS_SAME_AS,
            F.lit("wikidata"),
            F.col("s"),
            V.OWL_SAME_AS,
            F.concat(F.lit(WD_ENTITY), F.col("id")),
        )
    )


def _get_value_datatype(vtype: Column, raw: Column) -> tuple[Column, Column]:
    """WikidataUtil.getValue + getDatatype semantics (WikidataUtil.scala:
    61-107,273-354) — the dispatch used by the Property and Reference
    extractors. Differs from the raw extractor's ``_typed_value``:

    - entity values render as the CANONICAL www.wikidata.org/entity IRI
      (replaceItemId of wdtk's toString), not the wikidata.dbpedia.org one;
    - quantity → xsd:float (the raw pass types xsd:decimal);
    - monolingualtext → bare text typed xsd:string (not rdf:langString);
    - string values containing http(s):// are emitted datatype-less (IRIs);
    - time precision ≥12 → xsd:dateTime, 11 → date, 10 → gYearMonth,
      ≤9 → gYear with the year approximated to its precision's scale
      (decade/century/millennium floors, WikidataUtil.approximateYear).
    """
    time_s = F.regexp_replace(F.get_json_object(raw, "$.time"), r"^\+", "")
    prec = F.get_json_object(raw, "$.precision").cast("int")
    t_year = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 1)
    t_month = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 2)
    t_day = F.regexp_extract(time_s, r"^(-?\d+)-(\d{2})-(\d{2})", 3)
    yr = t_year.cast("long")
    scale = (
        F.when(prec == 8, 10)
        .when(prec == 7, 100)
        .when(prec == 6, 1000)
        .when(prec == 5, 10000)
        .otherwise(1)
    )
    approx_year = F.when(prec <= 8, (yr - (yr % scale))).otherwise(yr)
    time_val = (
        F.when(prec >= 12, F.concat(F.concat_ws("-", t_year, t_month, t_day), F.lit("T00:00:00")))
        .when(prec == 11, F.concat_ws("-", t_year, t_month, t_day))
        .when(prec == 10, F.concat_ws("-", t_year, t_month))
        .otherwise(approx_year.cast("string"))
    )
    time_val = F.when(t_year != "", time_val)
    time_dt = (
        F.when(prec >= 12, F.lit(XSD_DATETIME))
        .when(prec == 11, F.lit(XSD_DATE))
        .when(prec == 10, F.lit(XSD_GYEARMONTH))
        .otherwise(F.lit(XSD_GYEAR))
    )
    amount = F.regexp_replace(F.get_json_object(raw, "$.amount"), r"^\+", "")
    point = F.concat_ws(
        " ", F.get_json_object(raw, "$.latitude"), F.get_json_object(raw, "$.longitude")
    )
    is_url = raw.contains("http://") | raw.contains("https://")
    value = (
        F.when(vtype == "wikibase-entityid", F.concat(F.lit(WD_ENTITY), F.get_json_object(raw, "$.id")))
        .when(vtype == "string", raw)
        .when(vtype == "time", time_val)
        .when(vtype == "quantity", amount)
        .when(vtype == "monolingualtext", F.get_json_object(raw, "$.text"))
        .when(vtype == "globecoordinate", point)
    )
    datatype = (
        F.when(vtype == "wikibase-entityid", F.lit(None).cast("string"))
        .when(vtype == "string", F.when(is_url, F.lit(None).cast("string")).otherwise(F.lit(XSD_STRING)))
        .when(vtype == "time", time_dt)
        .when(vtype == "quantity", F.lit(XSD_FLOAT))
        .when(vtype == "monolingualtext", F.lit(XSD_STRING))
        .when(vtype == "globecoordinate", F.lit(XSD_STRING))
    )
    return value, datatype


def wikidata_property_quads(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """WikidataPropertyExtractor.scala:48-148: Property-namespace pages emit
    their aliases (dbo:alias), descriptions (dbo:description), labels
    (rdfs:label) as langStrings plus every value-mainsnak statement with the
    canonical-entity predicate IRI (``wd:P102 wd:P1646 wd:P580``).

    Same single-parse plan shape as wikidata_quads: property pages are a
    filter over the shared entity cache, each branch is one explode, no
    shuffle anywhere."""
    ent = entities if entities is not None else _entities(df)
    props = ent.filter(F.col("id").rlike("^P[0-9]+$"))
    subj = F.col("s")

    labels = props.select(
        subj, F.explode_outer("labels").alias("k", "t")
    ).filter(F.col("t.value").isNotNull()).select(
        *_quad(WIKIDATA_PROPERTY, F.col("t.language"), subj, RDFS_LABEL,
               F.col("t.value"), RDF_LANGSTRING)
    )
    descriptions = props.select(
        subj, F.explode_outer("descriptions").alias("k", "t")
    ).filter(F.col("t.value").isNotNull()).select(
        *_quad(WIKIDATA_PROPERTY, F.col("t.language"), subj, DBO_DESCRIPTION,
               F.col("t.value"), RDF_LANGSTRING)
    )
    aliases = (
        props.select(subj, F.explode_outer("aliases").alias("k", "arr"))
        .select(subj, F.explode("arr").alias("t"))
        .filter(F.col("t.value").isNotNull())
        .select(
            *_quad(WIKIDATA_PROPERTY, F.col("t.language"), subj, DBO_ALIAS,
                   F.col("t.value"), RDF_LANGSTRING)
        )
    )
    snaks = _snak_table(df, props).filter(
        (F.col("snaktype") == "value") & F.col("vtype").isin(*HANDLED_SNAK_TYPES)
    )
    value, datatype = _get_value_datatype(F.col("vtype"), F.col("raw"))
    statements = snaks.select(
        *_quad(
            WIKIDATA_PROPERTY,
            F.lit("wikidata"),
            F.col("s"),
            F.concat(F.lit(WD_ENTITY), F.col("prop")),
            value,
            datatype,
        )
    ).filter(F.col("value").isNotNull())
    out = labels
    for part in (descriptions, aliases, statements):
        out = out.unionByName(part)
    return out


def wikidata_reference_quads(df: DataFrame, entities: DataFrame | None = None) -> DataFrame:
    """WikidataReferenceExtractor.scala:37-76: for every statement (on item
    AND property pages) with source references, each reference value-snak
    emits ``<stmt-uri> dbo:reference <value>``. The statement URI is minted
    as ``<subject>_<mainsnak-P>_<ref-id>`` where ref-id is the reference
    snak's Q-id for entity values, else ``V`` + md5(raw datavalue JSON)[:5]
    — the engine's deterministic analog of WikidataUtil.getStatementUri over
    wdtk's value.toString (same convention as wikidata_reified_quads).

    Plan: claims map → statements explode → references array → snaks map,
    all array-side until ONE final explode; no shuffle."""
    # Main (Q) + WikidataProperty (P) namespace routing (ADVICE r5 fix):
    # lexeme pages partially parse under ENTITY_SCHEMA and real lexeme
    # statements carry references, so without the gate a mixed dump emits
    # reference quads for L-page subjects the reference never produces.
    ent = (entities if entities is not None else _entities(df)).filter(
        F.col("id").rlike("^[QP][0-9]+$")
    )
    claims = ent.select(F.col("s"), F.explode_outer("claims").alias("prop", "stmts")).filter(
        F.col("stmts").isNotNull()
    )
    stmts = claims.select(
        F.col("s"), F.col("prop"), F.explode("stmts").alias("st")
    ).filter(F.size(F.coalesce(F.col("st.references"), F.array())) > 0)
    # flatten references[].snaks{prop: [snak]} → [snak] array-side
    ref_snaks = F.flatten(
        F.transform(
            F.col("st.references"),
            lambda r: F.flatten(
                F.transform(
                    F.coalesce(F.map_entries(r["snaks"]), F.array()),
                    lambda e: e["value"],
                )
            ),
        )
    )
    usable = F.filter(
        ref_snaks,
        lambda sn: (sn["snaktype"] == "value")
        & sn["datavalue"]["type"].isin(*HANDLED_SNAK_TYPES),
    )
    rows = stmts.select(
        F.col("s"), F.col("prop"), F.explode(usable).alias("sn")
    )
    vtype = F.col("sn.datavalue.type")
    raw = F.col("sn.datavalue.value")
    ref_id = F.when(
        vtype == "wikibase-entityid", F.get_json_object(raw, "$.id")
    ).otherwise(F.concat(F.lit("V"), F.substring(F.md5(raw), 1, 5)))
    stmt_uri = F.concat(F.col("s"), F.lit("_"), F.col("prop"), F.lit("_"), ref_id)
    value, datatype = _get_value_datatype(vtype, raw)
    return rows.select(
        *_quad(WIKIDATA_REFERENCE, F.lit("wikidata"), stmt_uri, DBO_REFERENCE, value, datatype)
    ).filter(F.col("value").isNotNull())


# --- Lexeme extractor (WikidataLexemeExtractor.scala) ------------------------

LEX_DBP = "http://lex.dbpedia.org/"
LEX_RESOURCE = "http://lex.dbpedia.org/resource/"
LEX_WIKIDATA = "http://lex.dbpedia.org/wikidata/"
LEX_PROPERTY = "http://lex.dbpedia.org/property/"
NIF_STRING = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String"
ONTOLEX = "http://www.w3.org/ns/lemon/ontolex#"
WIKIBASE_ONT = "http://wikiba.se/ontology#"

_LEX_STMT = T.StructType(
    [T.StructField("mainsnak", _SNAK), T.StructField("rank", T.StringType())]
)
_LEX_CLAIMS = T.MapType(T.StringType(), T.ArrayType(_LEX_STMT))
LEXEME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("lemmas", T.MapType(T.StringType(), _TERM)),
        T.StructField("lexicalCategory", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("claims", _LEX_CLAIMS),
        T.StructField(
            "forms",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("representations", T.MapType(T.StringType(), _TERM)),
                        T.StructField("grammaticalFeatures", T.ArrayType(T.StringType())),
                        T.StructField("claims", _LEX_CLAIMS),
                    ]
                )
            ),
        ),
        T.StructField(
            "senses",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("glosses", T.MapType(T.StringType(), _TERM)),
                        T.StructField("claims", _LEX_CLAIMS),
                    ]
                )
            ),
        ),
    ]
)

# filename extensions the lexeme extractor rewrites to commons File: URLs
# (WikidataLexemeExtractor.scala:85-88 listOfWikiCommonsFileTypes)
_LEX_COMMONS_EXT_RE = (
    r"(?i)\.(jpg|svg|png|gif|webp|tiff|xcf|oga|wav|ogg|ogx|ogv|mp3|opus|"
    r"flac|webm|pdf|mid|djvu|map|tab|stl)\b"
)


def load_lexeme_maps(path: str | None = None) -> dict:
    """Q-id → local-name maps for lexicalCategory / language IRIs, harvested
    from WikidataMappingConfig.scala:5-873 (tools/harvest_lexeme_maps.py)."""
    import json
    import os

    if path is None:
        path = os.path.join(os.path.dirname(__file__), "fixtures", "wikidata_lexeme_maps.json")
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def parse_lexemes(df: DataFrame) -> DataFrame:
    """content → one row per parsed lexeme document (L-pages only)."""
    # a cheap prefilter, so a mixed corpus's item and property pages mostly
    # skip the JSON parse: a lexeme id is a JSON string starting with L,
    # written `"L` or escaped `"\u004c`. A superset of the exact gate below,
    # and a plain filter, free to be pushed to the scan.
    content = F.col("content")
    df = df.filter(content.contains('"L') | content.contains('"\\u004'))
    gate = F.col("e.id").rlike("^L[0-9]+$")
    e = df.select(F.from_json(F.col("content"), LEXEME_SCHEMA).alias("e")).filter(
        gate if df.isStreaming else no_pushdown(gate)
    )
    return e.select("e.*")


def wikidata_lexeme_quads(df: DataFrame) -> DataFrame:
    """WikidataLexemeExtractor.scala:103-297 re-expressed as ONE array-side
    quad construction + a single explode (no shuffle):

    - lexeme skeleton: owl:sameAs to wd entity, rdf:type ontolex:
      LexicalEntry + wikibase:Lexeme, ontolex:lexicalForm / ontolex:sense
      edges, each form/sense typed ontolex:Form|LexicalSense +
      wikibase:Form|Sense and owl:sameAs to its wd entity;
    - lemmas / representations / glosses: ``lex:resource/<text>`` nodes
      pointing back via lex:property/lemma|form|lexicalSense, typed
      nif:String (spaces → underscores, WikidataUtil
      replaceSpaceWithUnderscore — no further encoding);
    - lexicalCategory / language: mapped through the harvested Q→name
      fixture to ``lex.dbpedia.org/<name>`` IRIs (dbo:language for the
      language), unmapped Q-ids fall back to the canonical wd entity IRI;
    - statements on the lexeme, each form, and each sense:
      ``lex:property/P<id>`` predicates; entity values → canonical wd
      entity IRIs, commons-media filenames → commons File: URLs, other
      values via the getValue/getDatatype dispatch.

    The quad ``language`` column is the constant 'wikidata' (the reference
    passes context.language throughout)."""
    lex = parse_lexemes(df)
    maps = load_lexeme_maps()

    # ONE literal string per map via str_to_map — not create_map over
    # 1,700 F.lit() columns: each lit is a py4j round-trip and the literal
    # map's expression tree makes every downstream union re-analysis pay
    # for it (measured multi-second driver cost per query at sf0.1)
    def _lit_map(d: dict[str, str]) -> Column:
        blob = "\x02".join(f"{k}\x01{v}" for k, v in sorted(d.items()))
        return F.str_to_map(F.lit(blob), F.lit("\x02"), F.lit("\x01"))

    cat_map = _lit_map(maps["lexical_category"])
    lang_map = _lit_map(maps["language"])

    lexeme_iri = F.concat(F.lit(LEX_WIKIDATA), F.col("id"))
    wd_iri = F.concat(F.lit(WD_ENTITY), F.col("id"))

    def q(s, p, v, dt=None):
        return F.struct(
            s.cast("string").alias("subject"),
            (F.lit(p) if isinstance(p, str) else p).cast("string").alias("predicate"),
            v.cast("string").alias("value"),
            (F.lit(dt) if (dt is None or isinstance(dt, str)) else dt).cast("string").alias("datatype"),
        )

    def stmt_quads(subject, claims_col):
        """Statements over one claims map → quad array (array-side)."""
        pairs = F.flatten(
            F.transform(
                F.coalesce(F.map_entries(claims_col), F.array()),
                lambda e: F.transform(
                    e["value"], lambda st: F.struct(e["key"].alias("p"), st.alias("st"))
                ),
            )
        )
        usable = F.filter(
            pairs,
            lambda pr: (pr["st"]["mainsnak"]["snaktype"] == "value")
            & pr["st"]["mainsnak"]["datavalue"]["type"].isin(*HANDLED_SNAK_TYPES),
        )

        def one(pr):
            vtype = pr["st"]["mainsnak"]["datavalue"]["type"]
            raw = pr["st"]["mainsnak"]["datavalue"]["value"]
            pred = F.concat(F.lit(LEX_PROPERTY), pr["p"])
            gv, gdt = _get_value_datatype(vtype, raw)
            is_commons = (vtype == "string") & (F.regexp_count(raw, F.lit(_LEX_COMMONS_EXT_RE)) > 0)
            commons_url = F.concat(
                F.lit("http://commons.wikimedia.org/wiki/File:"),
                F.regexp_replace(raw, " ", "_"),
            )
            value = F.when(is_commons, commons_url).otherwise(
                F.when(vtype == "string", F.regexp_replace(gv, " ", "_")).otherwise(gv)
            )
            dt = F.when(is_commons, F.lit(None).cast("string")).otherwise(gdt)
            return q(subject, pred, value, dt)

        return F.transform(usable, one)

    def term_quads(term_map, prop, target):
        """lemmas/representations/glosses map → (lex:resource/<text> node,
        back-edge + nif:String type) quad pairs."""
        return F.flatten(
            F.transform(
                F.coalesce(F.map_values(term_map), F.array()),
                lambda t: F.array(
                    q(
                        F.concat(F.lit(LEX_RESOURCE), F.regexp_replace(t["value"], " ", "_")),
                        prop,
                        target,
                    ),
                    q(
                        F.concat(F.lit(LEX_RESOURCE), F.regexp_replace(t["value"], " ", "_")),
                        RDF_TYPE,
                        F.lit(NIF_STRING),
                    ),
                ),
            )
        )

    cat_name = F.element_at(cat_map, F.col("lexicalCategory"))
    cat_iri = F.when(
        F.col("lexicalCategory").isNotNull(),
        F.when(cat_name.isNotNull(), F.concat(F.lit(LEX_DBP), cat_name)).otherwise(
            F.concat(F.lit(WD_ENTITY), F.col("lexicalCategory"))
        ),
    )
    lang_name = F.element_at(lang_map, F.col("language"))
    lang_iri = F.when(
        F.col("language").isNotNull(),
        F.when(lang_name.isNotNull(), F.concat(F.lit(LEX_DBP), lang_name)).otherwise(
            F.concat(F.lit(WD_ENTITY), F.col("language"))
        ),
    )

    skeleton = F.array(
        q(lexeme_iri, V.OWL_SAME_AS, wd_iri),
        q(lexeme_iri, RDF_TYPE, F.lit(ONTOLEX + "LexicalEntry")),
        q(lexeme_iri, RDF_TYPE, F.lit(WIKIBASE_ONT + "Lexeme")),
    )
    cat_lang = F.filter(
        F.array(
            q(lexeme_iri, LEX_PROPERTY + "lexicalcategory", cat_iri),
            q(lexeme_iri, "http://dbpedia.org/ontology/language", lang_iri),
        ),
        lambda x: x["value"].isNotNull(),
    )

    def form_quads(f):
        form_iri = F.concat(F.lit(LEX_WIKIDATA), f["id"])
        base = F.array(
            q(lexeme_iri, ONTOLEX + "lexicalForm", form_iri),
            q(form_iri, RDF_TYPE, F.lit(ONTOLEX + "Form")),
            q(form_iri, RDF_TYPE, F.lit(WIKIBASE_ONT + "Form")),
            q(form_iri, V.OWL_SAME_AS, F.concat(F.lit(WD_ENTITY), f["id"])),
        )
        reprs = term_quads(f["representations"], LEX_PROPERTY + "form", form_iri)
        feats = F.transform(
            F.coalesce(f["grammaticalFeatures"], F.array()),
            lambda g: q(
                form_iri, LEX_PROPERTY + "grammaticalFeature", F.concat(F.lit(WD_ENTITY), g)
            ),
        )
        return F.concat(base, reprs, feats, stmt_quads(form_iri, f["claims"]))

    def sense_quads(sx):
        sense_iri = F.concat(F.lit(LEX_WIKIDATA), sx["id"])
        base = F.array(
            q(lexeme_iri, ONTOLEX + "sense", sense_iri),
            q(sense_iri, RDF_TYPE, F.lit(ONTOLEX + "LexicalSense")),
            q(sense_iri, RDF_TYPE, F.lit(WIKIBASE_ONT + "Sense")),
            q(sense_iri, V.OWL_SAME_AS, F.concat(F.lit(WD_ENTITY), sx["id"])),
        )
        glosses = term_quads(sx["glosses"], LEX_PROPERTY + "lexicalSense", sense_iri)
        return F.concat(base, glosses, stmt_quads(sense_iri, sx["claims"]))

    all_quads = F.concat(
        skeleton,
        term_quads(F.col("lemmas"), LEX_PROPERTY + "lemma", lexeme_iri),
        stmt_quads(lexeme_iri, F.col("claims")),
        cat_lang,
        F.flatten(F.transform(F.coalesce(F.col("forms"), F.array()), form_quads)),
        F.flatten(F.transform(F.coalesce(F.col("senses"), F.array()), sense_quads)),
    )
    return lex.select(F.explode(all_quads).alias("q")).filter(
        F.col("q.value").isNotNull()
    ).select(
        F.lit("wikidata").alias("language"),
        F.lit(WIKIDATA_LEXEME).alias("dataset"),
        F.col("q.subject").alias("subject"),
        F.col("q.predicate").alias("predicate"),
        F.col("q.value").alias("value"),
        F.lit(None).cast("string").alias("context"),
        F.col("q.datatype").alias("datatype"),
    )


def wikidata_all_quads(df: DataFrame) -> DataFrame:
    """The COMPLETE wikidata extractor group over one mixed entity corpus
    (items + properties + lexemes, the wikidata-dump page population):
    terms/sitelink-sameAs/raw, R2R, reification + qualifiers, property
    pages, statement references, namespace sameAs, and lexemes. Each
    extractor gates on its id shape (items ``^Q``, properties ``^P``,
    references ``^[QP]``, lexemes ``^L``): the namespace routing of the
    reference's dump config, resolved as filters over ONE shared parse.
    Lexeme pages are parsed separately (different JSON schema) but from the
    same corpus.

    Runs Spark jobs: the entity parse and each branch are checkpointed here,
    and the result is the union of the branch leaves: ``localCheckpoint``
    blocks in executor storage, so losing an executor (or dynamic allocation
    removing one) before the union is consumed fails that job instead of
    recomputing; the workdir job's uncommitted ``wikidata_quads`` stage is
    then recomputed by a rerun."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    # parse the JSON ONCE into a leaf every branch scans. Narrowed to the
    # core count first: every branch unions 4-9 sub-scans of it, so its
    # partition count multiplies into every branch's task count. A
    # localCheckpoint, not persist: building the COLUMNAR cache of the
    # deeply nested entity structs cost 6.4 s at sf1.0 against 0.4 s for
    # the row blocks, and every branch scan was faster off the row blocks
    # (no columnar decode of nested maps and arrays).
    ent = parse_entities(df).coalesce(cores).localCheckpoint()
    # builders, not built DataFrames: constructing the seven expression
    # trees is itself ~3-4 s of serial py4j round trips on the driver (the
    # r2r rule table and the lexeme skeleton ~1 s each); building inside the
    # threads overlaps that with the first checkpoint jobs
    builders = [
        lambda: wikidata_quads(df, entities=ent),
        lambda: wikidata_r2r_quads(df, entities=ent),
        lambda: wikidata_reified_quads(df, entities=ent),
        lambda: wikidata_property_quads(df, entities=ent),
        lambda: wikidata_reference_quads(df, entities=ent),
        lambda: wikidata_namespace_same_as(df, entities=ent),
        lambda: wikidata_lexeme_quads(df),
    ]
    # each branch is its own leaf BEFORE the union: chaining unionByName
    # calls re-analyzes the accumulated left side per call (measured 97 s
    # against 38 s for the same work at sf0.1 as one lazy union). The
    # branches are independent jobs, each too small to fill the cluster,
    # so they run concurrently (measured at sf0.1: 7.8 s sequential, 3.7 s
    # threaded, cold); results keep branch order, so the union layout is
    # deterministic.
    leaves = concurrently(
        spark, [lambda b=b: b().coalesce(cores).localCheckpoint() for b in builders]
    )
    return reduce(DataFrame.unionByName, leaves).coalesce(cores)


# --- R2R mapping pass (WikidataR2RExtractor.scala) ---------------------------
#
# The reference drives this from config JSON resources (its core
# wikidatar2r.json property table + a class-mappings file); the engine loads
# the same shape of table from fixtures/wikidata_r2r.json — adding a rule is
# a DATA edit, not a code edit (the mappings_loader pattern). Kinds:
#   type         — P31-style: entity value looked up in the shared Q→class
#                  map (fixture `classes`, rule-level class_map override)
#   object       — entity value → IRI object quad
#   literal      — typed literal via the shared snak typing
#   iri          — string value used verbatim as an IRI object
#   commons_file — string filename → commons Special:FilePath IRI
#   geo          — globecoordinate → geo:lat + geo:long + georss:point
#   uri_template — external-id string substituted into a URI ($1 = raw
#                  value, $2 = wikiEncoded) — the reference's dominant
#                  rdfs:seeAlso / owl:sameAs pattern

_R2R_PREFIXES = {
    "dbo:": "http://dbpedia.org/ontology/",
    "foaf:": FOAF,
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
    "geo:": "http://www.w3.org/2003/01/geo/wgs84_pos#",
    "georss:": "http://www.georss.org/georss/",
}


def _expand_prefix(iri: str) -> str:
    for pfx, base in _R2R_PREFIXES.items():
        if iri.startswith(pfx):
            return base + iri[len(pfx):]
    return iri


def load_r2r_rules(path: str | None = None) -> list[dict]:
    """Load the R2R rule table from a JSON fixture (default:
    fixtures/wikidata_r2r.json). Prefixed predicates/classes expand; `type`
    rules without their own class_map get the fixture's shared Q→class map."""
    import json
    from pathlib import Path

    p = Path(path) if path else Path(__file__).parent / "fixtures" / "wikidata_r2r.json"
    data = json.loads(p.read_text(encoding="utf-8"))
    classes = {q: _expand_prefix(c) for q, c in data.get("classes", {}).items()}
    rules: list[dict] = []
    for r in data.get("rules", []):
        r = dict(r)
        if "predicate" in r:
            r["predicate"] = _expand_prefix(r["predicate"])
        if r["kind"] == "type":
            r["class_map"] = {
                q: _expand_prefix(c) for q, c in r.get("class_map", {}).items()
            } or classes
        rules.append(r)
    return rules


_DEFAULT_R2R_CACHE: list[dict] | None = None


def default_r2r_rules() -> list[dict]:
    global _DEFAULT_R2R_CACHE
    if _DEFAULT_R2R_CACHE is None:
        _DEFAULT_R2R_CACHE = load_r2r_rules()
    return _DEFAULT_R2R_CACHE


def _prop_map(rules: list[dict], key: str = "predicate") -> Column:
    pairs: list[Column] = []
    for r in rules:
        pairs += [F.lit(r["prop"]), F.lit(r[key])]
    return F.element_at(F.create_map(*pairs), F.col("prop"))


def wikidata_r2r_quads(df: DataFrame, rules=None, entities: DataFrame | None = None) -> DataFrame:
    """Map raw wikidata claims onto ontology terms per the rule table —
    the WikidataR2RExtractor analog. Rules load from
    fixtures/wikidata_r2r.json by default (load_r2r_rules).

    r6 (the fused_quads pattern, guide §2.4: remove passes outright): ONE
    snak pass total. The r5 shape was one union branch per rule KIND
    (9 branches for the default table), and every branch re-executed the
    claims explode + rank selection + JSON field extraction — measured as
    the dominant branch of the wikidata build (9.3 s sequential-cold at
    sf0.1, one-session probe). Each snak row now evaluates every rule kind
    as a guarded quad-struct inside ONE array_compact + explode; the rule
    table is literal maps/CASE chains as before, so widening it from 9 to
    hundreds of properties still does not widen the physical plan."""
    rules = default_r2r_rules() if rules is None else rules
    ent_q = (entities if entities is not None else _entities(df)).filter(
        F.col("id").rlike("^Q[0-9]+$")
    )
    snaks = _snak_table(df, ent_q, check_rank=True).filter(F.col("snaktype") == "value")
    value, datatype, language = _typed_value(F.col("vtype"), F.col("raw"))

    def _qs(ds, lang, p, v, dt=None) -> Column:
        pc = F.lit(p) if isinstance(p, str) else p
        dtc = F.lit(dt) if (dt is None or isinstance(dt, str)) else dt
        return F.struct(
            lang.alias("language"),
            F.lit(ds).alias("dataset"),
            F.col("s").cast("string").alias("subject"),
            pc.cast("string").alias("predicate"),
            v.cast("string").alias("value"),
            F.lit(None).cast("string").alias("context"),
            dtc.cast("string").alias("datatype"),
        )

    wd_lang = F.lit("wikidata")
    quad_exprs: list[Column] = []

    type_rules = [r for r in rules if r["kind"] == "type"]
    if type_rules:
        # prop → (Q-id → class) as one nested literal map; a null lookup
        # reproduces the r5 branch's value-isNotNull filter
        tpairs: list[Column] = []
        for r in type_rules:
            cpairs: list[Column] = []
            for q, cls in r["class_map"].items():
                cpairs += [F.lit(q), F.lit(cls)]
            tpairs += [F.lit(r["prop"]), F.create_map(*cpairs)]
        cls = F.element_at(
            F.element_at(F.create_map(*tpairs), F.col("prop")),
            F.get_json_object(F.col("raw"), "$.id"),
        )
        quad_exprs.append(
            F.when(
                (F.col("vtype") == "wikibase-entityid") & cls.isNotNull(),
                _qs(WIKIDATA_R2R_TYPES, wd_lang, RDF_TYPE, cls),
            )
        )

    lit_rules = [r for r in rules if r["kind"] == "literal"]
    if lit_rules:
        quad_exprs.append(
            F.when(
                F.col("prop").isin(*[r["prop"] for r in lit_rules])
                & F.col("vtype").isin("time", "quantity", "monolingualtext", "string")
                & value.cast("string").isNotNull(),
                _qs(WIKIDATA_R2R_LITERALS, language, _prop_map(lit_rules), value, datatype),
            )
        )

    obj_rules = [r for r in rules if r["kind"] == "object"]
    if obj_rules:
        quad_exprs.append(
            F.when(
                F.col("prop").isin(*[r["prop"] for r in obj_rules])
                & (F.col("vtype") == "wikibase-entityid"),
                _qs(WIKIDATA_R2R_OBJECTS, wd_lang, _prop_map(obj_rules),
                    F.concat(F.lit(WD_RESOURCE), F.get_json_object(F.col("raw"), "$.id"))),
            )
        )

    iri_rules = [r for r in rules if r["kind"] == "iri"]
    if iri_rules:
        quad_exprs.append(
            F.when(
                F.col("prop").isin(*[r["prop"] for r in iri_rules])
                & (F.col("vtype") == "string"),
                _qs(WIKIDATA_R2R_OBJECTS, wd_lang, _prop_map(iri_rules), F.col("raw")),
            )
        )

    cf_rules = [r for r in rules if r["kind"] == "commons_file"]
    if cf_rules:
        quad_exprs.append(
            F.when(
                F.col("prop").isin(*[r["prop"] for r in cf_rules])
                & (F.col("vtype") == "string"),
                _qs(WIKIDATA_R2R_OBJECTS, wd_lang, _prop_map(cf_rules),
                    F.concat(F.lit(COMMONS_FILE), wiki_encode_expr(F.col("raw")))),
            )
        )

    tpl_rules = [r for r in rules if r["kind"] == "uri_template"]
    if tpl_rules:
        tpl = _prop_map(tpl_rules, key="template")
        uri = F.replace(
            F.replace(tpl, F.lit("$2"), wiki_encode_expr(F.col("raw"))),
            F.lit("$1"), F.col("raw"),
        )
        quad_exprs.append(
            F.when(
                F.col("prop").isin(*[r["prop"] for r in tpl_rules])
                & (F.col("vtype") == "string"),
                _qs(WIKIDATA_R2R_OBJECTS, wd_lang, _prop_map(tpl_rules), uri),
            )
        )

    geo_rules = [r for r in rules if r["kind"] == "geo"]
    if geo_rules:
        geo_cond = F.col("prop").isin(*[r["prop"] for r in geo_rules]) & (
            F.col("vtype") == "globecoordinate"
        )
        lat = F.get_json_object(F.col("raw"), "$.latitude")
        lng = F.get_json_object(F.col("raw"), "$.longitude")
        quad_exprs.append(
            F.when(geo_cond, _qs(WIKIDATA_R2R_GEO, wd_lang, V.GEO_LAT, lat, XSD_FLOAT))
        )
        quad_exprs.append(
            F.when(geo_cond, _qs(WIKIDATA_R2R_GEO, wd_lang, V.GEO_LONG, lng, XSD_FLOAT))
        )
        quad_exprs.append(
            F.when(geo_cond, _qs(WIKIDATA_R2R_GEO, wd_lang, V.GEORSS_POINT,
                                 F.concat_ws(" ", lat, lng), XSD_STRING))
        )

    if not quad_exprs:
        # empty / fully-unrecognized rule table → empty quad frame
        from .schema import QUAD_SCHEMA

        return df.sparkSession.createDataFrame([], QUAD_SCHEMA)
    return (
        snaks.select(F.explode(F.array_compact(F.array(*quad_exprs))).alias("q"))
        .select("q.*")
    )


# --- WikidataSameAsToLanguageLinks (scripts/.../WikidataSameAsToLanguage
#     Links.scala:40-180) + canonical cross-language assembly ----------------

WIKIDATA_LANGUAGE_LINKS = "wikidata_language_links"


def wikidata_language_links(quads: DataFrame) -> DataFrame:
    """wikidata_same_as quads (wd entity → per-language DBpedia resource) →
    direct owl:sameAs links BETWEEN the language editions themselves, plus
    each edition → the wikidata entity (the reference emits exactly this
    expansion per language). One self-join shuffled on the entity id — the
    natural key, no skew (each entity has ≤ ~300 sitelinks)."""
    sl = quads.filter(F.col("dataset") == WIKIDATA_SAME_AS).select(
        F.col("subject").alias("wd"), F.col("language").alias("lang"), F.col("value").alias("res")
    )
    b = sl.select(F.col("wd").alias("wd2"), F.col("lang").alias("lang_b"), F.col("res").alias("res_b"))
    pairs = sl.join(b, sl["wd"] == b["wd2"]).filter(F.col("lang") != F.col("lang_b"))
    cross = pairs.select(
        *_quad(WIKIDATA_LANGUAGE_LINKS, F.col("lang"), F.col("res"), V.OWL_SAME_AS, F.col("res_b"))
    )
    to_wd = sl.select(
        *_quad(WIKIDATA_LANGUAGE_LINKS, F.col("lang"), F.col("res"), V.OWL_SAME_AS, F.col("wd"))
    )
    return cross.unionByName(to_wd)


def cross_language_same_as(wikitext_quads: DataFrame, wd_quads: DataFrame) -> DataFrame:
    """Canonical cross-language sameAs graph: the wikidata sitelink expansion
    UNIONed with the bidirectional interlanguage-link sameAs
    (ProcessInterLanguageLinks), deduplicated on the quad key — the chain the
    reference assembles across WikidataSameAsToLanguageLinks +
    ProcessInterLanguageLinks outputs."""
    from .canonicalize import interlanguage_same_as

    ill = interlanguage_same_as(wikitext_quads)
    wll = wikidata_language_links(wd_quads)
    return (
        wll.unionByName(ill.withColumn("dataset", F.lit(WIKIDATA_LANGUAGE_LINKS)))
        .dropDuplicates(["subject", "value", "language"])
    )


# ---------------------------------------------------------------------------
# ProcessWikidataLinks — wb_items_per_site TSV dump → per-language
# interlanguage owl:sameAs quads (scripts/.../ProcessWikidataLinks.scala)
# ---------------------------------------------------------------------------

INTERLANGUAGE_SITE_LINKS = "interlanguage_links_same_as"


def site_link_conflicts(links: DataFrame) -> DataFrame:
    """(item_id, site) pairs carrying more than one distinct title. The
    reference ABORTS the whole job on the first one
    (ProcessWikidataLinks.scala:352-353 "multiple links for item");
    surface them as a DataFrame instead so production gates on emptiness
    fail-closed (the jobs/curate.py pattern) rather than throwing from an
    executor mid-query."""
    return (
        links.groupBy("item_id", "site")
        .agg(F.count_distinct(F.col("title")).alias("n_titles"))
        .filter(F.col("n_titles") > 1)
    )


def wikidata_site_links_quads(links: DataFrame, languages: list[str]) -> DataFrame:
    """ProcessWikidataLinks.scala re-expressed: the ``wb_items_per_site``
    TSV dump — rows (item_id, site like 'enwiki', title) — becomes the
    per-language interlanguage owl:sameAs datasets. For each item the link
    set is its per-language resource URIs PLUS the Wikidata URI (language
    0 in the reference's bit layout); every ORDERED pair with distinct
    languages is one quad whose context is the Wikidata page URL, routed
    to the SUBJECT language's dataset (the `language` column here — the
    reference routes via a per-language destination array).

    Scale shape: ONE shuffle, keyed on item_id (the reference loads all
    30.7M links into a single driver long-array and sorts — the bit-packed
    27/10/27 layout exists only to make that fit; a key-partitioned
    aggregation needs none of it). The pair expansion runs ARRAY-SIDE per
    item and is bounded by the language count — the reference's own 2^10
    language bound — so no item can blow up a task. Duplicate titles per
    (item, site) collapse to MIN deterministically; run
    :func:`site_link_conflicts` first and gate on empty to keep the
    reference's abort contract."""
    sites = [l.replace("-", "_") + "wiki" for l in languages]
    # r6 (guide §2.3/§2.4): the r5 flow scanned links a SECOND time for a
    # full DISTINCT just to add the per-item Wikidata member. That member is
    # a pure function of item_id, and an item whose every site is filtered
    # out emitted nothing anyway (its group was the wikidata singleton, and
    # the pair expansion needs two distinct languages) — so it is appended
    # ARRAY-SIDE after the per-item collect: one scan and one less shuffle
    # of the (30M-row at production scale) link table.  Wall-neutral at
    # bench scale (shuffle-bytes win only); kept for the scan removal.
    #
    # r6 second pass: the min-title-per-(item, site) step was its own
    # groupBy — min over a STRING is not hash-aggregable, so the plan ran a
    # SortAggregate pair (two sorted passes + an (item, site) exchange)
    # BEFORE the per-item collect's own exchange. Both aggregations now
    # collapse into ONE ObjectHashAggregate keyed on item_id (the docstring's
    # "one shuffle" for real): collect every (site, title), sort array-side,
    # and keep the first entry per site run. The null-flag field in the sort
    # key reproduces min()'s ignore-nulls semantics exactly (null struct
    # fields sort FIRST, min() skips them — the flag puts null titles last
    # within a site, so a site yields its least non-null title, or null only
    # when every title is null, exactly like min). Per-item array length is
    # bounded by |sites| × duplicate titles (site_link_conflicts gates dups).
    wd_member = F.struct(
        F.lit("wikidata").alias("lang"),
        F.concat(F.lit(WD_RESOURCE), F.lit("Q"), F.col("item_id")).alias("uri"),
    )
    # lang/uri derive per RAW row in the codegen project BEFORE the shuffle
    # (higher-order lambdas run interpreted — deriving them array-side after
    # the first-per-site selection was A/B-measured ~0.8 s slower at 10x);
    # title rides along only as the ordering key (wiki-encoding is not
    # order-preserving, so min(title) cannot be read off the uri)
    lang = F.regexp_replace(F.regexp_replace(F.col("site"), "wiki$", ""), "_", "-")
    base = F.when(lang == "en", F.lit("http://dbpedia.org/resource/")).otherwise(
        F.concat(F.lit("http://"), lang, F.lit(".dbpedia.org/resource/"))
    )
    entry_struct = F.struct(
        F.col("site").alias("site"),
        F.col("title").isNull().cast("int").alias("nullflag"),
        F.col("title").alias("title"),
        lang.alias("lang"),
        F.concat(base, wiki_encode_expr(F.col("title"))).alias("uri"),
    )
    sts = F.array_sort(F.col("st"))
    idx = F.sequence(F.lit(1), F.size(F.col("sts")))
    # an entry opens its site's run when it is the first entry or its site
    # differs from the previous one; the CASE keeps element_at(sts, 0) from
    # ever being formed (an index-0 element_at raises)
    firsts = F.transform(
        F.filter(
            idx,
            lambda i: F.when(
                i > 1,
                F.element_at(F.col("sts"), i)["site"]
                != F.element_at(F.col("sts"), i - 1)["site"],
            ).otherwise(F.lit(True)),
        ),
        lambda i: F.struct(
            F.element_at(F.col("sts"), i)["lang"].alias("lang"),
            F.element_at(F.col("sts"), i)["uri"].alias("uri"),
        ),
    )
    grouped = (
        links.filter(F.col("site").isin(*sites))
        .select("item_id", entry_struct.alias("e"))
        .groupBy("item_id")
        .agg(F.collect_list(F.col("e")).alias("st"))
        .select("item_id", sts.alias("sts"))
        .select(
            "item_id",
            F.array_sort(F.concat(firsts, F.array(wd_member))).alias("ls"),
        )
    )
    pairs = F.flatten(
        F.transform(
            F.col("ls"),
            lambda s: F.filter(
                F.transform(
                    F.col("ls"),
                    lambda o: F.struct(
                        s["lang"].alias("slang"), s["uri"].alias("suri"),
                        o["lang"].alias("olang"), o["uri"].alias("ouri"),
                    ),
                ),
                lambda p: p["slang"] != p["olang"],
            ),
        )
    )
    ctx = F.concat(F.lit("http://wikidata.dbpedia.org/wiki/Q"), F.col("item_id"))
    return (
        grouped.select("item_id", F.explode(pairs).alias("p"))
        .select(
            F.col("p.slang").alias("language"),
            F.lit(INTERLANGUAGE_SITE_LINKS).alias("dataset"),
            F.col("p.suri").alias("subject"),
            F.lit(V.OWL_SAME_AS).alias("predicate"),
            F.col("p.ouri").alias("value"),
            ctx.alias("context"),
            F.lit(None).cast("string").alias("datatype"),
        )
    )


# ---------------------------------------------------------------------------
# MapWikidataToLanguageUri — wikidata persondata re-homed onto a language
# edition (scripts/.../MapWikidataToLanguageUri.scala:20-155)
# ---------------------------------------------------------------------------

FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
FOAF_GIVEN_NAME = "http://xmlns.com/foaf/0.1/givenName"
FOAF_SURNAME = "http://xmlns.com/foaf/0.1/surname"
DCT_DESCRIPTION = "http://purl.org/dc/terms/description"


def map_wikidata_to_language_uri(
    quads: DataFrame, interlanguage_links: DataFrame, lang: str
) -> DataFrame:
    """MapWikidataToLanguageUri.scala re-expressed: re-home the Wikidata
    persondata dataset onto one language edition. Subjects with no
    interlanguage link into the language are dropped; the rest get the
    language resource URI. Per (subject, predicate) ONE representative
    survives: non-language groups keep their head (wikidata-resource
    objects rewritten through the same link map when possible);
    language-tagged groups prefer the target language, then English
    retagged, then the head retagged — EXCEPT dct:description, which is
    dropped when no target-language row exists (the reference's hardcoded
    exception). Finally the foaf name arithmetic: a missing surname
    (givenName + name present) or missing givenName (surname + name
    present) is derived by subtracting the known part from foaf:name when
    exactly one word remains.

    Scale shape: two subject-keyed shuffles (the link join and the
    representative window) plus one broadcast-eligible value-side join for
    object rewrite; the name completion is one more subject-keyed
    aggregation over just the three foaf predicates. The reference instead
    holds the whole link map in driver memory and streams a
    subject-sorted file (its header FIXME: "parallel me!!!").
    Deterministic divergence: equal-priority representatives tie-break on
    value (the reference takes file order)."""
    base = (
        "http://dbpedia.org/resource/"
        if lang == "en"
        else f"http://{lang}.dbpedia.org/resource/"
    )
    links = (
        interlanguage_links.filter(
            F.col("value").startswith(WD_RESOURCE)
            & F.col("subject").startswith(base)
        )
        .groupBy(F.col("value").alias("wd"))
        .agg(F.min("subject").alias("mapped"))
    )
    q = (
        quads.join(links, quads["subject"] == links["wd"])
        .drop("wd")
        .withColumn("subject", F.col("mapped"))
        .drop("mapped")
    )
    pri = (
        F.when(F.col("language").isNull(), 0)
        .when(F.col("language") == lang, 0)
        .when(F.col("language") == "en", 1)
        .otherwise(2)
    )
    w = Window.partitionBy("subject", "predicate").orderBy(
        pri.asc(), F.col("value").asc()
    )
    rep = (
        q.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
        # dct:description never falls back to another language
        .filter(
            ~(
                F.col("language").isNotNull()
                & (F.col("language") != lang)
                & (F.col("predicate") == DCT_DESCRIPTION)
            )
        )
        .withColumn(
            "language",
            F.when(F.col("language").isNotNull(), F.lit(lang)),
        )
    )
    # object rewrite for wikidata-resource objects with a link
    ol = links.select(F.col("wd").alias("_ow"), F.col("mapped").alias("_om"))
    rep = (
        rep.join(
            ol,
            (F.col("value") == F.col("_ow"))
            & F.col("language").isNull()
            & F.col("datatype").isNull(),
            "left",
        )
        .withColumn("value", F.coalesce(F.col("_om"), F.col("value")))
        .drop("_ow", "_om")
    )
    if "dataset" in rep.columns:
        rep = rep.withColumn("dataset", F.lit("persondata"))
    # foaf name arithmetic over the representatives
    trio = rep.filter(
        F.col("predicate").isin(FOAF_NAME, FOAF_GIVEN_NAME, FOAF_SURNAME)
    )
    other_cols = [c for c in rep.columns if c not in ("subject", "predicate", "value")]
    agg = lambda p, c: F.max(F.when(F.col("predicate") == p, c))
    names = trio.groupBy("subject").agg(
        agg(FOAF_NAME, F.col("value")).alias("nm"),
        agg(FOAF_GIVEN_NAME, F.col("value")).alias("gv"),
        agg(FOAF_SURNAME, F.col("value")).alias("sn"),
        # the derived quad copies the OTHER name part's row (the reference
        # copies the givenName quad when deriving surname and vice versa)
        agg(FOAF_GIVEN_NAME, F.struct(*other_cols)).alias("gv_tpl"),
        agg(FOAF_SURNAME, F.struct(*other_cols)).alias("sn_tpl"),
    )
    one_word = lambda c: (F.size(F.split(c, " ")) == 1)
    sn_rest = F.trim(F.substring(F.col("nm"), F.length("gv") + 1, 1 << 30))
    derive_sn = (
        F.col("sn").isNull()
        & F.col("gv").isNotNull()
        & F.col("nm").isNotNull()
        & (F.length("nm") > F.length("gv"))
        & (F.substring(F.col("nm"), 1, F.length("gv")) == F.col("gv"))
        & one_word(sn_rest)
    )
    gnl = F.length("nm") - F.length("sn")
    gv_cand = F.trim(F.substring(F.col("nm"), 1, gnl))
    derive_gv = (
        F.col("gv").isNull()
        & F.col("sn").isNotNull()
        & F.col("nm").isNotNull()
        & (F.length("nm") > gnl)
        & (gnl > 0)
        & (F.trim(F.substring(F.col("nm"), gnl + 1, 1 << 30)) == F.col("sn"))
        & one_word(gv_cand)
    )
    new_pred = F.when(derive_sn, FOAF_SURNAME).otherwise(FOAF_GIVEN_NAME)
    new_val = F.when(derive_sn, sn_rest).otherwise(gv_cand)
    tpl = F.when(derive_sn, F.col("gv_tpl")).otherwise(F.col("sn_tpl"))
    derived = (
        names.filter(derive_sn | derive_gv)
        .select(
            "subject",
            new_pred.alias("predicate"),
            new_val.alias("value"),
            tpl.alias("tpl"),
        )
        .select(
            "subject",
            "predicate",
            "value",
            *[F.col(f"tpl.{c}").alias(c) for c in other_cols],
        )
    )
    return rep.unionByName(derived.select(*rep.columns))


# ---------------------------------------------------------------------------
# WikidataSubClassOf — mapping suggestions from the P279 hierarchy
# (scripts/.../WikidataSubClassOf.scala:34-232)
# ---------------------------------------------------------------------------

P279 = "http://www.wikidata.org/entity/P279"
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"


def wikidata_subclass_mappings(
    raw_quads: DataFrame,
    *,
    seed_map: dict[int, str],
    top_level_classes: set[str] | None = None,
    max_rounds: int = 64,
    driver_max_edges: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Propagate DBpedia classes down the Wikidata P279 subclass hierarchy
    and return the suggested Q → class mappings.

    The reference (WikidataSubClassOf.scala:56-145) loads the P279 edges
    into a driver map and runs a recursive ``setWkdSubClassesToDbp`` walk:
    owl:Thing seeds first (Q35120), then seeds carrying top-level DBpedia
    classes, then everything to fixpoint, never crossing an already-assigned
    node; finally it drops owl:Thing labels and the pre-existing ontology
    seeds.  At 100 TB the edge map does not fit a driver, so the walk is an
    iterative min-key relaxation over DataFrames: a node takes the label of
    the seed that reaches it through seed-free edges with the smallest
    (phase, hop, class) key — phase 0 = owl:Thing, 1 = top-level classes,
    2 = the rest.  Documented divergence: the reference's within-phase
    recursion order is hash-map nondeterministic; the (hop, class) tie-break
    here is the deterministic stand-in.

    ``raw_quads``: (subject, predicate, value) with wikidata-entity IRIs —
    only P279 rows are used, Q-ids parsed from the IRI tails
    (getWikidataSubClassOfMap, WikidataSubClassOf.scala:181-206).
    ``seed_map``: Q-id → class IRI/name (the ontology equivalent-class map;
    include 35120 → owl:Thing to mirror the reference's hardcoded root).
    Returns (qid, value): 'Qnnn' → class, seeds and owl:Thing excluded.

    Hybrid execution (the redirects.transitive_closure idiom): edge sets
    under ``driver_max_edges`` run an exact driver-side Dijkstra over the
    same (phase, hop, class) key — one job + one collect, matching the
    reference's in-memory walk; larger sets use the distributed relaxation
    loop (tests force it with ``driver_max_edges=0``).
    """
    spark = raw_quads.sparkSession
    # persisted: every relaxation round joins the frontier against edges —
    # unpersisted, each round would re-scan the full raw-quads corpus and
    # re-shuffle the distinct (20+ redundant passes on a deep hierarchy)
    edges = (
        raw_quads.filter(F.col("predicate") == P279)
        .select(
            F.regexp_extract("subject", r"Q(\d+)$", 1).try_cast("long").alias("sub"),
            F.regexp_extract("value", r"Q(\d+)$", 1).try_cast("long").alias("sup"),
        )
        .filter(F.col("sub").isNotNull() & F.col("sup").isNotNull())
        .distinct()
        .persist()
    )
    tops = top_level_classes or set()
    seed_rows = [
        (int(q), cls, 0 if cls == OWL_THING else (1 if cls in tops else 2))
        for q, cls in seed_map.items()
    ]

    from .redirects import DRIVER_CLOSURE_MAX_EDGES

    cutoff = DRIVER_CLOSURE_MAX_EDGES if driver_max_edges is None else driver_max_edges
    if fits(edges, cutoff):
        pairs = [(r["sub"], r["sup"]) for r in edges.collect()]
        edges.unpersist()
        out = _subclass_in_driver(pairs, seed_rows)
        if not out:
            return spark.createDataFrame([], "qid string, value string")
        return spark.createDataFrame(out, "qid string, value string")

    # r6 relaxation-loop restructure (guide §2.3/§2.4/§3.1). The r5 loop
    # paid, PER ROUND: a sort-merge join of the frontier against the full
    # edge table (re-shuffling + re-sorting 1.7M edges at sf1.0 every
    # round), a second full-width join of the candidates against the
    # accumulated assignments, and a third shuffle for the union+groupBy
    # merge — all carrying the class IRI string — 27.5 s over ~21 rounds at
    # sf1.0. Now:
    #   * the (phase, hop, cls) lexicographic key is PACKED INTO ONE LONG
    #     (phase·2⁴⁰ + hop·2²⁰ + cls_id, with cls_id assigned in sorted
    #     class order so long-min == struct-min; the lowest bit carries the
    #     old/new source flag — ties are impossible anyway since candidate
    #     hop == round > every stored hop). Rows shuffled per round are
    #     (node, key) = 16 bytes, and the min-merge is a codegen long min
    #     instead of an interpreted struct comparator over strings;
    #   * the frontier side of the edge join is BROADCAST while it is
    #     provably small (row count known exactly from the previous round's
    #     checkpoint — size-gated, shuffle-join fallback above the gate),
    #     so the persisted edge table is streamed map-side, never
    #     re-shuffled;
    #   * `improved` (src bit) and the new `assigned` both read from the
    #     SAME per-round eager checkpoint — one materializing job plus one
    #     bounded count per round;
    #   * ROUND COUNT is halved by one level of path doubling (guide §2.4:
    #     remove passes outright): a 2-hop edge table (sub →¹ middle →¹ sup
    #     with a non-seed middle) relaxes alongside the 1-hop edges, so a
    #     depth-d hierarchy converges in ~d/2 rounds. Exact-min hops are
    #     preserved — every path decomposes into 1/2-hop steps and the
    #     relaxation is monotone — and the doubling is SIZE-GATED (skipped
    #     when the 2-hop table exceeds 3× the 1-hop edges, so a high-fanout
    #     DAG can never blow up the build).
    classes = sorted({cls for _, cls, _ in seed_rows})
    if len(classes) >= (1 << 20) or max_rounds >= (1 << 20):
        raise ValueError("wikidata_subclass_mappings: key packing bounds exceeded")
    cls_id = {c: i for i, c in enumerate(classes)}
    _HOP = 1 << 20

    def _pack(phase: int, hop: int, cls: str) -> int:
        return ((phase << 20 | hop) << 20 | cls_id[cls]) << 1

    seeds = spark.createDataFrame(
        [(q, _pack(phase, 0, cls)) for q, cls, phase in seed_rows],
        "node long, key long",
    )
    seed_nodes = seeds.select("node")
    seed_ids = [int(q) for q, _, _ in seed_rows]

    # 2-hop doubling table, size-gated (bounded limit probe, never a full
    # count of an exploding join)
    e1 = edges.withColumn("w", F.lit(1))
    n_edges_exact = edges.count()  # cheap: persisted + already materialized
    mid = edges.select(F.col("sub").alias("m_sub"), F.col("sup").alias("m_sup"))
    # no distinct: two length-2 paths through different middles are
    # genuinely distinct relaxation edges, duplicates are absorbed by the
    # min-merge, and the 3n cap below bounds the table either way — the
    # distinct's extra 2.8M-row shuffle bought nothing (r6)
    e2_raw = (
        edges.filter(~F.col("sup").isin(seed_ids))  # middle never a seed
        .join(mid, F.col("sup") == F.col("m_sub"))
        .select("sub", F.col("m_sup").alias("sup"))
    )
    e2_cap = 3 * n_edges_exact
    e2 = e2_raw.persist()
    use_doubling = fits(e2, e2_cap)
    if use_doubling:
        step_src = e1.unionByName(e2.withColumn("w", F.lit(2)))
        # a third doubling level (w=4 via e2∘e2) was A/B-measured and
        # REJECTED (r6): rounds dropped 11 → 7 at the 1.5M-edge validation
        # scale but the e4 build join + the 2.8×-fatter step table made the
        # op net slower (12.6 s vs 11.3 s best-of-3)
    else:
        step_src = e1

    # r6 second pass: persist the step table PARTITIONED BY the join key
    # sup, with the seed-sub filter applied once at build time (it is
    # frontier-independent, so evaluating the isin per joined row every
    # round bought nothing).  A large frontier can now relax via a
    # co-partitioned shuffled-hash join that never moves the edge side —
    # the r5 flow either broadcast up to 2M frontier rows (a driver
    # collect + hash build per round) or re-shuffled the edges.  Tiny
    # frontiers (late rounds, seeds) still broadcast: one small map-side
    # job beats scheduling a shuffle stage.
    step = (
        step_src.filter(~F.col("sub").isin(seed_ids)).repartition("sup").persist()
    )
    step.count()  # materialize, then release the builders
    if use_doubling:
        e2.unpersist()
    edges.unpersist()

    _FRONTIER_BROADCAST_MAX_ROWS = 100_000
    assigned = seeds
    frontier = seeds
    n_frontier = len(seed_rows)
    converged = False
    for _ in range(max_rounds):
        f = (
            F.broadcast(frontier)
            if 0 < n_frontier <= _FRONTIER_BROADCAST_MAX_ROWS
            else frontier.hint("SHUFFLE_HASH")
        )
        cand = (
            f.join(step, f["node"] == step["sup"])
            .select(
                step["sub"].alias("node"),
                # hop+w and the src bit in one addition (key layout:
                # bit 0 = src, bits 1-20 = cls_id, bits 21-40 = hop,
                # bits 41+ = phase → hop increment = w << 21)
                (F.col("key") + (F.col("w").cast("long") * (1 << 21)) + 1).alias("key"),
            )
        )
        # r6 second pass (guide §2.3): the union+groupBy merge re-shuffled
        # the WHOLE accumulated assignment table every round (it grows to
        # every reachable node). Pre-min the candidates on their own — the
        # only rows that moved this round — and FULL-OUTER join them against
        # the assignment table, which is already node-partitioned from the
        # previous round's checkpointed aggregate (partitioning survives the
        # row-block checkpoint), so only the candidate side exchanges.
        # least() over the two per-side minima ≡ the union's groupBy-min;
        # the SHUFFLE_HASH hint keeps the frontier-sized side the build side
        # (no per-round sort of the assignment table).
        cand_agg = cand.groupBy("node").agg(F.min("key").alias("c_key"))
        merged = (
            assigned.join(cand_agg.hint("SHUFFLE_HASH"), "node", "full_outer")
            .select("node", F.least("key", "c_key").alias("key"))
        )
        # ONE eager checkpoint per round feeds both views of the merge
        merged = truncate_lineage(merged, eager=True, checkpoint_dir=checkpoint_dir)
        improved = merged.filter(F.col("key").bitwiseAND(1) == 1)
        n_frontier = improved.count()
        if n_frontier == 0:
            converged = True
            break
        # clear the src bit so surviving rows count as "old" next round
        assigned = merged.select(
            "node", (F.col("key") - F.col("key").bitwiseAND(1)).alias("key")
        )
        frontier = improved.select("node", (F.col("key") - F.lit(1)).alias("key"))
    if not converged:
        import warnings

        warnings.warn(
            f"wikidata_subclass_mappings: propagation still improving after "
            f"{max_rounds} rounds — labels beyond that depth are missing; "
            f"raise max_rounds (no silent-truncation guarantee otherwise)"
        )
    step.unpersist()
    cls_arr = F.array(*[F.lit(c) for c in classes])
    decoded_cls = F.element_at(
        cls_arr, (F.shiftright(F.col("key"), 1).bitwiseAND(_HOP - 1) + 1).cast("int")
    )
    out = (
        assigned.join(seed_nodes, "node", "left_anti")
        .select(F.col("node"), decoded_cls.alias("cls"))
        .filter(F.col("cls") != OWL_THING)
        .select(
            F.concat(F.lit("Q"), F.col("node")).alias("qid"),
            F.col("cls").alias("value"),
        )
    )
    return out


def _subclass_in_driver(
    pairs: list[tuple[int, int]], seed_rows: list[tuple[int, str, int]]
) -> list[tuple[str, str]]:
    """Exact driver-side propagation: Dijkstra over the (phase, hop, class)
    key — along any seed-free path the key only grows (same phase, hop+1),
    so the first pop per node is its minimum, identical to the distributed
    relaxation's fixpoint."""
    import heapq

    children: dict[int, list[int]] = {}
    for sub, sup in pairs:
        children.setdefault(sup, []).append(sub)
    seed_set = {q for q, _, _ in seed_rows}
    best: dict[int, tuple[int, int, str]] = {}
    heap = [(phase, 0, cls, q) for q, cls, phase in seed_rows]
    heapq.heapify(heap)
    while heap:
        phase, hop, cls, node = heapq.heappop(heap)
        if node in best or (hop > 0 and node in seed_set):
            continue
        best[node] = (phase, hop, cls)
        for child in children.get(node, ()):
            if child not in best and child not in seed_set:
                heapq.heappush(heap, (phase, hop + 1, cls, child))
    return sorted(
        (f"Q{n}", cls)
        for n, (_, _, cls) in best.items()
        if n not in seed_set and cls != OWL_THING
    )


def wikidata_subclass_config(mappings: DataFrame) -> str:
    """The reference writes the suggestions as a JSON config object
    (writeConfig, WikidataSubClassOf.scala:208-219): {"Qnnn": "Class", ...}.
    Driver-side by design — the output is a config file, not data."""
    import json

    return json.dumps(
        {r["qid"]: r["value"] for r in mappings.collect()}, sort_keys=True
    )


_FULL_R2R_CACHE: list = []


def full_r2r_rules() -> list[dict]:
    """The COMPLETE R2R table (2,277 rules / 352 Q→class pairs) from
    fixtures/wikidata_r2r_full.json — the reference's entire runtime config
    (core/src/main/resources/wikidatar2r.json + ontology equivalentClass
    pairs), harvested by tools/harvest_wikidata_r2r.py. The curated table
    (default_r2r_rules) stays the default for the synthetic-corpus oracles;
    this is the production configuration. The rule table compiles into the
    SAME one-branch-per-kind plan — 2,179 uri_template rules become one
    literal map expression, not 2,179 plan branches."""
    if not _FULL_R2R_CACHE:
        from pathlib import Path

        _FULL_R2R_CACHE.append(load_r2r_rules(
            str(Path(__file__).parent / "fixtures" / "wikidata_r2r_full.json")
        ))
    return _FULL_R2R_CACHE[0]
