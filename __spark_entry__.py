"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction pipeline on a corpus derived
from /root/testdata/sf0.001 and returns the full quad DataFrame.

`queries()` exposes each implemented operator (SURVEY.md §2) over the
testdata tables; `oracle_sql()` gives the DuckDB twin. The kg_* queries run
the REAL wikitext parse → extract engine on a corpus deterministically
derived from documents.parquet (kgforge/driver_corpus.py), with oracles that
reconstruct the planted facts in pure SQL — so the parse/extract path itself
is oracle-checked, not just the relational tail.

The KG those queries read (``_engine_quads``) is ``kgforge.pipeline.Pipeline``
run in memory — the same stage graph ``jobs/extract.py`` ships — as its
``graph`` plus its ``per_page`` stage (``nif_*``, ``long_abstracts``,
``cited_facts``, ``french_population``). The parse stage and the run's
template-redirect map are cached under ``<sf_dir>::parsed`` and
``<sf_dir>::tred``. The ``kg_wikidata_*`` queries read ``_wd_quads``:
``wikidata_all_quads``, the graph ``Pipeline.run(wikidata_corpus=)`` builds,
over one mixed entity corpus.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

import kgforge.vocab as V
from kgforge.driver_corpus import (
    SQL_FILE_CLASS,
    SQL_FILE_ENC,
    SQL_FILE_EXT,
    SQL_FILE_MIME,
    SQL_FILE_SUBJ,
    SQL_IS_REDIRECT,
    SQL_WD_BIRTH,
    SQL_WD_BIRTH_D,
    SQL_WD_BIRTH_M,
    SQL_WD_BIRTH_Y,
    SQL_WD_CLASS,
    SQL_WD_FOUND_Y,
    SQL_WD_LAT,
    SQL_WD_LNG,
    SQL_WD_POP,
    SQL_WD_POP_OLD,
    SQL_WD_QUAL_Y,
    SQL_WD_SUBJ,
    SQL_LANG,
    SQL_N,
    SQL_PROP_BASE,
    SQL_PUB_D,
    SQL_PUB_DATE,
    SQL_PUB_M,
    SQL_PUB_Y,
    SQL_RES_BASE,
    SQL_SUBJ,
    corpus_from_documents,
)
from kgforge.driver_corpus import (
    SQL_IBM_CHECK_P,
    SQL_IBM_INVOKE_P,
    SQL_IBM_MASS_P,
    SQL_IBM_SUBJ,
    SQL_IBM_WEBSITE_P,
    SQL_LEX_CAT,
    SQL_LEX_ID,
    SQL_LEX_IRI,
    SQL_WDP_DATE,
    SQL_WDP_QTY,
    SQL_WDP_SEE,
    SQL_WDP_SUBJ,
    file_corpus_from_parts,
    media_corpus_from_suppliers,
    person_corpus_from_nations,
    wikidata_corpus_from_customers,
    wikidata_lexeme_corpus_from_nations,
    wikidata_property_corpus_from_suppliers,
)
from kgforge.parse import prepare
from kgforge.pipeline import Pipeline
from kgforge.redirects import transitive_closure
from kgforge.sources import read_table

# ---------------------------------------------------------------------------
# engine-side helpers
# ---------------------------------------------------------------------------

_QUADS_CACHE: dict[str, DataFrame | dict[str, str]] = {}


def _engine_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KG of the derived corpus, built once per sf_dir: ``Pipeline.run``
    in memory (the parse-once sharing of the CompositeParseExtractor analog
    across driver queries), its ``graph`` and ``per_page`` stages. The parse
    stage and the template-redirect map are kept under ``<sf_dir>::parsed``
    and ``<sf_dir>::tred`` for the queries that read them."""
    if sf_dir not in _QUADS_CACHE:
        p = Pipeline(spark)
        graph = p.run(corpus_from_documents(spark, sf_dir))
        _QUADS_CACHE[sf_dir + "::parsed"] = p.parsed
        _QUADS_CACHE[sf_dir + "::tred"] = p.tred
        # localCheckpoint: every kg_* driver query derives from this table,
        # so its plan must be a leaf, not the whole engine DAG
        _QUADS_CACHE[sf_dir] = graph.unionByName(p.per_page).localCheckpoint()
    return _QUADS_CACHE[sf_dir]


def _ds(spark: SparkSession, sf_dir: str, dataset: str) -> DataFrame:
    return _engine_quads(spark, sf_dir).filter(F.col("dataset") == dataset)


def _wd_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Wikidata graph of the entity corpora derived from sf_dir, built
    once per sf_dir: the customer items, supplier properties and nation
    lexemes as ONE mixed corpus, the wikidata-dump page population, through
    ``wikidata_all_quads`` (the graph ``Pipeline.run(wikidata_corpus=)``
    builds too)."""
    from kgforge.wikidata import wikidata_all_quads

    key = sf_dir + "::wikidata"
    if key not in _QUADS_CACHE:
        corpus = (
            wikidata_corpus_from_customers(spark, sf_dir)
            .unionByName(wikidata_property_corpus_from_suppliers(spark, sf_dir))
            .unionByName(wikidata_lexeme_corpus_from_nations(spark, sf_dir))
        )
        _QUADS_CACHE[key] = wikidata_all_quads(corpus).localCheckpoint()
    return _QUADS_CACHE[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # testdata parquet is single-row-group (unsplittable scan) — fan out
    return read_table(spark, sf_dir, name)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction run at sf0.001."""
    return _engine_quads(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# kg_* queries: the parse→extract engine vs SQL-reconstructed planted facts
# ---------------------------------------------------------------------------


def _kg_labels(spark, sf_dir):
    return _ds(spark, sf_dir, V.LABELS).select("subject", "value", "language")


def _kg_page_links(spark, sf_dir):
    return _ds(spark, sf_dir, V.PAGE_LINKS).select("subject", "value")


def _kg_anchor_text(spark, sf_dir):
    return _ds(spark, sf_dir, V.ANCHOR_TEXT).select("subject", "value")


def _kg_out_degree(spark, sf_dir):
    return _ds(spark, sf_dir, V.OUT_DEGREE).select("subject", "value")


def _kg_redirects(spark, sf_dir):
    return _ds(spark, sf_dir, V.REDIRECTS).select("subject", "value")


def _kg_transitive_redirects(spark, sf_dir):
    return _ds(spark, sf_dir, V.TRANSITIVE_REDIRECTS).select("subject", "value")


def _kg_infobox_properties(spark, sf_dir):
    return _ds(spark, sf_dir, V.INFOBOX_PROPERTIES).select("subject", "predicate", "value", "datatype")


def _kg_homepages(spark, sf_dir):
    return _ds(spark, sf_dir, V.HOMEPAGES).select("subject", "value")


def _kg_article_templates(spark, sf_dir):
    return _ds(spark, sf_dir, V.ARTICLE_TEMPLATES).select("subject", "value")


def _kg_article_templates_nested(spark, sf_dir):
    return _ds(spark, sf_dir, V.ARTICLE_TEMPLATES_NESTED).select("subject", "value")


def _kg_article_categories(spark, sf_dir):
    return _ds(spark, sf_dir, V.ARTICLE_CATEGORIES).select("subject", "value")


def _kg_abstracts(spark, sf_dir):
    return _ds(spark, sf_dir, V.ABSTRACTS).select("subject", "value")


def _kg_page_length(spark, sf_dir):
    return _ds(spark, sf_dir, V.PAGE_LENGTH).select("subject", "value")


def _kg_wikipedia_links(spark, sf_dir):
    return _ds(spark, sf_dir, V.WIKIPEDIA_LINKS).select("subject", "predicate", "value")


def _kg_instance_types(spark, sf_dir):
    return _ds(spark, sf_dir, V.INSTANCE_TYPES).select("subject", "value")


def _kg_instance_types_transitive(spark, sf_dir):
    return _ds(spark, sf_dir, V.INSTANCE_TYPES_TRANSITIVE).select("subject", "value")


def _kg_mappingbased_literals(spark, sf_dir):
    return _ds(spark, sf_dir, V.MAPPINGBASED_LITERALS).select("subject", "predicate", "value", "datatype")


def _kg_entity_links(spark, sf_dir):
    return _ds(spark, sf_dir, V.ENTITY_LINKS).select("subject", "value")


def _kg_template_dates(spark, sf_dir):
    """Template-date parsing ({{Start date|Y|M|D}} planted in every article's
    infobox — DateTimeParser catchTemplate path)."""
    return (
        _ds(spark, sf_dir, V.INFOBOX_PROPERTIES)
        .filter(F.col("predicate").endswith("/published"))
        .select("subject", "value", "datatype")
    )


def _kg_infobox_references(spark, sf_dir):
    """InfoboxReferencesExtractor: <ref> on the source property line."""
    return _ds(spark, sf_dir, V.INFOBOX_REFERENCES).select("subject", "predicate", "value")


def _kg_images(spark, sf_dir):
    """ImageExtractor (link-based core) over the planted File: link."""
    return _ds(spark, sf_dir, V.IMAGES).select("subject", "predicate", "value")


def _kg_cited_facts(spark, sf_dir):
    """CitedFactsExtractor (mappings/CitedFactsExtractor.scala:33-97):
    infobox facts whose source line carries a {{cite}} ref -> the fact with
    the citation IRI as context."""
    return _ds(spark, sf_dir, "cited_facts").select(
        "subject", "predicate", "value", "context"
    )


def _kg_revision_meta(spark, sf_dir):
    """MetaInformation + Contributor extractors (revision_meta dataset)."""
    return _ds(spark, sf_dir, V.REVISION_META).select(
        "subject", "predicate", "value", "datatype", "language"
    )


def _kg_type_statistics(spark, sf_dir):
    """TypeStatistics / CountTypes post-processing script."""
    from kgforge.mapping_engine import type_statistics

    return type_statistics(_engine_quads(spark, sf_dir))


def _kg_graph_all(spark, sf_dir):
    """Full graph (all datasets) — rows-only check (not SQL-expressible)."""
    return _engine_quads(spark, sf_dir)


def _kg_long_abstracts(spark, sf_dir):
    """Long-abstract dataset: full deterministic plain_text per article
    (short stays the first paragraph — kg_abstracts)."""
    return _ds(spark, sf_dir, V.LONG_ABSTRACTS).select("subject", "value")


def _kg_nif_context(spark, sf_dir):
    """NIF context nodes: begin/end offsets + isString over the engine's
    deterministic plain_text rendering (NifExtractor.scala:107 substitute)."""
    return _ds(spark, sf_dir, "nif_context").select(
        "subject", "predicate", "value", "datatype", "language"
    )


def _kg_nif_text_links(spark, sf_dir):
    """NIF text links: per-link nif:Phrase with character offsets located in
    plain_text + itsrdf:taIdentRef (nif/LinkExtractor.scala)."""
    return _ds(spark, sf_dir, "nif_text_links").select(
        "subject", "predicate", "value", "datatype", "language"
    )


def _kg_file_types(spark, sf_dir):
    """FileTypeExtractor over the part-derived File-ns corpus: extension →
    mime + ontology class + commons fileURL (FileTypeExtractor.scala:40-226)."""
    from kgforge.extractors import run_extractors
    from kgforge.parse import prepare

    key = sf_dir + "::file_types"
    if key not in _QUADS_CACHE:
        _QUADS_CACHE[key] = run_extractors(
            prepare(file_corpus_from_parts(spark, sf_dir)), ["file_types"]
        ).persist()
        _QUADS_CACHE[key].count()
    return _QUADS_CACHE[key].select("subject", "predicate", "value", "datatype")


def _kg_media(spark, sf_dir):
    """MediaExtractor (bare media names in template params → typed media
    quads + dbo:mediaItem) + CommonsResourceExtractor ({{Commons}} →
    owl:sameAs) over the supplier-derived corpus."""
    from kgforge.media import (
        commons_resource_quads,
        dbpedia_resource_quads,
        media_quads,
    )
    from kgforge.parse import prepare

    key = sf_dir + "::media"
    if key not in _QUADS_CACHE:
        parsed = prepare(media_corpus_from_suppliers(spark, sf_dir))
        _QUADS_CACHE[key] = media_quads(parsed).unionByName(
            commons_resource_quads(parsed)
        ).unionByName(dbpedia_resource_quads(parsed)).coalesce(
            spark.sparkContext.defaultParallelism
        ).persist()
        _QUADS_CACHE[key].count()
    return _QUADS_CACHE[key].select("dataset", "subject", "predicate", "value", "datatype")


def _kg_image_meta(spark, sf_dir):
    """ImageExtractorNew full variant (mappings/ImageExtractorNew.scala:
    54-128): bare infobox image names + File links → depiction/thumbnail/
    type/rights quads, first-FREE-image dbo:thumbnail, non-free File pages
    excluded via the license-template harvest, special-image classification
    (flag/map) — over the part-derived image corpus."""
    from kgforge.driver_corpus import image_corpus_from_parts
    from kgforge.media import image_meta_quads
    from kgforge.parse import prepare

    key = sf_dir + "::imagemeta"
    if key not in _QUADS_CACHE:
        parsed = prepare(image_corpus_from_parts(spark, sf_dir))
        _QUADS_CACHE[key] = image_meta_quads(parsed).coalesce(
            spark.sparkContext.defaultParallelism
        ).persist()
        _QUADS_CACHE[key].count()
    return _QUADS_CACHE[key].select("subject", "predicate", "value")


_PERSON_DATASETS = (
    "persondata", "pnd", "genders", "geo_coordinates", "citation_links",
    "citation_data", "interlanguage_links", "instance_types",
    "instance_types_transitive", "mappingbased_literals", "infobox_properties",
    "external_links", "template_parameters", "category_labels",
    "skos_categories", "topical_concepts", "disambiguations",
)


def _kg_person_page(spark, sf_dir):
    """Previously golden-only extractors, oracle-checked over the
    nation-derived person corpus: Persondata, Pnd, Gender (pronoun argmax),
    Geo (root {{coord}}), Citation, InterLanguageLinks + the Infobox person
    mapping (typing + foaf:name)."""
    from kgforge.extractors.fused import explode_quads, page_quads

    key = sf_dir + "::person"
    if key not in _QUADS_CACHE:
        parsed = prepare(person_corpus_from_nations(spark, sf_dir)).persist()
        parsed.count()
        _QUADS_CACHE[key] = (
            explode_quads(page_quads(parsed))
            .coalesce(spark.sparkContext.defaultParallelism)
            .dropDuplicates(["dataset", "subject", "predicate", "value", "datatype", "language"])
            .persist()
        )
        _QUADS_CACHE[key].count()
        parsed.unpersist()
    return _QUADS_CACHE[key].filter(F.col("dataset").isin(*_PERSON_DATASETS)).select(
        "dataset", "subject", "predicate", "value", "datatype"
    )


def _kg_wikidata_terms(spark, sf_dir):
    """Wikidata label/description/alias/sitelink-sameAs extractors over the
    customer-derived entity-JSON corpus (polymorphic claims parsed in the
    same pass must not disturb these)."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset").isin(
            "wikidata_labels", "wikidata_descriptions",
            "wikidata_aliases", "wikidata_same_as",
        )
    ).select("dataset", "language", "subject", "predicate", "value", "datatype")


def _kg_wikidata_claims(spark, sf_dir):
    """WikidataRawExtractor: every mainsnak family (entityid, string, time
    precision 9/11, quantity, monolingualtext, globecoordinate) as typed
    quads; somevalue snaks dropped + counted."""
    return _wd_quads(spark, sf_dir).filter(F.col("dataset") == "wikidata_raw").select(
        "subject", "predicate", "value", "datatype", "language"
    )


def _kg_mapping_stats(spark, sf_dir):
    """Mappings-wiki template statistics (the reference server's
    TemplateStatistics/PropertyStatistics pages, stats/MappingStats.scala):
    per root template — pages using it, observed vs mapped properties,
    per-occurrence use counts and the mapped ratios editors prioritize by."""
    from kgforge.mapping_stats import template_statistics

    key = sf_dir + "::mapping_stats"
    if key not in _QUADS_CACHE:
        _engine_quads(spark, sf_dir)  # ensures the parsed cache exists
        parsed = _QUADS_CACHE[sf_dir + "::parsed"]
        _QUADS_CACHE[key] = template_statistics(parsed).persist()
        _QUADS_CACHE[key].count()
    return _QUADS_CACHE[key]


def _kg_mapping_coverage(spark, sf_dir):
    """The TemplateStatistics page header — the whole language rolled to
    one row ('% of all template/property occurrences are mapped',
    resources/TemplateStatistics.scala:35-81)."""
    from kgforge.mapping_stats import language_statistics

    return language_statistics(_kg_mapping_stats(spark, sf_dir))


def _kg_hybrid_infobox(spark, sf_dir):
    """HybridRawAndMappingExtractor: the raw infobox harvest split into
    mapped (name/chars/published fired Infobox-document rules) vs unmapped
    (source/homepage/motto/alias) facts."""
    from kgforge.mapping_engine import hybrid_infobox_quads

    key = sf_dir + "::hybrid"
    if key not in _QUADS_CACHE:
        _engine_quads(spark, sf_dir)  # ensures the parsed cache exists
        parsed = _QUADS_CACHE[sf_dir + "::parsed"]
        tred = _QUADS_CACHE[sf_dir + "::tred"]
        _QUADS_CACHE[key] = hybrid_infobox_quads(parsed, template_redirects=tred).persist()
        _QUADS_CACHE[key].count()
    return _QUADS_CACHE[key].select("dataset", "subject", "predicate", "value", "datatype")


def _kg_nif_sections(spark, sf_dir):
    """NIF page structure: section nodes with referenceContext, hasSection
    and the r4 parse-time CONTENT spans (beginIndex/endIndex over
    plain_text — headings are not rendered, so the span covers the section
    body; nif/WikipediaNifExtractor section analog)."""
    return _ds(spark, sf_dir, "nif_page_structure").select(
        "subject", "predicate", "value", "datatype"
    )


def _kg_wikidata_reified(spark, sf_dir):
    """WikidataRawExtractor reification + qualifier snaks: statement node
    per value mainsnak (Q-id for entity values, V+md5(raw)[:5] otherwise)
    with rdf:subject/predicate/object, and the planted P585 point-in-time
    qualifier riding the normal-rank P1082 statement."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset").isin("wikidata_raw_reified", "wikidata_raw_reified_qualifiers")
    ).select("dataset", "subject", "predicate", "value", "datatype")


def _kg_wikidata_r2r(spark, sf_dir):
    """WikidataR2RExtractor: rule-driven P-property → ontology term mapping
    (rdf:type via Q→class map, typed literals, IRIs, commons files, geo)."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset").startswith("wikidata_")
        & ~F.col("dataset").isin(
            "wikidata_labels", "wikidata_descriptions", "wikidata_aliases",
            "wikidata_same_as", "wikidata_raw",
            "wikidata_raw_reified", "wikidata_raw_reified_qualifiers",
            "wikidata_property", "wikidata_reference",
            "wikidata_namespace_same_as", "wikidata_lexeme",
        )
    ).select("dataset", "subject", "predicate", "value", "datatype", "language")


def _kg_wikidata_snak_stats(spark, sf_dir):
    """Dropped-snak accounting (no silent caps): counts per snak family with
    a handled flag — somevalue snaks show up as handled=false."""
    from kgforge.wikidata import wikidata_snak_stats

    return wikidata_snak_stats(wikidata_corpus_from_customers(spark, sf_dir))


def _kg_wikidata_properties(spark, sf_dir):
    """WikidataPropertyExtractor: Property-page terms (rdfs:label/
    dbo:description/dbo:alias langStrings) + value-mainsnak statements with
    canonical wd-entity predicates, over the supplier-derived P-pages."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset") == "wikidata_property"
    ).select("language", "subject", "predicate", "value", "datatype")


def _kg_wikidata_references(spark, sf_dir):
    """WikidataReferenceExtractor: per-statement source references on item
    AND property pages → <stmt-uri> dbo:reference <value>."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset") == "wikidata_reference"
    ).select("subject", "value", "datatype")


def _kg_wikidata_ns_sameas(spark, sf_dir):
    """WikidataNameSpaceSameAsExtractor: item pages link their DBpedia-
    wikidata IRI to the canonical www.wikidata.org entity IRI."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset") == "wikidata_namespace_same_as"
    ).select("subject", "value")


def _kg_wikidata_lexemes(spark, sf_dir):
    """WikidataLexemeExtractor: lexeme/form/sense skeleton, lemma/
    representation/gloss nif:String nodes, mapped lexical-category/language
    IRIs, commons-file rewrites, statements — over the nation-derived
    L-pages."""
    return _wd_quads(spark, sf_dir).filter(
        F.col("dataset") == "wikidata_lexeme"
    ).select("subject", "predicate", "value", "datatype")


_SITE_LINK_LANGS = ["en", "de", "fr", "es", "it"]


def _site_links_table(spark, sf_dir):
    """wb_items_per_site stand-in derived from customers: item_id =
    c_custkey, a deterministic sparse subset of five language wikis per
    item ((item_id + site position) % 3 gate), titles built from c_name
    so wiki-encoding (ucfirst, space→underscore, '#'→%23) is exercised."""
    c = _t(spark, sf_dir, "customer")
    sites = F.array(*[F.lit(l.replace("-", "_") + "wiki") for l in _SITE_LINK_LANGS])
    return (
        c.select(
            F.col("c_custkey").alias("item_id"),
            F.col("c_name"),
            F.posexplode(sites).alias("pos", "site"),
        )
        .filter((F.col("item_id") + F.col("pos")) % 3 != 0)
        .select(
            "item_id", "site",
            F.concat(F.lit("customer "), F.col("c_name")).alias("title"),
        )
    )


def _kg_wikidata_site_links(spark, sf_dir):
    """ProcessWikidataLinks (wb_items_per_site TSV → per-language
    interlanguage owl:sameAs datasets) over the customer-derived site-link
    table — see kgforge.wikidata.wikidata_site_links_quads for the scale
    shape (one item-keyed shuffle, array-side pair expansion bounded by
    the language count)."""
    from kgforge.wikidata import wikidata_site_links_quads

    return wikidata_site_links_quads(
        _site_links_table(spark, sf_dir), _SITE_LINK_LANGS
    )


def _kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the extracted wikiPageWikiLink graph —
    iterative graph analytics on the engine's own output (the in-link
    authority signal the out-degree extractor's counterpart).  5 power
    iterations, dangling mass not redistributed; the DuckDB twin replays
    the identical iterations as chained CTE passes."""
    from kgforge.components import pagerank

    edges = _ds(spark, sf_dir, V.PAGE_LINKS).select(
        F.col("subject").alias("src"), F.col("value").alias("dst")
    )
    pr = pagerank(edges, iterations=5)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _kg_sd_types(spark, sf_dir):
    """SD-Type heuristic type inference (SdTypeCreation.scala:36-565,
    Paulheim ISWC 2013) over a triple graph derived from customer / orders /
    supplier / nation: typed Person (customers off the %5 holdout),
    Organisation (suppliers) and Settlement (nations) resources share
    predicates with the untyped holdout customers, whose types the job
    infers from in/out predicate statistics.  The DuckDB twin recomputes
    every corpus-dependent statistic independently; the ontology-walk
    penalty constants (pure config) are embedded as VALUES."""
    from kgforge.ontology import DBO, default_ontology
    from kgforge.sdtypes import sd_type_scores

    rb = "http://dbpedia.org/resource/"
    leader, country = DBO + "leader", DBO + "country"
    name = "http://xmlns.com/foaf/0.1/name"
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    c_res = F.concat(F.lit(rb + "Customer_"), F.col("c_custkey"))
    s_res = F.concat(F.lit(rb + "Supplier_"), F.col("s_suppkey"))
    objects = (
        cust.select(
            F.concat(F.lit(rb + "Nation_"), F.col("c_nationkey")).alias("subject"),
            F.lit(leader).alias("predicate"),
            c_res.alias("object"),
        )
        .unionByName(
            orders.select(
                F.concat(F.lit(rb + "Customer_"), F.col("o_custkey")).alias("subject"),
                F.lit(country).alias("predicate"),
                F.concat(F.lit(rb + "Nation_"), F.col("o_orderkey") % 25).alias("object"),
            )
        )
        .unionByName(
            supp.select(
                s_res.alias("subject"),
                F.lit(country).alias("predicate"),
                F.concat(F.lit(rb + "Nation_"), F.col("s_nationkey")).alias("object"),
            )
        )
    )
    literals = cust.select(c_res.alias("subject"), F.lit(name).alias("predicate"))
    types = (
        cust.filter(F.col("c_custkey") % 5 != 0)
        .select(c_res.alias("subject"), F.lit(DBO + "Person").alias("value"))
        .unionByName(
            supp.select(s_res.alias("subject"), F.lit(DBO + "Organisation").alias("value"))
        )
        .unionByName(
            nation.select(
                F.concat(F.lit(rb + "Nation_"), F.col("n_nationkey")).alias("subject"),
                F.lit(DBO + "Settlement").alias("value"),
            )
        )
    )
    df = sd_type_scores(
        types,
        objects,
        literals,
        ontology=default_ontology(),
        threshold=0.01,
        owl_thing_penalty=0.4,
    )
    return df.select("subject", "value", F.round("score", 6).alias("score"), "based_on")


def _kg_wikidata_subclass(spark, sf_dir):
    """WikidataSubClassOf (scripts/.../WikidataSubClassOf.scala:34-232):
    propagate DBpedia classes down a P279 hierarchy derived from orders
    (dense ids q = o_orderkey + 1 — the corpus generator emits dense
    orderkeys 0..N-1, so the id is a map-side expression with NO global sort;
    a row_number() over an unpartitioned window here would funnel the whole
    orders table through one task at sf10+.  q → q div 2 tree edges + q div 3
    cross edges on q%7==0).  Seeds: Q1 → owl:Thing (the Q35120 root analog),
    top-level Agent/Place, deep Person — exercising all three phases.  The
    oracle twin recomputes the min-(phase, hop, class) propagation with a
    recursive CTE (the edge set is acyclic by construction: both parents are
    < q)."""
    from kgforge.wikidata import wikidata_subclass_mappings

    o = _t(spark, sf_dir, "orders")
    d = o.select((F.col("o_orderkey") + 1).cast("int").alias("q"))
    base = "http://wikidata.dbpedia.org/resource/Q"
    p279 = "http://www.wikidata.org/entity/P279"

    # r6: the r4 version built the tree and cross edge sets as a UNION of
    # two branches, each with its own full scan + round-robin fan-out of
    # orders (the differing pushed filters defeat exchange reuse — guide
    # §2.4). Same quad multiset from ONE scan: emit both parent IRIs as a
    # conditional array and explode (tree edge for q > 1, cross edge for
    # q % 7 == 0).
    sups = F.array_compact(
        F.array(
            F.when(F.col("q") > 1, F.expr("q div 2")),
            F.when(F.col("q") % 7 == 0, F.expr("q div 3")),
        )
    )
    quads = d.select(F.col("q"), F.explode(sups).alias("sup")).select(
        F.concat(F.lit(base), F.col("q")).alias("subject"),
        F.lit(p279).alias("predicate"),
        F.concat(F.lit(base), F.col("sup")).alias("value"),
    )
    thing = "http://www.w3.org/2002/07/owl#Thing"
    dbo = "http://dbpedia.org/ontology/"
    return wikidata_subclass_mappings(
        quads,
        seed_map={1: thing, 2: dbo + "Agent", 5: dbo + "Place", 11: dbo + "Person"},
        top_level_classes={dbo + "Agent", dbo + "Place"},
    )


def _ibm_parsed(spark, sf_dir):
    """Mapping-suggestion corpus (part-derived Template pages), parsed once
    per sf_dir — shared by the two InfoboxMappings queries."""
    from kgforge.driver_corpus import mapping_corpus_from_parts

    key = sf_dir + "::ibm"
    if key not in _QUADS_CACHE:
        # row-block checkpoint over columnar persist — same measured trade
        # as the engine parse cache (r6)
        _QUADS_CACHE[key] = prepare(
            mapping_corpus_from_parts(spark, sf_dir)
        ).localCheckpoint()
    return _QUADS_CACHE[key]


def _kg_infobox_mapping_tuples(spark, sf_dir):
    """InfoboxMappings suggestion tuples (extractTuples + conditional-term
    mining, InfoboxMappingsExtractor.scala:70-83,
    InfoboxMappingsTemplateExtractor.scala:80-135) over the part-derived
    template corpus."""
    from kgforge.infobox_mappings import mapping_suggestion_tuples

    return mapping_suggestion_tuples(_ibm_parsed(spark, sf_dir)).select(
        "subject",
        "template",
        F.col("key").alias("param"),
        "prop",
        "kind",
    )


def _kg_infobox_mappings(spark, sf_dir):
    """template_mappings / template_mappings_hints quads (the extract()
    surface of both InfoboxMappings extractors)."""
    from kgforge.infobox_mappings import infobox_mappings_quads

    return infobox_mappings_quads(_ibm_parsed(spark, sf_dir)).select(
        "dataset", "subject", "value", "context"
    )


# ---------------------------------------------------------------------------
# relational operators (the shapes the pipeline relies on) over TPC-H tables
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q2_revenue_by_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def _q3_region_stats(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"))
    )


def _q4_top_order_per_customer(spark, sf_dir):
    # r6 (guide §2.4 window note): head-of-sort selection as ONE hash
    # aggregation with map-side partials instead of a row_number window
    # (which shuffled AND sorted every order row). min over struct
    # (-price, orderkey) ≡ (price desc, orderkey asc); totalprice > 0 so
    # the negation is order-exact.
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min(
                F.struct(
                    (-F.col("o_totalprice")).alias("np"),
                    F.col("o_orderkey").alias("o_orderkey"),
                )
            ).alias("w")
        )
        .select("o_custkey", F.col("w.o_orderkey").alias("o_orderkey"))
    )


def _q5_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def _q6_distinct_flags(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def _q7_part_closure(spark, sf_dir):
    """Transitive closure by pointer doubling (redirect-resolution operator)
    over a halving hierarchy: even partkey → partkey/2, terminal = odd."""
    p = _t(spark, sf_dir, "part")
    edges = (
        p.filter((F.col("p_partkey") % 2 == 0) & (F.col("p_partkey") >= 2))
        .select(
            F.col("p_partkey").cast("string").alias("src"),
            (F.col("p_partkey") / 2).cast("long").cast("string").alias("dst"),
        )
    )
    closed = transitive_closure(edges)
    return closed.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))


def _q9_salted_flag_stats(spark, sf_dir):
    """Salted two-phase aggregation over a heavy-hitter key (l_returnflag
    has 3 values across 600k rows at sf0.1 — one reduce key per third of
    the table; salting spreads each across 16 partial tasks)."""
    from kgforge.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={"n_rows": ("*", "count"), "sum_qty": ("l_quantity", "sum"), "max_price": ("l_extendedprice", "max")},
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("max_price", 2).alias("max_price"),
    )


def _q8_event_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").cast("string").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators over documents / embeddings
# ---------------------------------------------------------------------------


def _q10_sessionize(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user (lag window + running
    sum — the stateful-streaming shape, batch form)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800, 1
    ).otherwise(0)
    sess = (
        e.withColumn("new_sess", F.coalesce(gap, F.lit(0)))
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _q11_rollup(spark, sf_dir):
    """ROLLUP aggregation (region → nation hierarchy with subtotals)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


def _q12_asof_join(spark, sf_dir):
    """Backward as-of join — a custom operator Spark lacks natively:
    attribute each 'purchase' event to the same user's most recent
    'signup' event at-or-before it.  Implemented as the canonical union +
    partitioned-sort window (last non-null marker row, ignorenulls) — ONE
    shuffle on user_id, no range cross-join, AQE-splittable — against
    DuckDB's native ASOF LEFT JOIN as the oracle twin.  Signups deduped to
    one row per (user, ts) with the max event_id so at-or-before ties are
    deterministic in both engines."""
    # NULL user_id rows are excluded on both sides: a window partitionBy
    # would group NULLs together while the oracle's ASOF equi-join never
    # matches NULL — the filter pins one contract for both engines
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sign = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    u = purch.select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("long").alias("signup_event_id"),
        F.lit(1).alias("kind"),
    ).unionByName(
        sign.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id", "ts", "signup_event_id",
            F.lit(0).alias("kind"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")  # kind 0 first: signup at ts == purchase ts matches
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_sign = F.last(
        F.when(F.col("kind") == 0, F.struct("ts", "signup_event_id")),
        ignorenulls=True,
    ).over(w)
    return (
        u.withColumn("s", last_sign)
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts"),
            F.col("s.ts").cast("string").alias("signup_ts"),
            F.col("s.signup_event_id").alias("signup_event_id"),
        )
    )


def _q13_range_join(spark, sf_dir):
    """Keyed range join: for each 'error' event, how many 'purchase'
    events the same user made in the preceding hour.  Equi-join on
    user_id bounds the candidates (no cross product; AQE splits heavy
    users), the range predicate filters inside the join — the shape a
    time-window attribution query takes at scale."""
    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") < F.col("ts"))
    )
    return (
        err.join(pur, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(F.count("p_ts").alias("n_recent_purchases"))
    )


def _q14_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (the quantile shape; at
    100 TB the same query swaps `percentile` for the approx_percentile
    t-digest sketch — here the exact form is used so the DuckDB
    quantile_cont twin can hash-match)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


def _dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("doc_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))))
    return d.select("doc_id", fp.alias("fingerprint"))


def _token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    n_tokens = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct.cast("double") / n_tokens, 4).alias("ttr"),
    )


def _lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    def cnt(w):
        return F.size(F.filter(words, lambda x: x == w))

    the_c, der_c, le_c = cnt("the"), cnt("der"), cnt("le")
    pred = (
        F.when((the_c >= der_c) & (the_c >= le_c), "en")
        .when(der_c >= le_c, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id", the_c.alias("the_c"), der_c.alias("der_c"), le_c.alias("le_c"), pred.alias("pred_lang")
    )


def _quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    n_tokens = F.size(words)
    ttr = F.size(F.array_distinct(words)).cast("double") / n_tokens
    keep = (F.col("n_chars") >= 150) & (ttr >= 0.3)
    return d.select("doc_id", n_tokens.alias("n_tokens"), keep.alias("keep"))


def _tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (beyond-reference training-data op:
    corpus vocabulary statistics + a compact doc representation, the shape
    every dedup/clustering/search pipeline needs).

    Scale shape: TF = groupBy(doc, word) count and DF = groupBy(word)
    distinct-doc count are both map-side-combinable aggregations over one
    explode; the TF⋈DF join is key-partitioned on word (stopword skew is
    bounded by AQE — the join OUTPUT stays one row per tf row); top-3 is a
    window partitioned by doc_id, no global sort."""
    d = _t(spark, sf_dir, "documents")
    n_docs = F.lit(d.count()).cast("double")
    tf = (
        d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "word").select(
        "doc_id", "word",
        (F.col("tf").cast("double") * F.log(n_docs / F.col("df"))).alias("tfidf"),
    )
    # r6 (guide §2.4 window note): top-3 as a hash AGGREGATION with a
    # bounded per-doc array sort instead of row_number over a doc window —
    # the window sorted the whole scored table per partition; the aggregate
    # gets map-side partials and only ever sorts one doc's words at a time.
    # struct(-tfidf, word) ascending ≡ (tfidf desc, word asc); tfidf ≥ 0
    # (df ≤ n_docs) and Spark orders -0.0 = 0.0, so negation is order-exact.
    top3 = F.slice(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("tfidf")).alias("neg"), F.col("word").alias("word"))
            )
        ),
        1,
        3,
    )
    return (
        scored.groupBy("doc_id")
        .agg(top3.alias("top"))
        .select("doc_id", F.posexplode("top").alias("p", "t"))
        .select(
            "doc_id",
            (F.col("p") + 1).cast("int").alias("rnk"),
            F.col("t.word").alias("word"),
            F.round(-F.col("t.neg"), 6).alias("tfidf"),
        )
    )


def _shingles():
    """Distinct 3-word shingles (shingle→minhash→band→bucket-join pipeline).

    Built with zip_with over shifted slices so the split() runs O(1) times
    per row — referencing an outer expression inside a transform() lambda
    re-evaluates it PER ELEMENT (measured 40s → ~2s at sf0.1)."""
    w = F.split(F.trim(F.col("text")), " ")
    w2 = F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0)))
    w3 = F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0)))
    pair = F.zip_with(w, w2, lambda a, b: F.concat(a, F.lit(" "), b))
    tri = F.zip_with(pair, w3, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.array_compact(tri))


def _minhash_expr(k):
    return F.array_min(F.transform(_shingles(), lambda w: F.md5(F.concat(F.lit(f"{k}:"), w))))


def _minhash_signatures(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        _minhash_expr(1).alias("h1"),
        _minhash_expr(2).alias("h2"),
        _minhash_expr(3).alias("h3"),
        _minhash_expr(4).alias("h4"),
    )


#: Max distinct-text docs a single LSH band may expand into pairs. A band at
#: the cap emits cap·(cap−1)/2 ≈ 524k pairs — bounded single-task work. NOT a
#: silent cap: members beyond it are deterministic (the cap keeps the LOWEST
#: doc_ids), the drop count is observable via :func:`_band_overflow`, and the
#: adversarial test pins both behaviors (tests/test_lsh_scale.py).
BAND_CAP = 1024


def _band_overflow(sigs, band_cols=("h1", "h2"), cap=BAND_CAP):
    """Audit companion for the band cap: one row per over-cap band with its
    size and dropped-member count (no-silent-caps rule)."""
    return (
        sigs.groupBy(*band_cols)
        .agg(F.count(F.lit(1)).alias("band_size"))
        .filter(F.col("band_size") > cap)
        .select(*band_cols, "band_size", (F.col("band_size") - cap).alias("n_dropped"))
    )


def _band_pairs(sigs, band_cols=("h1", "h2"), cap=None):
    """Candidate pairs sharing an LSH band, WITHOUT a self-join: group by the
    band key, then expand intra-band pairs array-side. One shuffle, each
    expensive signature expression evaluated once per row (the round-1
    self-join recomputed the shingle+minhash tree per side — 14.5s → ~1s),
    and a hot band expands inside one task bounded by its own array instead
    of a quadratic shuffle-join bucket.

    ``cap`` bounds the quadratic expansion: members are ranked by doc_id
    within the band (window — same hash partitioning as the groupBy, so
    Catalyst inserts ONE exchange) and only the lowest ``cap`` survive. A
    web-scale near-dup flood (10⁵–10⁶ docs one band) otherwise materializes
    10¹⁰+ pair structs in a single unsplittable task."""
    if cap is not None:
        w = W.partitionBy(*band_cols).orderBy("doc_id")
        sigs = (
            sigs.withColumn("_band_rk", F.row_number().over(w))
            .filter(F.col("_band_rk") <= cap)
            .drop("_band_rk")
        )
    g = (
        sigs.groupBy(*band_cols)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    # no dedup needed: a pair lands in exactly one (h1, h2) group
    return g.select(F.explode(pairs).alias("p")).select(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
    )


def _neardup_sigs(spark, sf_dir):
    """(doc_id, fp, h1, h2) for the near-dup pipeline — fp is the exact
    md5(text) fingerprint (same key as dedup_exact); identical texts have
    identical signatures, so fp refines (h1, h2)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        _minhash_expr(1).alias("h1"),
        _minhash_expr(2).alias("h2"),
    )


def _neardup_candidates(sigs):
    """Scale-safe MinHash-LSH candidate pairs: exact duplicates collapse to
    one representative BEFORE the band expansion.

    1. reps = groupBy(h1, h2, fp) → min(doc_id). Exact dups share fp AND the
       whole signature, so this is map-side combinable: a web-scale 10⁶-doc
       boilerplate cluster becomes one row per map partition in the shuffle
       and exactly one representative — it can never reach the quadratic
       band expansion (the r4 weak item).
    2. band pairs among representatives only, capped at BAND_CAP.
    3. star pairs (rep → every other member, jaccard 1.0 by construction)
       re-attach the collapsed duplicates LINEARLY — m−1 pairs for an m-doc
       exact cluster instead of m(m−1)/2. Connected components over
       star ∪ band equal components over the uncollapsed pair graph, so
       dedup_clusters is unchanged by the rewrite.

    Returns (doc_a, doc_b) with doc_a < doc_b; a pair appears once (band
    pairs are rep–rep, star pairs rep–member with rep = min of its group)."""
    reps = sigs.groupBy("h1", "h2", "fp").agg(F.min("doc_id").alias("doc_id"))
    band = _band_pairs(reps.select("doc_id", "h1", "h2"), cap=BAND_CAP)
    star = (
        sigs.select("doc_id", "fp")
        .join(reps.select("fp", F.col("doc_id").alias("rep")), "fp")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return band.unionByName(star)


def _near_dup_pairs(spark, sf_dir):
    """MinHash-LSH near-dup: band = (h1, h2); candidate pairs share a band
    (shingle→minhash→exact-collapse→band→capped array pair expansion)."""
    return _neardup_candidates(_neardup_sigs(spark, sf_dir))


def _quality_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (beyond-reference training-
    data op): top-word fraction (explode → two-level hash agg, map-side
    combinable — no per-row O(n²) array scan, so giant documents cannot
    straggle), duplicate-2-gram and duplicate-line fractions (map-only
    array expressions)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    twf = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .count()
        .groupBy("doc_id")
        .agg((F.max("count") / F.sum("count")).alias("twf"))
    )
    arr = d.select(
        "doc_id", words.alias("ws"), F.split(F.col("text"), "\n").alias("ls")
    ).withColumn(
        "gs",
        F.expr(
            "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
            " (x, i) -> concat(x, ' ', element_at(ws, i + 2)))"
        ),
    )
    return arr.join(twf, "doc_id").select(
        "doc_id",
        F.round("twf", 6).alias("top_word_frac"),
        F.round(
            F.when(
                F.size("gs") > 0,
                F.lit(1.0) - F.size(F.array_distinct("gs")) / F.size("gs"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_2gram_frac"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("ls")) / F.size("ls"), 6
        ).alias("dup_line_frac"),
    )


def _dedup_clusters(spark, sf_dir):
    """Transitive dedup-cluster assignment: near-dup PAIRS alone don't
    dedup a corpus (A~B, B~C must collapse into one cluster with one
    survivor) — connected components over the MinHash-LSH pair graph, with
    the min doc_id as the cluster id / canonical survivor.  Singleton docs
    are their own cluster, so filtering is_canonical IS the keep-list."""
    from kgforge.components import connected_components

    pairs = _near_dup_pairs(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    cc = connected_components(pairs, docs)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def _simhash(spark, sf_dir):
    """16-bit SimHash from per-word md5 hex digits (frequency-weighted)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    def bit_weight(b):
        return lambda acc, w: acc + F.when(F.substring(F.md5(w), b, 1) >= "8", 1).otherwise(-1)

    sh = F.lit(0)
    for b in range(1, 17):
        s_b = F.aggregate(words, F.lit(0), bit_weight(b))
        sh = sh + F.when(s_b > 0, F.lit(1 << (b - 1))).otherwise(0)
    return d.select("doc_id", sh.cast("long").alias("simhash"))


def _embedding_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for the first 20 vectors (the
    exact baseline; the LSH-bucketed variant is _ann_lsh_buckets)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("nrm", _norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = q.crossJoin(e).filter(F.col("vec_id") != F.col("qid"))
    sim = (_dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm"))).alias("sim")
    scored = pairs.select("qid", F.col("vec_id").alias("neighbor_id"), sim)
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(F.col("qid").alias("vec_id"), "neighbor_id", F.col("rnk").cast("int").alias("rnk"))
    )


def _ann_lsh_buckets(spark, sf_dir):
    """Deterministic-hyperplane LSH bucketing (the ANN scale path): 6 integer
    pseudo-planes w(k,d) = +1 if (d*(k+3)) % 7 < 3 else -1."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    def plane(k):
        return lambda x, i: x * F.when(((i * (k + 3)) % 7) < 3, 1.0).otherwise(-1.0)

    bucket = F.lit(0)
    for k in range(6):
        proj = F.aggregate(
            F.zip_with(F.col("emb"), F.sequence(F.lit(0), F.size("emb") - 1), plane(k)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << k)).otherwise(0)
    return e.select("vec_id", bucket.cast("int").alias("bucket"))


def _lsh_bucketed(spark, sf_dir):
    """embeddings + deterministic-hyperplane bucket column (shared by the
    bucketed ANN and embedding near-dup queries)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def plane(k):
        return lambda x, i: x * F.when(((i * (k + 3)) % 7) < 3, 1.0).otherwise(-1.0)

    bucket = F.lit(0)
    for k in range(6):
        proj = F.aggregate(
            F.zip_with(F.col("emb"), F.sequence(F.lit(0), F.size("emb") - 1), plane(k)),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << k)).otherwise(0)
    return e.withColumn("bucket", bucket.cast("int"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(x):
    return F.sqrt(F.aggregate(x, F.lit(0.0), lambda s, v: s + v * v))


def _cosine(a, b):
    # pair-join sites should NOT call this: precompute _norm per ROW before
    # the join and divide the pair dot by the two norm columns — the exact
    # same doubles (identical fold expressions), at one array fold per pair
    # instead of three
    return _dot(a, b) / (_norm(a) * _norm(b))


def _ann_bucketed_topk(spark, sf_dir):
    """IVF-style scale path: candidates restricted to the query's LSH bucket
    (vs the brute-force _embedding_topk baseline)."""
    e = _lsh_bucketed(spark, sf_dir).withColumn("nrm", _norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"),
        F.col("bucket").alias("qb"), F.col("nrm").alias("qnrm"),
    )
    pairs = q.join(e, q["qb"] == e["bucket"]).filter(F.col("vec_id") != F.col("qid"))
    sim = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm"))
    scored = pairs.select("qid", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    w = W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(F.col("qid").alias("vec_id"), "neighbor_id", F.col("rnk").cast("int").alias("rnk"))
    )


def _ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN: a K=16 centroid codebook partitions the
    vectors into Voronoi cells; each query probes its nprobe=2 nearest
    cells and searches exactly only inside them.

    The codebook here is the first 16 vectors (deterministic, so the DuckDB
    oracle can replay it); production would train it with k-means
    (pyspark.ml.clustering.KMeans) — the assign/probe/search plan below is
    identical either way. Scale shape: the codebook is a 16-row broadcast
    (assignment is map-side — no shuffle), cell assignment needs one
    key-partitioned shuffle on vec_id for the argmax, and the search join
    shuffles on cell id with fan-in bounded by nprobe × cell size — never
    all-pairs. Complements _ann_bucketed_topk (LSH buckets): IVF adapts to
    the data distribution, LSH is data-independent."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
    ).withColumn("nrm", _norm(F.col("emb")))
    cents = F.broadcast(
        e.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )
    csim = _dot(F.col("emb"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    # cell assignment: argmax cosine over the broadcast codebook
    # (tie → lowest cent_id, mirrored exactly in the oracle's row_number).
    # An aggregation form (min over struct(-csim, cent_id, emb, nrm)) was
    # A/B-measured and REJECTED (r6): the array payload in the buffer
    # defeats the hash aggregate (SortAggregate fallback) and it measured
    # 1.4 s vs 1.07 s at 10x — the window keeps the fixed-width sort keys.
    scored_c = e.crossJoin(cents).select("vec_id", "emb", "nrm", "cent_id", csim.alias("csim"))
    wv = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    assigned = (
        scored_c.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("vec_id", "emb", "nrm", F.col("cent_id").alias("cell"))
    )
    # query probe: top-nprobe cells per query vector
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    qsim = _dot(F.col("qemb"), F.col("cemb")) / (F.col("qnrm") * F.col("cnrm"))
    probe = (
        q.crossJoin(cents)
        .select("qid", "qemb", "qnrm", "cent_id", qsim.alias("csim"))
        .withColumn("r", F.row_number().over(W.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cent_id"))))
        .filter(F.col("r") <= 2)
        .select("qid", "qemb", "qnrm", F.col("cent_id").alias("cell"))
    )
    # exact search inside the probed cells only (each vector lives in ONE
    # cell, so the two probes can never produce a duplicate neighbor)
    pairs = probe.join(assigned, "cell").filter(F.col("vec_id") != F.col("qid"))
    sim = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm"))
    scored = pairs.select(
        "qid", F.col("vec_id").alias("neighbor_id"), sim.alias("sim")
    )
    # top-3 as a hash aggregation (map-side partials, no per-partition sort
    # of the full candidate set — same r6 rewrite as tfidf_top_terms)
    top3 = F.slice(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("sim")).alias("neg"),
                         F.col("neighbor_id").alias("neighbor_id"))
            )
        ),
        1,
        3,
    )
    return (
        scored.groupBy("qid")
        .agg(top3.alias("top"))
        .select("qid", F.posexplode("top").alias("p", "t"))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("t.neighbor_id").alias("neighbor_id"),
            (F.col("p") + 1).cast("int").alias("rnk"),
        )
    )


def _near_dup_embeddings(spark, sf_dir):
    """Embedding-cosine near-dup: LSH-bucket prefilter → exact cosine above
    threshold (pairs a<b). The bucket join bounds the candidate set at
    scale. Threshold 0.42 — the synthetic gaussian embeddings have no true
    duplicates (max pairwise cosine ≈ 0.51 at sf0.01), so the cutoff sits in
    the top tail to exercise the full prefilter→exact-verify path.

    r6 (guide §4.2, same rewrite as semdedup): the within-bucket pair
    expansion was a Catalyst equi-join evaluating an interpreted
    64-element array fold per pair (~3M pairs at sf1.0). Now ONE
    applyInPandas per bucket runs a blocked upper-triangular numpy matmul
    and emits only the above-threshold pairs; the only shuffle keys on the
    LSH bucket, exactly as before. The emitted sim is rounded half-up to
    4 decimals (floor(x·10⁴ + 0.5)/10⁴ — Spark/DuckDB ROUND semantics for
    the positive threshold range), FP-stable across engines."""
    import numpy as np
    import pandas as pd

    e = _lsh_bucketed(spark, sf_dir)

    def pairs_in_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        emb = np.array(pdf["emb"].tolist(), dtype=np.float64)
        n = len(emb)
        if n < 2:
            return pd.DataFrame({"a_id": pd.Series([], dtype="int64"),
                                 "b_id": pd.Series([], dtype="int64"),
                                 "sim": pd.Series([], dtype="float64")})
        nrm = np.sqrt((emb * emb).sum(axis=1))
        v = emb / nrm[:, None]
        ids = pdf["vec_id"].to_numpy()
        out_a, out_b, out_s = [], [], []
        blk = 2048
        for j0 in range(1, n, blk):
            j1 = min(j0 + blk, n)
            s = v[:j1] @ v[j0:j1].T
            r = np.floor(s * 10000.0 + 0.5) / 10000.0  # round-half-up, 4 dp
            i_idx = np.arange(j1)[:, None]
            j_idx = np.arange(j0, j1)[None, :]
            hit = (r >= 0.42) & (i_idx < j_idx)
            ii, jj = np.nonzero(hit)
            out_a.append(ids[ii])
            out_b.append(ids[jj + j0])
            out_s.append(r[ii, jj] if len(ii) else np.array([], dtype=np.float64))
        return pd.DataFrame({
            "a_id": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
            "b_id": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
            "sim": np.concatenate(out_s) if out_s else np.array([], dtype=np.float64),
        })

    return e.groupBy("bucket").applyInPandas(
        pairs_in_bucket, schema="a_id long, b_id long, sim double"
    )


def _near_dup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over shingle sets for MinHash band candidates.
    Shingles are computed ONCE (persisted), candidates come from the band
    group (no self-join), and only candidate rows join their shingle arrays
    back — at scale the join-back is a shuffle on doc_id over the (small)
    candidate set, not an all-rows array-carrying join."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", _shingles().alias("sh"), F.md5("text").alias("fp"),
                _minhash_expr(1).alias("h1"), _minhash_expr(2).alias("h2"))
        .persist()
    )
    d.count()  # materialize before fan-out (persist-race lesson)
    cand = _neardup_candidates(d.select("doc_id", "fp", "h1", "h2")).persist()
    cand.count()  # two consumers below (ids broadcast + the pair join)
    # semi-join prefilter: only candidate docs carry their shingle arrays
    # into the join — without it, adversarial dup rates shuffle the whole
    # array side (the candidate id set is small by construction → broadcast)
    ids = F.broadcast(
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    dc = d.join(ids, "doc_id", "left_semi")
    sha = dc.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = dc.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    j = cand.join(sha, "doc_a").join(shb, "doc_b")
    jac = F.size(F.array_intersect("sha", "shb")).cast("double") / F.size(F.array_union("sha", "shb"))
    return j.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")).filter(F.col("jaccard") >= 0.8)


# --- PII scrub -------------------------------------------------------------
# Java regex and DuckDB's RE2 agree on this subset (character classes,
# bounded quantifiers, \b word boundaries) — keep the patterns inside it.
_PII_EMAIL = r"[A-Za-z0-9_.+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"


def _pii_augmented_text():
    """Deterministically plant PII spans (an email, an IPv4, a phone
    fragment) derived from doc_id into the synthetic word-soup corpus, so
    the scrub regexes run against non-trivial positives. Mirrored exactly
    by the oracle's printf."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com ip "),
        (F.col("doc_id") % 223 + 1).cast("string"), F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"), F.lit(".0."),
        ((F.col("doc_id") * 13) % 256).cast("string"),
        F.lit(" call 555-"),
        F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
    )


def _pii_scrub(spark, sf_dir):
    """PII detection + redaction (training-data op): count and mask
    emails / IPv4s / phone fragments per document.

    Scale shape: map-only — three JVM regexp_extract_all/regexp_replace
    passes inside one WholeStageCodegen projection, no shuffle, no Python.
    At 100 TB this is the cheapest possible plan: a single scan whose
    filters/projection push down to parquet."""
    d = _t(spark, sf_dir, "documents")
    aug = _pii_augmented_text()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
            _PII_IP, "<IP>"),
        _PII_PHONE, "<PHONE>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(aug, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def _contamination_ngrams(spark, sf_dir):
    """Benchmark-contamination check (training-data op): fraction of each
    candidate document's distinct 3-gram shingles that appear in a held-out
    benchmark slice (deterministically, doc_id % 97 == 0 stands in for the
    eval suites).

    Scale shape: the benchmark side is the small, bounded one (eval suites
    are MBs, the corpus is TBs) → distinct benchmark shingles BROADCAST to
    the candidate explode; the per-doc aggregation is map-side combinable.
    No shuffle of the 100-TB side beyond the final groupBy(doc_id), which
    AQE coalesces. If the benchmark outgrew broadcast, the same plan runs
    as a shuffled left join on the shingle hash."""
    d = _t(spark, sf_dir, "documents").select("doc_id", _shingles().alias("sh"))
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    frac = F.round(F.col("n_contaminated").cast("double") / F.col("n_shingles"), 4)
    return (
        cand.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id", "n_shingles", "n_contaminated",
            frac.alias("contaminated_frac"),
            (frac >= 0.2).alias("flagged"),
        )
    )


def _stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (training-data op): per-language
    sampling rates (the language-rebalancing step of corpus assembly),
    decided by pure integer hashing so any engine reproduces the sample.

    Scale shape: the keep decision is arithmetic on doc_id (Knuth
    multiplicative hash, no RNG state, no ordering dependency) — map-only;
    the per-stratum report is one map-side-combinable groupBy over 10
    strata. Resume-safe: re-running selects the identical sample."""
    d = _t(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 1000
    rate = (
        F.when(F.col("lang") == "en", 300)
        .when(F.col("lang") == "de", 250)
        .when(F.col("lang") == "fr", 200)
        .when(F.col("lang") == "es", 150)
        .when(F.col("lang") == "zh", 100)
        .otherwise(50)
    )
    return (
        d.select("lang", "source", (bucket < rate).alias("keep"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_sampled"),
        )
    )


def _doc_length_hist(spark, sf_dir):
    """Log2-bucketed document-length histogram (corpus profiling op).
    Bucket = bit length of n_chars — integer-exact (string length of the
    base-2 representation), immune to log() rounding at power-of-two
    boundaries. Map-only + one tiny groupBy."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)).cast("int")
    return (
        d.select(bucket.alias("len_bucket"), "n_chars")
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


_BOILERPLATE = "subscribe to our newsletter for updates"


def _paragraphs():
    """Deterministic paragraph segmentation of the synthetic documents
    (which carry no newlines): three word-window chunks, plus a PLANTED
    boilerplate paragraph on every 7th document — the cross-document
    duplicate that paragraph-level dedup exists to remove."""
    words = F.split(F.col("text"), " ")
    chunks = F.filter(
        F.array(
            F.array_join(F.slice(words, 1, 10), " "),
            F.array_join(F.slice(words, 11, 10), " "),
            F.array_join(F.slice(words, 21, 1000000), " "),
        ),
        lambda c: c != "",  # short docs yield empty tail chunks, not paragraphs
    )
    return F.when(
        F.col("doc_id") % 7 == 0, F.concat(chunks, F.array(F.lit(_BOILERPLATE)))
    ).otherwise(chunks)


def _gated_dup_join(stream, dup, key):
    """LEFT-join the dup-hash table onto the window/paragraph stream with a
    RUNTIME size gate instead of a forced broadcast (r6, VERDICT scale fix):
    no hint — AQE measures the dup side's ACTUAL shuffle bytes and converts
    to a broadcast join only when it truly fits
    (spark.sql.adaptive.autoBroadcastJoinThreshold); above that the join
    stays key-partitioned. On a real crawl duplicated paragraphs are the
    MAJORITY class (CCNet drops ~70% of paragraphs) and 13-word dup windows
    number in the billions — the r5 ``F.broadcast(dup)`` died there, while
    here the fallback is the sort-merge join that workload needs anyway.
    Chosen over a bounded limit-probe gate (linker.py pattern) because the
    probe costs an extra materializing job per call and gates on row count
    rather than bytes; AQE's gate is exact and free."""
    return stream.join(dup, key, "left")


def _paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup (RefinedWeb/CCNet-style boilerplate
    removal): a paragraph that appears in ≥2 distinct documents is
    boilerplate; each document reports how many of its paragraphs were
    dropped and the md5 of its cleaned text.

    Scale shape: explode → per-hash distinct-doc count (map-side
    combinable groupBy on the paragraph hash — the ONLY shuffle of the
    100-TB side) → dup-hash table joined back under AQE's runtime size gate
    (broadcast only when its measured bytes fit; key-partitioned join
    otherwise — r6, the r5 forced broadcast was the VERDICT's last
    scale-killer) → per-doc re-aggregation keyed on doc_id. Order within a
    doc is restored by paragraph index, never by a global sort."""
    d = _t(spark, sf_dir, "documents")
    para = d.select(
        "doc_id", F.posexplode(_paragraphs()).alias("pidx", "ptext")
    ).withColumn("phash", F.md5("ptext"))
    dup = (
        para.groupBy("phash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("phash")
        .withColumn("is_dup", F.lit(1))
    )
    joined = _gated_dup_join(para, dup, "phash")
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("is_dup").isNull(), F.struct("pidx", "ptext"))
                )
            ),
            lambda s: s["ptext"],
        ),
        "\n",
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dropped"),
        F.md5(kept_text).alias("clean_md5"),
    )


def _c4_lines():
    """Deterministic line construction for the C4 filter (the synthetic
    corpus has no newlines): a valid leading sentence, a planted
    lorem-ipsum line on every 11th doc, a planted code line on every 5th,
    a too-short fragment, and a long valid tail sentence."""
    words = F.split(F.col("text"), " ")
    lead = F.concat(F.array_join(F.slice(words, 1, 8), " "), F.lit("."))
    frag = F.array_join(F.slice(words, 9, 3), " ")
    tail = F.concat(F.array_join(F.slice(words, 12, 1000000), " "), F.lit("."))
    lines = F.array(lead)
    lines = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(lines, F.array(F.lit("lorem ipsum dolor sit amet."))),
    ).otherwise(lines)
    lines = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(lines, F.array(F.lit("function f() { return 1; }"))),
    ).otherwise(lines)
    return F.concat(lines, F.array(frag, tail))


def _c4_line_filter(spark, sf_dir):
    """C4-style line filtering (Raffel et al. 2020 §2.2 heuristics): keep a
    line only if it ends in terminal punctuation, has ≥5 words, contains no
    curly brace (code) and no 'lorem ipsum'; a document survives if ≥2
    lines remain.

    Scale shape: pure map-only — the line split, per-line predicates and
    per-doc re-aggregation all happen array-side inside one
    WholeStageCodegen projection; no explode, no shuffle, no Python."""
    d = _t(spark, sf_dir, "documents")
    lines = _c4_lines()
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(r"[.!?\"]$")
        & (F.size(F.split(ln, " ")) >= 5)
        & ~ln.contains("{")
        & ~ln.contains("lorem ipsum"),
    )
    return d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        (F.size(kept) >= 2).alias("kept_doc"),
        F.md5(F.array_join(kept, "\n")).alias("kept_md5"),
    )


_LICENSE_SPAN = (
    "this work is licensed under the creative commons attribution share "
    "alike license version four international"
)


def _substring_dedup(spark, sf_dir):
    """Cross-document exact-substring duplication (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): sliding
    13-word windows (stride 5); a window whose hash occurs in ≥2 distinct
    documents marks a duplicated span. Per doc: window count, duplicated
    windows, duplicated fraction. The suffix-array of the paper becomes a
    window-hash groupBy — same detections at these window sizes, and the
    shuffle is on fixed-width hashes instead of suffixes.

    Scale shape: windows explode map-side (stride bounds the blowup at
    ~n_words/5 rows per doc); the per-hash distinct-doc count is a
    map-side-combinable aggregate — the ONLY full shuffle; the dup-hash
    table joins back under AQE's runtime size gate (broadcast only when its
    measured bytes fit, key-partitioned join otherwise — r6, replacing the
    r5 forced broadcast); per-doc re-aggregation is AQE-coalesced."""
    d = _t(spark, sf_dir, "documents")
    # planted shared span: every 13th document opens with the same 15-word
    # license-header sentence (the real-world duplicated-substring source;
    # prepended so the shared windows are stride-aligned across documents)
    aug = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit(_LICENSE_SPAN + " "), F.col("text")),
    ).otherwise(F.col("text"))
    words = F.split(aug, " ")
    n = F.size(words)
    starts = F.sequence(F.lit(1), F.greatest(n - 12, F.lit(1)), F.lit(5))
    windows = F.transform(starts, lambda s: F.md5(F.array_join(F.slice(words, s, 13), " ")))
    win = d.select("doc_id", F.explode(windows).alias("whash"))
    dup = (
        win.groupBy("whash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("whash")
        .withColumn("is_dup", F.lit(1))
    )
    frac = F.round(
        F.col("n_dup_windows").cast("double") / F.col("n_windows"), 4
    )
    return (
        _gated_dup_join(win, dup, "whash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_windows"),
        )
        .select("doc_id", "n_windows", "n_dup_windows", frac.alias("dup_frac"))
    )


#: IVF codebook size for semdedup/ann cells. Fixture-scale default (matches
#: the DuckDB oracle); production runs scale K with the corpus (K ∝ N/target
#: cell size) so the within-cell quadratic stays near-constant per cell.
_SEMDEDUP_K = 16
#: Max dropper-set size per semdedup cell: a vector is only compared against
#: the CAP lowest-id vectors of its cell, so per-cell work is O(n·CAP·dim),
#: never O(n²·dim). 64k is far above any tested cell size (outputs identical
#: at every sf); over-cap cells surface via _semdedup_cell_overflow.
_SEMDEDUP_CELL_CAP = 65536


def _semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup inside embedding-space
    clusters — a vector is dropped when a LOWER-id vector in the same
    cluster is more similar than the threshold, so each ε-neighborhood
    keeps its minimal-id representative. Clusters are the same K=16
    deterministic IVF codebook cells as ann_ivf_topk (production: k-means
    centroids; the plan is identical).

    Scale shape (r6 rewrite, guide §4.2): the r5 version expanded the
    within-cell pairs as a Catalyst equi-join and paid an interpreted
    64-element array fold PER PAIR (~13M pairs at sf1.0 → 29.6 s). Both
    phases now run as vectorized numpy inside the Python workers:
    assignment is map-side mapInPandas against the broadcast 16×dim
    codebook matrix (argmax over the cosine row = strict-greater fold with
    ascending cent_id, lowest id wins ties, exactly the oracle's
    row_number order), and the within-cell dedup is ONE applyInPandas per
    cell doing a blocked upper-triangular matmul (BLAS, O(cell² · dim)
    flops but no per-pair interpreter) — the only shuffle keys on cell,
    fan-in bounded by cell size, never all-pairs across the corpus.
    Threshold decisions use cosine rounded half-up to 4 decimals
    (floor(x·10⁴ + 0.5), Spark/DuckDB ROUND semantics for positive sims)
    so the decision is FP-stable across engines."""
    import numpy as np
    import pandas as pd

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # codebook: the K lowest-id vectors — bounded by construction, one
    # driver collect (the IVF pattern: centroids are config-sized).
    # _SEMDEDUP_K is the corpus-scale knob (VERDICT r5 #4): production runs
    # size K ∝ corpus so cells stay near-constant; the bench default 16
    # matches the oracle twin.
    cb = sorted(
        e.filter(F.col("vec_id") < _SEMDEDUP_K).collect(), key=lambda r: r["vec_id"]
    )
    cent_ids = np.array([r["vec_id"] for r in cb], dtype=np.int64)
    cmat = np.array([r["emb"] for r in cb], dtype=np.float64)
    cnrm = np.sqrt((cmat * cmat).sum(axis=1))
    b_cb = spark.sparkContext.broadcast((cent_ids, cmat, cnrm))

    def assign(batches):
        cids, cm, cn = b_cb.value
        for pdf in batches:
            emb = np.array(pdf["emb"].tolist(), dtype=np.float64)
            if len(emb) == 0:
                yield pd.DataFrame({"vec_id": [], "cell": [], "emb": []})
                continue
            nrm = np.sqrt((emb * emb).sum(axis=1))
            sims = (emb @ cm.T) / (nrm[:, None] * cn[None, :])
            # argmax keeps the FIRST maximum → lowest cent_id wins ties,
            # same as the strict-greater fold over ascending cent_id
            cell = cids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell.astype("int32"), "emb": pdf["emb"]}
            )

    assigned = e.mapInPandas(assign, schema="vec_id long, cell int, emb array<double>")

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        emb = np.array(pdf["emb"].tolist(), dtype=np.float64)
        n = len(emb)
        if n == 0:
            return pd.DataFrame({"vec_id": [], "cell": [], "kept": []})
        nrm = np.sqrt((emb * emb).sum(axis=1))
        v = emb / nrm[:, None]
        dropped = np.zeros(n, dtype=bool)
        # per-cell fan-in cap (VERDICT r5 #4, the BAND_CAP pattern): only
        # the CAP lowest-id vectors act as droppers, so a pathological cell
        # costs O(n·CAP·dim), never O(n²·dim). NOT a silent cap: the kept
        # dropper set is deterministic (lowest ids — the ones the uncapped
        # algorithm prefers as representatives anyway), over-cap cells are
        # observable via _semdedup_cell_overflow, and the adversarial test
        # pins the capped behavior. Under the cap (every tested sf) the
        # result is bit-identical to the uncapped algorithm.
        cap = _SEMDEDUP_CELL_CAP
        # blocked upper-triangle: column block j vs dropper rows i < j_end;
        # bounds peak memory at block · min(cell, cap) doubles per task
        blk = 2048
        for j0 in range(1, n, blk):
            j1 = min(j0 + blk, n)
            r1 = min(j1, cap)
            s = v[:r1] @ v[j0:j1].T  # (r1, j1-j0)
            dup = np.floor(s * 10000.0 + 0.5) >= 4000.0  # round-half-up ≥ 0.40
            i_idx = np.arange(r1)[:, None]
            j_idx = np.arange(j0, j1)[None, :]
            dropped[j0:j1] |= (dup & (i_idx < j_idx)).any(axis=0)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cell": pdf["cell"], "kept": ~dropped}
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cell, schema="vec_id long, cell int, kept boolean"
    )


def _semdedup_cell_overflow(spark, sf_dir, cap=None):
    """Audit companion for the semdedup cell cap (no-silent-caps rule): one
    row per over-cap cell with its size and the count of members whose
    dropper set was truncated to the cap."""
    cap = _SEMDEDUP_CELL_CAP if cap is None else cap
    cells = _semdedup(spark, sf_dir).groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_size")
    )
    return cells.filter(F.col("cell_size") > cap).select(
        "cell", "cell_size", (F.col("cell_size") - cap).alias("n_truncated")
    )


_PACK_CAP = 256  # tokens per packed training sequence
_PACK_BUCKETS = 16  # independent packing shards (scale knob — see docstring)


def _seq_pack(spark, sf_dir):
    """Training-sequence packing: fill fixed-capacity token windows with
    whole documents, greedy first-fit in doc_id order (the pretraining
    batch-assembly step — packing short documents together instead of
    padding each to the context length). Token count = whitespace tokens,
    truncated at the capacity so an over-long document occupies exactly one
    full sequence.

    Packing is inherently a sequential fold, so it runs per BUCKET
    (doc_id % B): each bucket packs independently and in parallel, and B
    scales with the corpus (pick B ≈ corpus_tokens / (10^7 · cap) so a
    bucket's (doc_id, n_tok) pairs fit one Arrow batch). Scale shape: the
    token count is computed map-side BEFORE the shuffle (16 bytes/doc moves,
    never text); the ONLY shuffle keys on bucket; the greedy scan is a
    linear numpy loop inside one applyInPandas batch per bucket. Resume-safe:
    pure function of (doc_id, n_tok) — re-running reproduces every pack."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
        F.least(F.size(F.split(F.col("text"), " ")), F.lit(_PACK_CAP))
        .cast("long")
        .alias("n_tok"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pids, offs = [], []
        pid, fill = 0, 0
        for t in pdf["n_tok"].tolist():
            if fill and fill + t > _PACK_CAP:
                pid, fill = pid + 1, 0
            pids.append(pid)
            offs.append(fill)
            fill += t
        pdf["pack_id"] = pids
        pdf["seq_off"] = offs
        return pdf[["doc_id", "bucket", "pack_id", "seq_off", "n_tok"]]

    return d.groupBy("bucket").applyInPandas(
        pack,
        "doc_id bigint, bucket bigint, pack_id bigint, seq_off bigint, n_tok bigint",
    )


_DSIR_NB = 64  # hashed-unigram feature buckets


def _dsir_bucket(col):
    """md5 first byte mod NB — the hashed n-gram feature of DSIR, chosen so
    any engine (Spark, DuckDB) reproduces the bucket byte-for-byte."""
    return F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("long") % _DSIR_NB


def _dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log-likelihood ratio of a hashed-unigram bag-of-words model fit on
    the TARGET domain (here lang='en') vs the RAW corpus, add-1 smoothed.
    log w(d) = Σ_w [ln(t_b(w)+1) − ln(r_b(w)+1)] + |d|·[ln(R+NB) − ln(T+NB)].

    Scale shape: the word explode feeds ONE map-side-combinable aggregation
    that collapses to NB=64 rows (both distributions in a single pass — the
    target is a filtered sum of the same stream); the 64-entry log-ratio
    map rides back as a one-row broadcast and the per-document score is an
    ARRAY-SIDE fold over the document's own words — no per-doc shuffle, no
    Python. At 100 TB the only full shuffle in the job moves 64 rows."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stats = (
        d.select(F.col("lang"), F.explode(words).alias("word"))
        .select(
            _dsir_bucket(F.col("word")).alias("b"),
            (F.col("lang") == "en").cast("long").alias("is_t"),
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("r_b"), F.sum("is_t").alias("t_b"))
    )
    lr = F.log(F.col("t_b") + 1) - F.log(F.col("r_b") + 1)
    row = stats.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), lr.alias("lr")))
        ).alias("lrmap"),
        (F.log(F.sum("r_b") + _DSIR_NB) - F.log(F.sum("t_b") + _DSIR_NB)).alias(
            "norm"
        ),
    )
    score = F.aggregate(
        F.transform(words, lambda w: F.element_at(F.col("lrmap"), _dsir_bucket(w))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    log_weight = F.round(score + F.size(words) * F.col("norm"), 4)
    return d.crossJoin(F.broadcast(row)).select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        log_weight.alias("log_weight"),
        (log_weight > 0).alias("kept"),
    )


def _top_ngrams(spark, sf_dir):
    """Corpus-level top-50 bigrams (the LM-stats / vocabulary-building op):
    explode word bigrams, count, take the global top-K with a deterministic
    tie-break.

    Scale shape: the bigram count is ONE map-side-combinable aggregation
    keyed on the bigram (vocabulary-bounded, not corpus-bounded); the
    global top-K is TakeOrderedAndProject — per-partition heaps of K rows
    merged on the driver, never a global sort."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    # zip_with pads the shorter side with null, so the last element is a
    # null bigram (concat(word, ' ', null)) — slice it off before exploding.
    bigrams = F.slice(
        F.zip_with(
            words,
            F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        1,
        F.greatest(F.size(words) - 1, F.lit(0)),
    )
    return (
        d.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(50)
    )


# Shard count is a corpus-scaled knob exactly like _PACK_BUCKETS: per-shard
# sort size is corpus/shards, so a 100-TB run sets shards ≈ corpus_rows /
# rows-per-task (e.g. 2**16..2**20), keeping every within-shard sort
# task-sized; 64 is the test-scale setting mirrored in the oracle.
_SHUF_SHARDS = 64


def _corpus_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle (the epoch-permutation step of
    corpus assembly): every document gets a reproducible pseudo-random
    position — shard = first md5 byte of the doc id, position = rank of the
    full md5 within the shard.

    Scale shape: no global sort anywhere. The md5 keys compute map-side;
    the rank sorts WITHIN each of the {shards} hash shards only (a window
    partitioned on shard — one exchange, bounded per-shard sort), and the
    global order is (shard, pos): readers consume shards in id order, the
    exact pattern of a sharded training-data loader."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % _SHUF_SHARDS
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("h", "doc_id")
    )
    return (
        d.select("doc_id", h.alias("h"), shard.alias("shard"))
        .select("doc_id", "shard", pos.alias("pos"))
    )


_BPE_MERGES = 12  # merge rounds learned by the BPE trainer
_BPE_CACHE: dict[str, list] = {}  # sf_dir → trained merge table


def _bpe_fold(toks, l: str, r: str):
    """Non-overlapping left-to-right merge of the adjacent pair (l, r)
    inside a token array — the single merge step shared by the trainer
    (_bpe_merges) and the encoder (_bpe_encode), as one JVM array fold."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (x == F.lit(r)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(l + r))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    learn-the-merge-table step a real LLM pipeline runs over its corpus
    before tokenizing. Returns the merge table: one row per round with
    the merged pair and its weighted frequency.

    Scale shape: ONE corpus pass collapses everything to the word-
    frequency VOCABULARY (explode words → groupBy word — vocabulary-
    bounded, ~1M rows at web scale, never corpus-bounded); every merge
    round then touches only that vocab table: the pair count is a
    map-side-combinable agg weighted by word frequency, the argmax is a
    1-row TakeOrderedAndProject collect (the same bounded hybrid
    driver/distributed pattern as the redirects closure), and applying
    the merge is an ARRAY-SIDE left-to-right fold — no Python UDF, no
    per-round corpus rescan, lineage truncated per round.

    No DuckDB oracle (iterative argmax — not SQL-expressible; driver
    records rows-only): the hard twin is the pure-Python BPE mirror in
    tests/test_training_ops.py which must reproduce the table exactly.
    """
    from kgforge.caching import truncate_lineage

    if sf_dir not in _BPE_CACHE:  # train once per sf_dir (parse-once sharing)
        _BPE_CACHE[sf_dir] = _bpe_train(
            _t(spark, sf_dir, "documents"), _BPE_MERGES
        )
    return spark.createDataFrame(
        _BPE_CACHE[sf_dir],
        "step INT, left STRING, right STRING, merged STRING, pair_count BIGINT",
    )


def _bpe_train(d: DataFrame, n_merges: int) -> list[tuple]:
    """The trainer loop of _bpe_merges over an arbitrary documents
    DataFrame (text column) — split out so the hypothesis property test
    can feed adversarial corpora. Returns the merge-table rows."""
    from kgforge.caching import truncate_lineage

    vocab = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit("</w>"))
            ).alias("toks"),
            "cnt",
        )
    )
    merges = []
    for step in range(1, n_merges + 1):
        toks = F.col("toks")
        pairs = F.slice(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            ),
            1,
            F.greatest(F.size(toks) - 1, F.lit(0)),
        )
        top = (
            vocab.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0].pc < 2:
            break
        l, r, pc = top[0].l, top[0].r, int(top[0].pc)
        merges.append((step, l, r, l + r, pc))
        vocab = truncate_lineage(
            vocab.select(_bpe_fold(toks, l, r).alias("toks"), "cnt"),
            eager=False,
        )
    return merges


def _bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the learned BPE merge table (the apply
    step that follows _bpe_merges): per document, the resulting BPE token
    count and the chars-per-token compression it achieves.

    Scale shape: merges are applied VOCABULARY-side — each learned merge
    is one JVM array-fold over the distinct-word table, never over the
    corpus — and the corpus only pays ONE explode + ONE join against the
    word→token-count table (broadcast; at web scale the vocab table is
    ~1M rows and still broadcastable) + ONE doc-keyed map-side-combinable
    aggregation. Same correctness twin as the trainer: the pure-Python
    mirror encodes every document and must match token-for-token.

    The merge table comes from _bpe_merges (trained once per sf_dir via
    _BPE_CACHE — the same parse-once sharing the kg_* queries use); a
    production pipeline materializes it through a checkpoint instead
    (the jobs/curate.py stage shape).
    """
    from kgforge.caching import truncate_lineage

    d = _t(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right)
        for r in _bpe_merges(spark, sf_dir).orderBy("step").collect()
    ]
    vocab = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
        .select(
            "word",
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit("</w>"))
            ).alias("toks"),
        )
    )
    for i, (l, r) in enumerate(merges):
        vocab = vocab.select("word", _bpe_fold(F.col("toks"), l, r).alias("toks"))
        if (i + 1) % 4 == 0:  # keep the fold chain short for Catalyst
            vocab = truncate_lineage(vocab, eager=False)
    wlen = vocab.select("word", F.size("toks").alias("wlen"))
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .join(F.broadcast(wlen), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wlen").alias("n_bpe_tokens"),
        )
    )


_MIX_ALPHA = 0.7  # mixture temperature (DoReMi/Pile convention)


def _domain_mixture(spark, sf_dir):
    """Temperature-scaled domain mixture weights for corpus assembly
    (the Pile / DoReMi-style sampling table): per (lang, source) domain,
    weight ∝ n_tokens^α with α=0.7, plus the implied epochs-per-domain
    (how many passes over the domain one epoch of the mixture makes).

    Scale shape: ONE map-side-combinable aggregation keyed on the domain
    (cardinality = #domains, thousands at web scale, never corpus-sized);
    the normalizing sums ride back as a one-row broadcast. Since
    (n/T)^α / Σ(n/T)^α = n^α / Σn^α, no second pass over the corpus is
    needed."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    dom = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(n_tok).alias("n_tokens")
    )
    tot = dom.agg(
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA))).alias(
            "pow_sum"
        ),
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)) / F.col("pow_sum")
    share = F.col("n_tokens") / F.col("tot_tokens")
    return dom.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("weight"),
        F.round(w / share, 4).alias("epochs"),
    )


_CCNET_NB = 4096  # LM feature buckets (finer than DSIR's 64: perplexity
# needs absolute per-word probabilities, not target/raw ratios, so a
# coarse table washes out the language signal; 4096 rows still broadcast
# as a few KB)


def _ccnet_bucket(col):
    """md5 first three hex chars mod NB — same engine-portable hashed
    feature as _dsir_bucket, wider table."""
    return F.conv(F.substring(F.md5(col), 1, 3), 16, 10).cast("long") % _CCNET_NB


def _ccnet_perplexity(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by the mean negative log-likelihood of a hashed-unigram LM
    fit on the target domain (lang='en', the Wikipedia stand-in; the
    reference pipeline uses a KenLM 5-gram — documented substitution),
    then split each language into head/middle/tail perplexity terciles.

    Scale shape: the LM fit is ONE filtered map-side-combinable
    aggregation collapsing to NB=4096 rows, broadcast back as a map; the
    per-document NLL is an array-side fold (no per-doc shuffle, no
    Python). Tercile cutoffs are a per-language exact percentile (#langs
    output rows; at 100 TB swap `percentile` for the approx_percentile
    t-digest exactly as q14 documents) broadcast-joined for the final
    map-only classification — no per-lang global sort, no window."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stats = (
        d.where(F.col("lang") == "en")
        .select(F.explode(words).alias("word"))
        .select(_ccnet_bucket(F.col("word")).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("t_b"))
    )
    row = stats.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("t_b")))
        ).alias("cmap"),
        F.sum("t_b").alias("t_total"),
    )
    logp = lambda w: F.log(
        F.coalesce(F.element_at(F.col("cmap"), _ccnet_bucket(w)), F.lit(0))
        + F.lit(1.0)
    ) - F.log(F.col("t_total") + F.lit(float(_CCNET_NB)))
    nll = -F.aggregate(
        F.transform(words, logp), F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(words)
    # persist: the NLL fold feeds two consumers (tercile cuts + final
    # classification) — without this the per-word fold runs twice over
    # the corpus; the cached projection is 3 narrow columns
    scored = d.crossJoin(F.broadcast(row)).select(
        "doc_id", "lang", F.round(nll, 4).alias("nll")
    ).persist()
    cuts = scored.groupBy("lang").agg(
        F.round(F.expr("percentile(nll, 0.3333333333333333)"), 4).alias("c1"),
        F.round(F.expr("percentile(nll, 0.6666666666666666)"), 4).alias("c2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "nll",
        F.when(F.col("nll") <= F.col("c1"), "head")
        .when(F.col("nll") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


#: positive class for the quality-classifier training label: documents of
#: the target domain (CCNet trains Wikipedia-vs-crawl per language; here
#: the lang='en' slice is the target domain, same choice as the
#: ccnet_perplexity LM fit — the label must carry a real vocabulary
#: signal, which an arbitrary source split on this corpus does not)
_QC_TARGET_LANG = "en"
#: fraction of the corpus the filter keeps — the tuned-threshold knob of
#: the CCNet/RedPajama classifier step (they pick the score cut to hit a
#: token budget; keeping the top 60% mirrors ccnet's head+middle)
_QC_KEEP_RATE = 0.6


def _quality_classifier(spark, sf_dir):
    """Trainable document-quality filter (the CCNet / RedPajama "fastText
    classifier" curation step, Wenzek et al. 2020 §4.4): learn to separate
    the target-domain slice of the corpus from the rest, then score EVERY
    document with the classifier and keep the ones that look in-domain.
    fastText's linear bag-of-words model is substituted by its count-exact
    twin — a multinomial Naive Bayes over the same hashed-unigram buckets
    as _ccnet_perplexity, add-1 smoothed, length-normalized log-odds — so
    the whole op stays deterministic, SQL-expressible, and hash-oracle-able
    (iterative SGD would force a rows-only check; the NB twin keeps the
    hard signal).

    score(d) = mean_w [ ln P(b(w)|target) - ln P(b(w)|rest) ]
             + ln((n_target+1)/(n_rest+1))

    Two decisions come out, because the production pipelines use both:
    `pred_target` is the raw fastText rule (argmax posterior — score > 0),
    and `kept` thresholds the score at a target KEEP RATE (top 60%: score
    >= the corpus 40th percentile), which is how CCNet/RedPajama actually
    tune the filter — a fixed posterior cut keeps a corpus-dependent and
    possibly empty slice, a percentile cut keeps the budgeted fraction.

    Scale shape: training is ONE map-side-combinable aggregation over the
    exploded corpus collapsing to <= NB=4096 (bucket, c_pos, c_neg) rows,
    carried back as a one-row broadcast map; the doc-count prior is a
    second one-row broadcast; scoring is an ARRAY-SIDE fold per document
    (no per-doc shuffle, no Python, no window); the keep cutoff is one
    exact-percentile row broadcast back (at 100 TB swap `percentile` for
    approx_percentile exactly as q14/ccnet document). Nothing here grows
    beyond the 4096-row table and three broadcast rows."""
    return _qc_over(_t(spark, sf_dir, "documents"))


def _qc_over(d: DataFrame) -> DataFrame:
    """_quality_classifier over an arbitrary documents DataFrame
    (doc_id, text, lang) — split out so tests can feed planted corpora
    and pin the scores against a pure-Python NB mirror."""
    words = F.split(F.col("text"), " ")
    lab = F.col("lang") == _QC_TARGET_LANG
    counts = (
        d.select(lab.alias("pos"), F.explode(words).alias("word"))
        .select("pos", _ccnet_bucket(F.col("word")).alias("b"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("c_pos"),
            F.sum(F.when(~F.col("pos"), 1).otherwise(0)).alias("c_neg"),
        )
    )
    row = counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.struct("c_pos", "c_neg")))
        ).alias("cmap"),
        F.sum("c_pos").alias("t_pos"),
        F.sum("c_neg").alias("t_neg"),
    )
    pri = d.agg(
        F.sum(F.when(lab, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(~lab, 1).otherwise(0)).alias("n_neg"),
    )
    nb = F.lit(float(_CCNET_NB))
    ent = lambda w: F.element_at(F.col("cmap"), _ccnet_bucket(w))
    llr = lambda w: (
        F.log(F.coalesce(ent(w)["c_pos"], F.lit(0)) + F.lit(1.0))
        - F.log(F.col("t_pos") + nb)
        - F.log(F.coalesce(ent(w)["c_neg"], F.lit(0)) + F.lit(1.0))
        + F.log(F.col("t_neg") + nb)
    )
    score = F.round(
        F.aggregate(F.transform(words, llr), F.lit(0.0), lambda a, x: a + x)
        / F.size(words)
        + F.log(F.col("n_pos") + F.lit(1.0))
        - F.log(F.col("n_neg") + F.lit(1.0)),
        4,
    )
    scored = (
        d.crossJoin(F.broadcast(row))
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id",
            lab.alias("is_target"),
            score.alias("log_odds"),
        )
        # the score feeds two consumers (keep cutoff + final decision) —
        # without this the per-word fold runs twice over the corpus
        .persist()
    )
    cut = scored.agg(
        F.round(
            F.expr(f"percentile(log_odds, {1.0 - _QC_KEEP_RATE!r})"), 4
        ).alias("cut")
    )
    return scored.crossJoin(F.broadcast(cut)).select(
        "doc_id",
        "is_target",
        "log_odds",
        (F.col("log_odds") > 0).alias("pred_target"),
        (F.col("log_odds") >= F.col("cut")).alias("kept"),
    )


_BUDGET_FRAC = 0.25  # token budget as a fraction of corpus tokens
_BS_BUCKETS = 4096  # score buckets for the distributed threshold search
_LAST_BS_DOCS: list = []  # one-slot cache for the per-doc stats table
_BS_COLLECT_CAP = 4096  # max rows any threshold-search step may collect


def _budget_select(spark, sf_dir):
    """Data selection under a token budget: keep the highest-quality
    documents whose token counts fit a fixed budget (25% of corpus
    tokens) — the select-the-best-slice step a pretraining pipeline runs
    after scoring (DoReMi/DsDm-style budgeted selection). Quality here is
    the type-token ratio (distinct words / words, rounded to 6), ordered
    (score DESC, doc_id ASC); a document is selected iff the greedy
    running token total through it stays within the budget.

    Scale shape: the naive plan is a GLOBAL sort + window cumsum over the
    corpus — the exact thing to avoid at 100 TB. Instead: per-document
    (tokens, score) is map-only; a map-side-combinable aggregation
    collapses the corpus to <= 4096 score-bucket token sums; the bounded
    bucket table resolves the threshold bucket on the driver (the
    redirects-probe hybrid pattern); everything strictly above the
    threshold bucket is selected MAP-SIDE, and only the boundary bucket
    (~corpus/4096; size B with the corpus so a bucket fits one task) pays
    an exact ordered cumsum. Net semantics equal the exact greedy prefix
    because the bucket function is monotone in score and ties share a
    bucket. The DuckDB oracle replays the exact window cumsum."""
    from kgforge.caching import one_slot_persist

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    # the narrow (doc_id, n_tokens, score, bkt) table feeds the threshold
    # search probes AND the final decision — persisted per call (one-slot
    # lifecycle) so the corpus is tokenized ONCE, and every later pass
    # moves 16 bytes/doc instead of re-reading text (guide §8: decide
    # with small rows)
    docs = one_slot_persist(
        _LAST_BS_DOCS,
        d.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("score"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "bkt",
            F.least(
                F.lit(_BS_BUCKETS - 1),
                F.floor(F.col("score") * _BS_BUCKETS).cast("int"),
            ),
        ),
    )
    stats = {
        r.bkt: (r.toks, r.n)
        for r in docs.groupBy("bkt")
        .agg(F.sum("n_tokens").alias("toks"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(t for t, _ in stats.values())
    budget = int(total * _BUDGET_FRAC)
    consumed, boundary = 0, -1
    for b in sorted(stats, reverse=True):  # high score buckets first
        if consumed + stats[b][0] > budget:
            boundary = b
            break
        consumed += stats[b][0]
    if boundary == -1:  # everything fits
        return docs.select(
            "doc_id", "n_tokens", "score", F.lit(True).alias("selected")
        )
    if stats[boundary][1] <= _BS_COLLECT_CAP:
        # common case: the boundary bucket is itself tiny — collect it
        # (bounded by the count just measured) and cut exactly on the
        # driver in the same (score desc, doc_id asc) greedy order
        rows = sorted(
            docs.filter(F.col("bkt") == boundary)
            .select("doc_id", "n_tokens", "score")
            .collect(),
            key=lambda r: (-r.score, r.doc_id),
        )
        rem, last = budget - consumed, None
        for r in rows:
            if r.n_tokens > rem:
                break
            rem -= r.n_tokens
            last = r
        if last is None:  # nothing in the boundary bucket fits
            sel = F.col("bkt") > boundary
        else:
            sel = (
                (F.col("bkt") > boundary)
                | (F.col("score") > last.score)
                | ((F.col("score") == last.score) & (F.col("doc_id") <= last.doc_id))
            )
        return docs.select("doc_id", "n_tokens", "score", sel.alias("selected"))
    # r6 (VERDICT #5): the boundary bucket previously paid an exact ordered
    # cumsum in ONE task (window over partitionBy(lit(1)) — ~corpus/4096
    # rows, a single ~25 GB task at 100 TB). The refinement now recurses the
    # SAME bucketed threshold search inside the boundary bucket until the
    # undecided set is provably tiny, and the final cut is a driver
    # decision — NO window anywhere:
    #   level 2: scores are round(·, 6) doubles, so s6 = round(score·10⁶)
    #            is an exact integer relabeling (≤ ⌈10⁶/4096⌉+1 ≈ 245
    #            distinct values per bucket — bounded by construction);
    #   level 3: within the single boundary score, the (score desc, doc_id
    #            asc) order reduces to a doc_id prefix — refined by doc_id
    #            RANGES (width ÷4096 per level, ≤ 6 levels for any 64-bit
    #            id space) until ≤ 4096 rows remain, which are collected
    #            (bounded) and cut exactly on the driver.
    # The selected set is identical: every refinement level walks the same
    # greedy order, and ties share a cell at every level.
    s6 = F.round(F.col("score") * 1e6).cast("long")
    in_b = docs.filter(F.col("bkt") == boundary).withColumn("s6", s6)
    lvl2 = (
        in_b.groupBy("s6")
        .agg(
            F.sum("n_tokens").alias("toks"),
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    )
    b_row, consumed2 = None, consumed
    for r in sorted(lvl2, key=lambda r: -r.s6):
        if consumed2 + r.toks > budget:
            b_row = r
            break
        consumed2 += r.toks
    if b_row is None:  # whole bucket fits (cannot happen, defensive)
        return docs.select(
            "doc_id", "n_tokens", "score",
            (F.col("bkt") >= boundary).alias("selected"),
        )
    remaining = budget - consumed2
    tie = in_b.filter(F.col("s6") == b_row.s6).select("doc_id", "n_tokens")
    lo, hi, n_tie = b_row.lo, b_row.hi, b_row.n
    while n_tie > _BS_COLLECT_CAP:
        width = max(1, (hi - lo) // 4096 + 1)
        cells = (
            tie.filter(F.col("doc_id").between(lo, hi))
            .groupBy(F.expr(f"(doc_id - {lo}) div {width}").alias("cell"))
            .agg(
                F.sum("n_tokens").alias("toks"),
                F.count(F.lit(1)).alias("n"),
                F.min("doc_id").alias("clo"),
                F.max("doc_id").alias("chi"),
            )
            .collect()
        )
        cell_b = None
        for c in sorted(cells, key=lambda c: c.cell):  # doc_id ascending
            if c.toks > remaining:
                cell_b = c
                break
            remaining -= c.toks
            lo = c.chi + 1  # everything through this cell is selected
        if cell_b is None:  # defensive: all cells fit
            lo, hi, n_tie = hi + 1, hi, 0
            break
        lo, hi, n_tie = cell_b.clo, cell_b.chi, cell_b.n
    cut_doc = lo - 1  # last selected doc so far (prefix below the cell)
    if n_tie > 0:
        rows = sorted(
            tie.filter(F.col("doc_id").between(lo, hi)).collect(),
            key=lambda r: r.doc_id,
        )
        for r in rows:
            if r.n_tokens > remaining:
                break
            remaining -= r.n_tokens
            cut_doc = r.doc_id
    return docs.select(
        "doc_id", "n_tokens", "score",
        (
            (F.col("bkt") > boundary)
            | (s6 > b_row.s6)
            | ((s6 == b_row.s6) & (F.col("doc_id") <= cut_doc))
        ).alias("selected"),
    )


_BUCKET_CTE = """
            WITH x AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
                     generate_subscripts(embedding, 1) - 1 AS i
              FROM embeddings),
            proj AS (
              SELECT vec_id, b,
                     SUM(v * CASE WHEN (i * (b + 3)) % 7 < 3 THEN 1.0 ELSE -1.0 END) AS p
              FROM x, generate_series(0, 5) t(b)
              GROUP BY vec_id, b),
            bk AS (
              SELECT vec_id, CAST(SUM(CASE WHEN p > 0 THEN 1 << b ELSE 0 END) AS INT) AS bucket
              FROM proj GROUP BY vec_id),
            e AS (SELECT e0.vec_id, CAST(e0.embedding AS DOUBLE[]) AS emb, bk.bucket
                  FROM embeddings e0 JOIN bk ON e0.vec_id = bk.vec_id)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # KG engine (wikitext parse → extract, SQL-oracled via derived corpus)
        "kg_labels": _kg_labels,
        "kg_page_links": _kg_page_links,
        "kg_anchor_text": _kg_anchor_text,
        "kg_out_degree": _kg_out_degree,
        "kg_redirects": _kg_redirects,
        "kg_transitive_redirects": _kg_transitive_redirects,
        "kg_infobox_properties": _kg_infobox_properties,
        "kg_homepages": _kg_homepages,
        "kg_article_templates": _kg_article_templates,
        "kg_article_templates_nested": _kg_article_templates_nested,
        "kg_article_categories": _kg_article_categories,
        "kg_abstracts": _kg_abstracts,
        "kg_long_abstracts": _kg_long_abstracts,
        "kg_page_length": _kg_page_length,
        "kg_wikipedia_links": _kg_wikipedia_links,
        "kg_instance_types": _kg_instance_types,
        "kg_instance_types_transitive": _kg_instance_types_transitive,
        "kg_mappingbased_literals": _kg_mappingbased_literals,
        "kg_template_dates": _kg_template_dates,
        "kg_images": _kg_images,
        "kg_infobox_references": _kg_infobox_references,
        "kg_revision_meta": _kg_revision_meta,
        "kg_type_statistics": _kg_type_statistics,
        "kg_entity_links": _kg_entity_links,
        "kg_file_types": _kg_file_types,
        "kg_media": _kg_media,
        "kg_image_meta": _kg_image_meta,
        "kg_cited_facts": _kg_cited_facts,
        "kg_person_page": _kg_person_page,
        "kg_nif_context": _kg_nif_context,
        "kg_nif_text_links": _kg_nif_text_links,
        "kg_nif_sections": _kg_nif_sections,
        "kg_hybrid_infobox": _kg_hybrid_infobox,
        "kg_mapping_stats": _kg_mapping_stats,
        "kg_mapping_coverage": _kg_mapping_coverage,
        "kg_wikidata_terms": _kg_wikidata_terms,
        "kg_wikidata_claims": _kg_wikidata_claims,
        "kg_wikidata_reified": _kg_wikidata_reified,
        "kg_wikidata_r2r": _kg_wikidata_r2r,
        "kg_wikidata_snak_stats": _kg_wikidata_snak_stats,
        "kg_wikidata_properties": _kg_wikidata_properties,
        "kg_wikidata_references": _kg_wikidata_references,
        "kg_wikidata_ns_sameas": _kg_wikidata_ns_sameas,
        "kg_wikidata_lexemes": _kg_wikidata_lexemes,
        "kg_wikidata_site_links": _kg_wikidata_site_links,
        "kg_sd_types": _kg_sd_types,
        "kg_pagerank": _kg_pagerank,
        "kg_infobox_mapping_tuples": _kg_infobox_mapping_tuples,
        "kg_infobox_mappings": _kg_infobox_mappings,
        "kg_wikidata_subclass": _kg_wikidata_subclass,
        "kg_graph_all": _kg_graph_all,
        # relational operator shapes
        "q1_pricing_summary": _q1_pricing_summary,
        "q2_revenue_by_segment": _q2_revenue_by_segment,
        "q3_region_stats": _q3_region_stats,
        "q4_top_order_per_customer": _q4_top_order_per_customer,
        "q5_customers_without_orders": _q5_customers_without_orders,
        "q6_distinct_flags": _q6_distinct_flags,
        "q7_part_closure": _q7_part_closure,
        "q8_event_hourly": _q8_event_hourly,
        "q9_salted_flag_stats": _q9_salted_flag_stats,
        "q10_sessionize": _q10_sessionize,
        "q11_rollup": _q11_rollup,
        "q12_asof_join": _q12_asof_join,
        "q13_range_join": _q13_range_join,
        "q14_percentiles": _q14_percentiles,
        # training-data pipeline operators
        "dedup_exact": _dedup_exact,
        "doc_fingerprint": _doc_fingerprint,
        "token_stats": _token_stats,
        "lang_id": _lang_id,
        "quality_score": _quality_score,
        "minhash_signatures": _minhash_signatures,
        "near_dup_pairs": _near_dup_pairs,
        "dedup_clusters": _dedup_clusters,
        "quality_repetition": _quality_repetition,
        "tfidf_top_terms": _tfidf_top_terms,
        "simhash": _simhash,
        "embedding_topk": _embedding_topk,
        "ann_lsh_buckets": _ann_lsh_buckets,
        "ann_bucketed_topk": _ann_bucketed_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "near_dup_embeddings": _near_dup_embeddings,
        "near_dup_jaccard": _near_dup_jaccard,
        "pii_scrub": _pii_scrub,
        "contamination_ngrams": _contamination_ngrams,
        "stratified_sample": _stratified_sample,
        "doc_length_hist": _doc_length_hist,
        "paragraph_dedup": _paragraph_dedup,
        "c4_line_filter": _c4_line_filter,
        "semdedup": _semdedup,
        "substring_dedup": _substring_dedup,
        "seq_pack": _seq_pack,
        "dsir_weights": _dsir_weights,
        "top_ngrams": _top_ngrams,
        "corpus_shuffle": _corpus_shuffle,
        "domain_mixture": _domain_mixture,
        "ccnet_perplexity": _ccnet_perplexity,
        "quality_classifier": _quality_classifier,
        "budget_select": _budget_select,
        "bpe_merges": _bpe_merges,
        "bpe_encode": _bpe_encode,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_ARTICLES = f"SELECT *, {SQL_LANG} AS l FROM documents WHERE NOT {SQL_IS_REDIRECT}"
_ALLDOCS = f"SELECT *, {SQL_LANG} AS l FROM documents"
_REDIRS = f"SELECT *, {SQL_LANG} AS l FROM documents WHERE {SQL_IS_REDIRECT}"

_SQL_CONTENT = (
    "printf('''''''Doc %d'''''' is document number %d. See [[Doc %d|next doc]] and [[Doc %d]].\n"
    "\n"
    "{{Infobox document\n"
    "| name = Doc %d\n"
    "| chars = %d\n"
    "| source = %s<ref>from %s</ref>"
    "<ref>{{cite web|url=http://src.example.org/doc/%d|title=Doc %d}}</ref>\n"
    "| published = {{Start date|%d|%d|%d}}\n"
    "| homepage = [http://corpus.example.org/doc/%d]\n"
    "| motto = {{lang|fr|Motto %d}}\n"
    "| alias = {{nowrap|Doc %d alias}}\n"
    "}}\n"
    "\n"
    "== Body ==\n"
    "%s\n"
    "\n"
    "[[File:Doc image %d.png|thumb]]\n"
    "[[Category:Source %s]]\n', "
    f"doc_id, doc_id, (doc_id+1)%{SQL_N}, (doc_id+7)%{SQL_N}, doc_id, n_chars, source, source, "
    f"doc_id, doc_id, "
    f"{SQL_PUB_Y}, {SQL_PUB_M}, {SQL_PUB_D}, doc_id, doc_id, doc_id, text, doc_id, source)"
)
_SQL_REDIR_CONTENT = f"printf('#REDIRECT [[Doc %d]]\n', (doc_id+11)%{SQL_N})"


def _pagerank_oracle_sql() -> str:
    """DuckDB twin of _kg_pagerank: the SAME 5 power iterations replayed
    as chained CTE passes over the analytically reconstructed link graph
    (the kg_page_links oracle's edge list)."""
    rb, subj, n = SQL_RES_BASE, SQL_SUBJ, SQL_N
    edges = f"""
          SELECT {subj} AS src, {rb} || 'Doc_' || ((doc_id+1)%{n}) AS dst FROM a
          UNION ALL SELECT {subj}, {rb} || 'Doc_' || ((doc_id+7)%{n}) FROM a
          UNION ALL SELECT {subj}, {rb} || 'Category:Source_' || source FROM a
          UNION ALL SELECT {subj}, {rb} || 'File:Doc_image_' || doc_id || '.png' FROM a
          UNION ALL SELECT {subj}, {rb} || 'Doc_' || ((doc_id+11)%{n}) FROM r
    """
    parts = [
        f"WITH a AS ({_ARTICLES}), r AS ({_REDIRS}),",
        f"edges AS ({edges}),",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),",
    ]
    for k in range(1, 6):
        parts.append(
            f"r{k} AS (SELECT nd.node,"
            f" 0.15 + 0.85 * COALESCE(SUM(p.rank / d.deg), 0) AS rank"
            f" FROM nodes nd LEFT JOIN edges e ON e.dst = nd.node"
            f" LEFT JOIN deg d ON d.src = e.src"
            f" LEFT JOIN r{k - 1} p ON p.node = e.src"
            f" GROUP BY nd.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append("SELECT node, ROUND(rank, 6) AS rank FROM r5")
    return "\n".join(parts)


def _sd_types_oracle_sql() -> str:
    """DuckDB twin of _kg_sd_types: the full SD-Type statistics chain
    (tf → type/predicate counts → wp/apriori → normalization → scores →
    argmax) recomputed independently in SQL.  Only the ontology-walk penalty
    constants — pure functions of the in-repo ontology fixture, not of the
    corpus — are embedded as VALUES (kgforge.sdtypes.penalty_values_sql)."""
    from kgforge.ontology import DBO, default_ontology
    from kgforge.sdtypes import penalty_values_sql

    rb = "http://dbpedia.org/resource/"
    leader, country = DBO + "leader", DBO + "country"
    name = "http://xmlns.com/foaf/0.1/name"
    person, org, settle = DBO + "Person", DBO + "Organisation", DBO + "Settlement"
    pen_rows = penalty_values_sql(
        default_ontology(), [person, org, settle], [leader, country, name], 0.4
    )
    return f"""
        WITH tf AS (
          SELECT resource, predicate, dir, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
            SELECT '{rb}Nation_' || c_nationkey AS resource,
                   '{leader}' AS predicate, 'out' AS dir FROM customer
            UNION ALL SELECT '{rb}Customer_' || c_custkey, '{leader}', 'in' FROM customer
            UNION ALL SELECT '{rb}Customer_' || c_custkey, '{name}', 'out' FROM customer
            UNION ALL SELECT '{rb}Customer_' || o_custkey, '{country}', 'out' FROM orders
            UNION ALL SELECT '{rb}Nation_' || (o_orderkey % 25), '{country}', 'in' FROM orders
            UNION ALL SELECT '{rb}Supplier_' || s_suppkey, '{country}', 'out' FROM supplier
            UNION ALL SELECT '{rb}Nation_' || s_nationkey, '{country}', 'in' FROM supplier
          ) GROUP BY 1, 2, 3
        ),
        typed AS (
          SELECT '{rb}Customer_' || c_custkey AS resource, '{person}' AS typ
          FROM customer WHERE c_custkey % 5 <> 0
          UNION ALL SELECT '{rb}Supplier_' || s_suppkey, '{org}' FROM supplier
          UNION ALL SELECT '{rb}Nation_' || n_nationkey, '{settle}' FROM nation
        ),
        nn AS (SELECT CAST(COUNT(DISTINCT resource) AS DOUBLE) AS n FROM tf),
        tsize AS (SELECT typ, CAST(COUNT(*) AS DOUBLE) AS t_size FROM typed GROUP BY 1),
        ptot AS (SELECT predicate, dir, SUM(tf) AS pred_total FROM tf GROUP BY 1, 2),
        cnts AS (SELECT typ, predicate, dir, SUM(tf) AS cnt
                 FROM tf JOIN typed USING (resource) GROUP BY 1, 2, 3),
        stats AS (SELECT typ, predicate, dir, cnt,
                         POWER(t_size / nn.n - cnt / pred_total, 2)
                           * (1 - t_size / nn.n) AS wp
                  FROM cnts JOIN tsize USING (typ)
                            JOIN ptot USING (predicate, dir), nn),
        apd AS (SELECT predicate, dir, SUM(wp) AS apriori, SUM(cnt) AS all_res
                FROM stats GROUP BY 1, 2),
        target AS (SELECT DISTINCT resource FROM tf
                   WHERE resource NOT IN (SELECT resource FROM typed)),
        nrm AS (SELECT t.resource,
                       GREATEST(1.0, 1.0 / (0.1 + SUM(COALESCE(a.apriori, 0)))) AS norm,
                       CAST(SUM(t.tf) AS BIGINT) AS based_on
                FROM tf t JOIN target USING (resource)
                LEFT JOIN apd a USING (predicate, dir) GROUP BY 1),
        pen(typ, predicate, dir, pen) AS (VALUES {pen_rows}),
        contrib AS (SELECT t.resource, s.typ,
                           SUM((s.cnt / a.all_res) * a.apriori
                               * (2.5 - 2.0 / t.tf) * p.pen) AS boosted
                    FROM tf t JOIN target USING (resource)
                    JOIN stats s USING (predicate, dir)
                    JOIN apd a USING (predicate, dir)
                    JOIN pen p ON p.typ = s.typ AND p.predicate = s.predicate
                              AND p.dir = s.dir
                    GROUP BY 1, 2),
        scored AS (SELECT c.resource, c.typ, c.boosted * m.norm AS score, m.based_on
                   FROM contrib c JOIN nrm m USING (resource)),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY resource
                                                ORDER BY score DESC, typ) AS rk
                   FROM scored)
        SELECT resource AS subject, typ AS value, ROUND(score, 6) AS score, based_on
        FROM ranked WHERE rk = 1 AND score >= 0.01
    """


# shingle → minhash → exact-collapse → capped band pairs ∪ star pairs,
# shared by the near_dup_pairs / near_dup_jaccard / dedup_clusters oracle
# twins (mirrors _neardup_candidates exactly, including the BAND_CAP)
_SQL_NEARDUP_CTE = """sh AS (
              SELECT doc_id, md5(text) AS fp,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(trim(text),' ')) - 2, 0)),
                       i -> string_split(trim(text),' ')[i] || ' ' ||
                            string_split(trim(text),' ')[i+1] || ' ' ||
                            string_split(trim(text),' ')[i+2])) AS sl
              FROM documents),
            s AS (
              SELECT doc_id, fp, sl,
                     list_min(list_transform(sl, x -> md5('1:' || x))) AS h1,
                     list_min(list_transform(sl, x -> md5('2:' || x))) AS h2
              FROM sh),
            nd_reps AS (
              SELECT h1, h2, fp, min(doc_id) AS doc_id
              FROM s GROUP BY 1, 2, 3),
            nd_bands AS (
              SELECT h1, h2, list_slice(list_sort(list(doc_id)), 1, 1024) AS ids
              FROM nd_reps GROUP BY 1, 2 HAVING count(*) >= 2),
            nd_band_pairs AS (
              SELECT a.id AS doc_a, b.id AS doc_b
              FROM (SELECT h1, h2, unnest(ids) AS id FROM nd_bands) a
              JOIN (SELECT h1, h2, unnest(ids) AS id FROM nd_bands) b
                ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.id < b.id),
            nd_star_pairs AS (
              SELECT r.doc_id AS doc_a, m.doc_id AS doc_b
              FROM s m JOIN nd_reps r USING (fp) WHERE m.doc_id <> r.doc_id),
            nd_pairs AS (
              SELECT * FROM nd_band_pairs UNION ALL SELECT * FROM nd_star_pairs)"""


def oracle_sql() -> dict[str, str]:
    rb = SQL_RES_BASE
    pb = SQL_PROP_BASE
    subj = SQL_SUBJ
    n = SQL_N
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    langstr = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    _xsd_nni = "http://www.w3.org/2001/XMLSchema#nonNegativeInteger"
    _NIF = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#"
    return {
        "kg_labels": f"""
            SELECT {subj} AS subject, 'Doc ' || doc_id AS value, {SQL_LANG} AS language
            FROM documents
        """,
        "kg_page_links": f"""
            WITH a AS ({_ARTICLES}), r AS ({_REDIRS})
            SELECT {subj} AS subject, {rb} || 'Doc_' || ((doc_id+1)%{n}) AS value FROM a
            UNION ALL
            SELECT {subj}, {rb} || 'Doc_' || ((doc_id+7)%{n}) FROM a
            UNION ALL
            SELECT {subj}, {rb} || 'Category:Source_' || source FROM a
            UNION ALL
            SELECT {subj}, {rb} || 'File:Doc_image_' || doc_id || '.png' FROM a
            UNION ALL
            SELECT {subj}, {rb} || 'Doc_' || ((doc_id+11)%{n}) FROM r
        """,
        "kg_anchor_text": f"""
            WITH a AS ({_ARTICLES}), r AS ({_REDIRS})
            SELECT DISTINCT * FROM (
              SELECT {rb} || 'Doc_' || ((doc_id+1)%{n}) AS subject, 'next doc' AS value FROM a
              UNION ALL
              SELECT {rb} || 'Doc_' || ((doc_id+7)%{n}), 'Doc ' || ((doc_id+7)%{n}) FROM a
              UNION ALL
              SELECT {rb} || 'Doc_' || ((doc_id+11)%{n}), 'Doc ' || ((doc_id+11)%{n}) FROM r
            )
        """,
        "kg_out_degree": f"""
            SELECT {subj} AS subject,
                   CAST(CASE WHEN {SQL_IS_REDIRECT} THEN 1 ELSE 4 END AS VARCHAR) AS value
            FROM documents
        """,
        "kg_redirects": f"""
            SELECT {subj} AS subject, {rb} || 'Doc_' || ((doc_id+11)%{n}) AS value
            FROM documents WHERE {SQL_IS_REDIRECT}
        """,
        "kg_transitive_redirects": f"""
            SELECT {subj} AS subject, {rb} || 'Doc_' || ((doc_id+11)%{n}) AS value
            FROM documents WHERE {SQL_IS_REDIRECT}
        """,
        "kg_infobox_properties": f"""
            WITH a AS ({_ARTICLES})
            SELECT {subj} AS subject, {pb} || 'name' AS predicate,
                   'Doc ' || doc_id AS value, '{langstr}' AS datatype FROM a
            UNION ALL
            SELECT {subj}, {pb} || 'chars', CAST(n_chars AS VARCHAR), '{xsd_int}' FROM a
            UNION ALL
            SELECT {subj}, {pb} || 'source', source, '{langstr}' FROM a
            UNION ALL
            SELECT {subj}, {pb} || 'homepage',
                   'http://corpus.example.org/doc/' || doc_id, NULL FROM a
            UNION ALL
            SELECT {subj}, {pb} || 'published', {SQL_PUB_DATE},
                   'http://www.w3.org/2001/XMLSchema#date' FROM a
            UNION ALL
            -- template-transform coverage: {{{{lang|fr|…}}}} unwraps to its
            -- text, {{{{nowrap|…}}}} surfaces its child through the <br />
            -- split markers (TemplateTransformConfig semantics)
            SELECT {subj}, {pb} || 'motto', 'Motto ' || doc_id, '{langstr}' FROM a
            UNION ALL
            SELECT {subj}, {pb} || 'alias', 'Doc ' || doc_id || ' alias', '{langstr}' FROM a
        """,
        "kg_template_dates": f"""
            SELECT {subj} AS subject, {SQL_PUB_DATE} AS value,
                   'http://www.w3.org/2001/XMLSchema#date' AS datatype
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_type_statistics": f"""
            SELECT {SQL_LANG} AS language,
                   'http://dbpedia.org/ontology/Document' AS type_iri,
                   count(*) AS n_instances
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
            GROUP BY 1
        """,
        "kg_images": f"""
            WITH a AS ({_ARTICLES}),
            u AS (SELECT *,
                    'http://commons.wikimedia.org/wiki/Special:FilePath/Doc_image_'
                      || doc_id || '.png' AS url,
                    'http://commons.wikimedia.org/wiki/Special:FilePath/Doc_image_'
                      || doc_id || '.png?width=300' AS thumb,
                    'http://' || l || '.wikipedia.org/wiki/File:Doc_image_'
                      || doc_id || '.png' AS wpage,
                    {subj} AS s FROM a)
            SELECT s AS subject, 'http://xmlns.com/foaf/0.1/depiction' AS predicate, url AS value FROM u
            UNION ALL SELECT s, 'http://dbpedia.org/ontology/thumbnail', thumb FROM u
            UNION ALL SELECT url, 'http://xmlns.com/foaf/0.1/thumbnail', thumb FROM u
            UNION ALL SELECT url, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Image' FROM u
            UNION ALL SELECT thumb, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Image' FROM u
            UNION ALL SELECT url, 'http://purl.org/dc/elements/1.1/rights', wpage FROM u
            UNION ALL SELECT thumb, 'http://purl.org/dc/elements/1.1/rights', wpage FROM u
        """,
        "kg_infobox_references": f"""
            SELECT {subj} AS subject, {pb} || 'source' AS predicate,
                   'from ' || source AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
            UNION ALL
            -- the planted {{{{cite web}}}} ref renders its own markup as the
            -- reference text (template markup is not prose-stripped)
            SELECT {subj}, {pb} || 'source',
                   '{{{{cite web|url=http://src.example.org/doc/' || doc_id
                     || '|title=Doc ' || doc_id || '}}}}'
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_revision_meta": f"""
            WITH d AS (SELECT *, {SQL_LANG} AS l FROM documents),
            h AS (SELECT *, substr(sha256(l || '|' || source || '|docs/Doc_' || doc_id
                                          || '.wiki|' || md5(text)), 1, 15) AS hx FROM d),
            r AS (SELECT *,
                    list_sum(list_transform(generate_series(1, 15),
                      i -> (strpos('0123456789abcdef', substr(hx, i, 1)) - 1)::BIGINT
                           << (4 * (15 - i))))::BIGINT AS rid,
                    'http://' || l || '.wikipedia.org/w/index.php?title=Doc_' || doc_id AS idx,
                    'http://' || l || '.wikipedia.org/wiki/Doc_' || doc_id AS piri,
                    {subj} AS s,
                    'http://dbpedia.org/contributor/' || replace(source, ' ', '_') AS curl
                  FROM h)
            SELECT s AS subject, 'http://dbpedia.org/ontology/wikiPageModified' AS predicate,
                   CAST(DATE '2000-01-01' + CAST(rid % 9000 AS INT) AS VARCHAR) AS value,
                   'http://www.w3.org/2001/XMLSchema#date' AS datatype, l AS language FROM r
            UNION ALL SELECT s, 'http://dbpedia.org/ontology/wikiPageEditLink',
                   idx || '&action=edit', NULL, l FROM r
            UNION ALL SELECT s, 'http://dbpedia.org/ontology/wikiPageRevisionLink',
                   idx || '&oldid=' || rid, NULL, l FROM r
            UNION ALL SELECT s, 'http://dbpedia.org/ontology/wikiPageHistoryLink',
                   idx || '&action=history', NULL, l FROM r
            UNION ALL SELECT piri, 'http://dbpedia.org/meta/contributor', curl, NULL, l FROM r
            UNION ALL SELECT DISTINCT curl, 'http://www.w3.org/2000/01/rdf-schema#label',
                   source, 'http://www.w3.org/2001/XMLSchema#string', l FROM r
            UNION ALL SELECT DISTINCT curl, 'http://dbpedia.org/meta/contributorID',
                   CAST(length(source) * 1000 + ascii(substr(source, 1, 1)) AS VARCHAR),
                   'http://www.w3.org/2001/XMLSchema#integer', l FROM r
        """,
        "kg_homepages": f"""
            SELECT {subj} AS subject, 'http://corpus.example.org/doc/' || doc_id AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_article_templates": f"""
            SELECT {subj} AS subject, {rb} || 'Template:Infobox_document' AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_article_templates_nested": f"""
            SELECT {subj} AS subject, {rb} || 'Template:Start_date' AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_article_categories": f"""
            SELECT {subj} AS subject, {rb} || 'Category:Source_' || source AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_abstracts": f"""
            SELECT {subj} AS subject,
                   printf('Doc %d is document number %d. See next doc and Doc %d.',
                          doc_id, doc_id, (doc_id+7)%{n}) AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_page_length": f"""
            SELECT {subj} AS subject,
                   CAST(length(CASE WHEN {SQL_IS_REDIRECT} THEN {_SQL_REDIR_CONTENT}
                               ELSE {_SQL_CONTENT} END) AS VARCHAR) AS value
            FROM documents
        """,
        "kg_wikipedia_links": f"""
            WITH d AS ({_ALLDOCS}),
            p AS (SELECT *, 'http://' || l || '.wikipedia.org/wiki/Doc_' || doc_id AS piri,
                         {rb} || 'Doc_' || doc_id AS s FROM d)
            SELECT s AS subject, 'http://xmlns.com/foaf/0.1/isPrimaryTopicOf' AS predicate, piri AS value FROM p
            UNION ALL SELECT piri, 'http://xmlns.com/foaf/0.1/primaryTopic', s FROM p
            UNION ALL SELECT piri, 'http://purl.org/dc/elements/1.1/language', l FROM p
            UNION ALL SELECT piri, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                             'http://xmlns.com/foaf/0.1/Document' FROM p
        """,
        "kg_entity_links": f"""
            SELECT {subj} AS subject, {rb} || 'Doc_' || ((doc_id+7)%{n}) AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_instance_types": f"""
            SELECT {subj} AS subject, 'http://dbpedia.org/ontology/Document' AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_instance_types_transitive": f"""
            SELECT {subj} AS subject, v AS value
            FROM documents, (VALUES ('http://dbpedia.org/ontology/Work'),
                                    ('http://www.w3.org/2002/07/owl#Thing')) t(v)
            WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_mapping_stats": f"""
            -- one root template in the derived corpus: every article uses
            -- {{{{Infobox document}}}} with 7 non-empty params, of which the
            -- Infobox-document mapping rules cover 3 (chars/name/published)
            WITH a AS ({_ARTICLES})
            SELECT 'infobox document' AS template,
                   CAST(count(*) AS BIGINT) AS template_count,
                   TRUE AS is_mapped,
                   CAST(7 AS BIGINT) AS property_count,
                   CAST(3 AS BIGINT) AS mapped_property_count,
                   CAST(7 * count(*) AS BIGINT) AS property_use_count,
                   CAST(3 * count(*) AS BIGINT) AS mapped_property_use_count,
                   CAST(0 AS BIGINT) AS mapped_property_not_used,
                   round(3.0 / 7.0, 4) AS mapped_ratio,
                   round(3.0 / 7.0, 4) AS mapped_use_ratio
            FROM a
        """,
        "kg_mapping_coverage": f"""
            -- TemplateStatistics header over the derived corpus: the one
            -- root template is mapped, 3 of its 7 observed props are
            WITH a AS ({_ARTICLES})
            SELECT CAST(1 AS BIGINT) AS template_count,
                   CAST(1 AS BIGINT) AS mapped_template_count,
                   CAST(count(*) AS BIGINT) AS template_use_count,
                   CAST(count(*) AS BIGINT) AS mapped_template_use_count,
                   CAST(7 AS BIGINT) AS property_count,
                   CAST(3 AS BIGINT) AS mapped_property_count,
                   CAST(7 * count(*) AS BIGINT) AS property_use_count,
                   CAST(3 * count(*) AS BIGINT) AS mapped_property_use_count,
                   1.0 AS mapped_template_ratio,
                   1.0 AS mapped_template_use_ratio,
                   round(3.0 / 7.0, 4) AS mapped_property_ratio,
                   round(3.0 / 7.0, 4) AS mapped_property_use_ratio
            FROM a
        """,
        "kg_mappingbased_literals": f"""
            WITH a AS ({{_ARTICLES}})
            SELECT {subj} AS subject,
                   'http://dbpedia.org/ontology/numberOfCharacters' AS predicate,
                   CAST(n_chars AS VARCHAR) AS value,
                   'http://www.w3.org/2001/XMLSchema#nonNegativeInteger' AS datatype
            FROM a
            UNION ALL
            SELECT {subj}, 'http://xmlns.com/foaf/0.1/name', 'Doc ' || doc_id, '{{langstr}}'
            FROM a
            UNION ALL
            SELECT {subj}, 'http://dbpedia.org/ontology/publicationDate',
                   {SQL_PUB_DATE}, 'http://www.w3.org/2001/XMLSchema#date'
            FROM a
        """.replace("{_ARTICLES}", _ARTICLES).replace("{langstr}", langstr),
        "kg_file_types": f"""
            WITH p AS (SELECT *, {SQL_FILE_SUBJ} AS s, {SQL_FILE_EXT} AS ext,
                              {SQL_FILE_MIME} AS mime, {SQL_FILE_CLASS} AS cls,
                              {SQL_FILE_ENC} AS enc
                       FROM part)
            SELECT s AS subject, 'http://dbpedia.org/ontology/fileExtension' AS predicate,
                   ext AS value, 'http://www.w3.org/2001/XMLSchema#string' AS datatype FROM p
            UNION ALL SELECT s, 'http://purl.org/dc/terms/format', mime,
                   'http://www.w3.org/2001/XMLSchema#string' FROM p
            UNION ALL SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/File', NULL FROM p
            UNION ALL SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/' || cls, NULL FROM p
            UNION ALL SELECT s, 'http://dbpedia.org/ontology/fileURL',
                   'http://commons.wikimedia.org/wiki/Special:FilePath/' || enc, NULL FROM p
        """,
        "kg_long_abstracts": f"""
            SELECT {subj} AS subject,
                   printf('Doc %d is document number %d. See next doc and Doc %d.',
                          doc_id, doc_id, (doc_id+7)%{n})
                     || chr(10) || chr(10) || text AS value
            FROM documents WHERE NOT {SQL_IS_REDIRECT}
        """,
        "kg_cited_facts": f"""
            WITH a AS ({_ARTICLES})
            SELECT {{subj}} AS subject, {{pb}} || 'source' AS predicate,
                   source AS value,
                   'http://src.example.org/doc/' || doc_id AS context FROM a
        """.replace("{subj}", subj).replace("{pb}", pb),
        "kg_image_meta": """
            WITH p AS (SELECT p_partkey AS k FROM part),
            f AS (
              SELECT k, 'photo' AS slot, 'Part_' || k || '_photo.jpg' AS enc,
                     1 AS ord, (k % 5 <> 0) AS free FROM p
              UNION ALL SELECT k, 'flag', 'Flag_of_Part_' || k || '.svg', 2, TRUE
                FROM p WHERE k % 3 = 0
              UNION ALL SELECT k, 'map', 'Part_' || k || '_location_map.png', 3, TRUE
                FROM p WHERE k % 4 = 0
              UNION ALL SELECT k, 'extra', 'Part_' || k || '_extra.png', 4, TRUE FROM p
            ),
            fr AS (
              SELECT k, slot, enc,
                     'http://dbpedia.org/resource/Image_page_' || k AS subj,
                     'http://commons.wikimedia.org/wiki/Special:FilePath/' || enc AS url,
                     'http://commons.wikimedia.org/wiki/Special:FilePath/' || enc
                       || '?width=300' AS th,
                     'http://en.wikipedia.org/wiki/File:' || enc AS wp,
                     row_number() OVER (PARTITION BY k ORDER BY ord) AS rk
              FROM f WHERE free
            )
            SELECT subj AS subject, 'http://xmlns.com/foaf/0.1/depiction' AS predicate,
                   url AS value FROM fr
            UNION ALL SELECT subj, 'http://dbpedia.org/ontology/thumbnail', th
              FROM fr WHERE rk = 1
            UNION ALL SELECT url, 'http://xmlns.com/foaf/0.1/thumbnail', th FROM fr
            UNION ALL SELECT url, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Image' FROM fr
            UNION ALL SELECT th, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Image' FROM fr
            UNION ALL SELECT url, 'http://purl.org/dc/elements/1.1/rights', wp FROM fr
            UNION ALL SELECT th, 'http://purl.org/dc/elements/1.1/rights', wp FROM fr
            UNION ALL SELECT subj, 'http://dbpedia.org/ontology/flag', url
              FROM fr WHERE slot = 'flag'
            UNION ALL SELECT subj, 'http://dbpedia.org/ontology/map', url
              FROM fr WHERE slot = 'map'
        """,
        "kg_media": """
            WITH s AS (SELECT *,
                         'http://dbpedia.org/resource/Supplier_' || s_suppkey AS subj,
                         'Supplier_' || s_suppkey AS base FROM supplier),
            m AS (SELECT *,
                    'http://commons.wikimedia.org/wiki/Special:FilePath/' || base
                      || '_logo.png' AS logo_url,
                    'http://commons.wikimedia.org/wiki/Special:FilePath/' || base
                      || '_jingle.ogg' AS jingle_url,
                    'http://en.wikipedia.org/wiki/File:' || base || '_logo.png' AS logo_wiki
                  FROM s)
            SELECT 'images' AS dataset, subj AS subject,
                   'http://xmlns.com/foaf/0.1/depiction' AS predicate,
                   logo_url AS value, CAST(NULL AS VARCHAR) AS datatype FROM m
            UNION ALL SELECT 'images', logo_url,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Image', NULL FROM m
            UNION ALL SELECT 'images', logo_url,
                   'http://purl.org/dc/elements/1.1/rights', logo_wiki, NULL FROM m
            UNION ALL SELECT 'sounds', jingle_url,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Sound', NULL FROM m
            UNION ALL SELECT 'images', subj, 'http://dbpedia.org/ontology/mediaItem',
                   'http://commons.dbpedia.org/resource/File:' || base || '_' || x
                   , NULL
            FROM m, (VALUES ('logo.png'), ('jingle.ogg'), ('promo.webm')) t(x)
            UNION ALL SELECT 'commons_link', subj, 'http://www.w3.org/2002/07/owl#sameAs',
                   'http://commons.dbpedia.org/resource/' || base, NULL FROM m
            -- DBpediaResourceExtractor: {{VN}} vernacular names -> en/de/fr
            -- sameAs (first ', '-separated name only)
            UNION ALL SELECT 'commons_link', subj, 'http://www.w3.org/2002/07/owl#sameAs',
                   'http://dbpedia.org/resource/Blue_supplier_' || s_suppkey, NULL FROM m
            UNION ALL SELECT 'commons_link', subj, 'http://www.w3.org/2002/07/owl#sameAs',
                   'http://de.dbpedia.org/resource/Blauer_Lieferant_' || s_suppkey, NULL FROM m
            UNION ALL SELECT 'commons_link', subj, 'http://www.w3.org/2002/07/owl#sameAs',
                   'http://fr.dbpedia.org/resource/Fournisseur_bleu_' || s_suppkey, NULL FROM m
        """,
        "kg_person_page": f"""
            WITH nn AS (SELECT *,
                'http://dbpedia.org/resource/Explorer_' || n_nationkey AS s,
                'http://cite.example.org/nation/' || n_nationkey AS cite,
                printf('%04d-03-%02d', 1900 + n_nationkey % 90,
                       1 + n_nationkey % 28) AS bdate,
                printf('%d.0', n_nationkey % 80) AS lat,
                printf('%d.0', n_nationkey % 160) AS lon,
                'http://dbpedia.org/resource/Place_' || n_nationkey AS place,
                'Explorer ' || n_nationkey AS ename
              FROM nation),
            x AS (
            SELECT 'persondata' AS dataset, s AS subject,
                   'http://xmlns.com/foaf/0.1/name' AS predicate,
                   'Explorer ' || n_name AS value,
                   CAST('{langstr}' AS VARCHAR) AS datatype FROM nn
            UNION ALL SELECT 'persondata', s, 'http://xmlns.com/foaf/0.1/surname', n_name, '{langstr}' FROM nn
            UNION ALL SELECT 'persondata', s, 'http://xmlns.com/foaf/0.1/givenName', 'Explorer', '{langstr}' FROM nn
            UNION ALL SELECT 'persondata', s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://xmlns.com/foaf/0.1/Person', NULL FROM nn
            UNION ALL SELECT 'persondata', s, 'http://purl.org/dc/elements/1.1/description',
                   'navigator', '{langstr}' FROM nn
            UNION ALL SELECT 'persondata', s, 'http://dbpedia.org/ontology/birthDate', bdate,
                   'http://www.w3.org/2001/XMLSchema#date' FROM nn
            UNION ALL SELECT 'persondata', s, 'http://dbpedia.org/ontology/birthPlace', place, NULL FROM nn
            UNION ALL SELECT 'pnd', s, 'http://dbpedia.org/ontology/individualisedPnd',
                   printf('%09d', n_nationkey), 'http://www.w3.org/2001/XMLSchema#string' FROM nn
            UNION ALL SELECT 'genders', s, 'http://xmlns.com/foaf/0.1/gender', 'male', '{langstr}' FROM nn
            UNION ALL SELECT 'geo_coordinates', s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/2003/01/geo/wgs84_pos#SpatialThing', NULL FROM nn
            UNION ALL SELECT 'geo_coordinates', s, 'http://www.w3.org/2003/01/geo/wgs84_pos#lat',
                   lat, 'http://www.w3.org/2001/XMLSchema#float' FROM nn
            UNION ALL SELECT 'geo_coordinates', s, 'http://www.w3.org/2003/01/geo/wgs84_pos#long',
                   lon, 'http://www.w3.org/2001/XMLSchema#float' FROM nn
            UNION ALL SELECT 'geo_coordinates', s, 'http://www.georss.org/georss/point',
                   lat || ' ' || lon, 'http://www.w3.org/2001/XMLSchema#string' FROM nn
            UNION ALL SELECT 'citation_links', cite, 'http://dbpedia.org/property/isCitedBy', s, NULL FROM nn
            UNION ALL SELECT 'citation_data', cite, 'http://dbpedia.org/property/url', cite, NULL FROM nn
            UNION ALL SELECT 'citation_data', cite, 'http://dbpedia.org/property/title',
                   'Voyage ' || n_nationkey, '{langstr}' FROM nn
            UNION ALL SELECT 'interlanguage_links', s,
                   'http://dbpedia.org/ontology/wikiPageInterLanguageLink',
                   'http://de.dbpedia.org/resource/Explorer_' || n_nationkey, NULL FROM nn
            UNION ALL SELECT 'instance_types', s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Person', NULL FROM nn
            UNION ALL SELECT 'instance_types_transitive', s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://dbpedia.org/ontology/Agent', NULL FROM nn
            UNION ALL SELECT 'instance_types_transitive', s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/2002/07/owl#Thing', NULL FROM nn
            UNION ALL SELECT 'mappingbased_literals', s, 'http://xmlns.com/foaf/0.1/name',
                   ename, '{langstr}' FROM nn
            UNION ALL SELECT 'infobox_properties', s, 'http://dbpedia.org/property/name',
                   n_name || ', Explorer', '{langstr}' FROM nn
            UNION ALL SELECT 'infobox_properties', s, 'http://dbpedia.org/property/shortDescription',
                   'navigator', '{langstr}' FROM nn
            UNION ALL SELECT 'infobox_properties', s, 'http://dbpedia.org/property/dateOfBirth',
                   bdate, 'http://www.w3.org/2001/XMLSchema#date' FROM nn
            UNION ALL SELECT 'infobox_properties', s, 'http://dbpedia.org/property/placeOfBirth',
                   place, NULL FROM nn
            UNION ALL SELECT 'external_links', s,
                   'http://dbpedia.org/ontology/wikiPageExternalLink', cite, NULL FROM nn
            UNION ALL SELECT 'template_parameters',
                   'http://dbpedia.org/resource/Template:Explorer_box_' || n_nationkey,
                   'http://dbpedia.org/property/templateUsesParameter', p,
                   'http://www.w3.org/2001/XMLSchema#string'
            FROM nn, (VALUES ('name'), ('place')) t(p)
            UNION ALL SELECT 'category_labels',
                   'http://dbpedia.org/resource/Category:Explorers_' || n_nationkey,
                   'http://www.w3.org/2000/01/rdf-schema#label',
                   'Explorers ' || n_nationkey, '{langstr}' FROM nn
            UNION ALL SELECT 'skos_categories',
                   'http://dbpedia.org/resource/Category:Explorers_' || n_nationkey,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/2004/02/skos/core#Concept', NULL FROM nn
            UNION ALL SELECT 'skos_categories',
                   'http://dbpedia.org/resource/Category:Explorers_' || n_nationkey,
                   'http://www.w3.org/2004/02/skos/core#prefLabel',
                   'Explorers ' || n_nationkey, '{langstr}' FROM nn
            UNION ALL SELECT 'skos_categories',
                   'http://dbpedia.org/resource/Category:Explorers_' || n_nationkey,
                   'http://www.w3.org/2004/02/skos/core#broader',
                   'http://dbpedia.org/resource/Category:People_' || n_nationkey, NULL FROM nn
            UNION ALL SELECT 'topical_concepts',
                   'http://dbpedia.org/resource/Category:Explorers_' || n_nationkey,
                   'http://dbpedia.org/ontology/mainArticleForCategory', s, NULL FROM nn
            UNION ALL SELECT 'disambiguations',
                   'http://dbpedia.org/resource/Explorer_' || n_nationkey || '_(disambiguation)',
                   'http://dbpedia.org/ontology/wikiPageDisambiguates', s, NULL FROM nn
            )
            SELECT * FROM x
        """,
        "kg_nif_context": f"""
            WITH a AS ({_ARTICLES}),
            p AS (SELECT *,
                    'http://' || l || '.wikipedia.org/wiki/Doc_' || doc_id AS piri,
                    printf('Doc %d is document number %d. See next doc and Doc %d.',
                           doc_id, doc_id, (doc_id+7)%{n})
                      || chr(10) || chr(10) || text AS plain
                  FROM a),
            c AS (SELECT *, piri || '?nif=context' AS ctx FROM p)
            SELECT ctx AS subject,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                   '{_NIF}Context' AS value, NULL AS datatype, l AS language FROM c
            UNION ALL SELECT ctx, '{_NIF}beginIndex', '0', '{_xsd_nni}', l FROM c
            UNION ALL SELECT ctx, '{_NIF}endIndex', CAST(length(plain) AS VARCHAR),
                   '{_xsd_nni}', l FROM c
            UNION ALL SELECT ctx, '{_NIF}isString', plain, '{langstr}', l FROM c
            UNION ALL SELECT ctx, '{_NIF}sourceUrl', piri, NULL, l FROM c
        """,
        "kg_nif_text_links": f"""
            WITH a AS ({_ARTICLES}),
            p AS (SELECT *,
                    'http://' || l || '.wikipedia.org/wiki/Doc_' || doc_id AS piri,
                    printf('Doc %d is document number %d. See next doc and Doc %d.',
                           doc_id, doc_id, (doc_id+7)%{n})
                      || chr(10) || chr(10) || text AS plain
                  FROM a),
            -- offsets are ANALYTIC (the engine computes them at parse time
            -- per occurrence, not by first-occurrence search): each link's
            -- begin = length of the plain text before its anchor
            lk AS (SELECT p.*, piri || '?nif=context' AS ctx, t.anchor, t.target_iri, t.b
                   FROM p, LATERAL (VALUES
                     ('next doc', {rb} || 'Doc_' || ((doc_id+1)%{n}),
                      length(printf('Doc %d is document number %d. See ',
                                    doc_id, doc_id))),
                     ('Doc ' || ((doc_id+7)%{n}), {rb} || 'Doc_' || ((doc_id+7)%{n}),
                      length(printf('Doc %d is document number %d. See next doc and ',
                                    doc_id, doc_id)))
                   ) t(anchor, target_iri, b)),
            m AS (SELECT *, b + length(anchor) AS e FROM lk),
            x AS (SELECT *, piri || '?nif=phrase_' || b || '_' || e AS node FROM m)
            SELECT node AS subject,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                   '{_NIF}Phrase' AS value, NULL AS datatype, l AS language FROM x
            UNION ALL SELECT node, '{_NIF}referenceContext', ctx, NULL, l FROM x
            UNION ALL SELECT node, '{_NIF}beginIndex', CAST(b AS VARCHAR), '{_xsd_nni}', l FROM x
            UNION ALL SELECT node, '{_NIF}endIndex', CAST(e AS VARCHAR), '{_xsd_nni}', l FROM x
            UNION ALL SELECT node, '{_NIF}anchorOf', anchor, '{langstr}', l FROM x
            UNION ALL SELECT node, 'http://www.w3.org/2005/11/its/rdf#taIdentRef',
                   target_iri, NULL, l FROM x
        """,
        "kg_hybrid_infobox": f"""
            -- Infobox-document rules fire for name/chars/published -> those
            -- raw facts relabel to infobox_properties_mapped; the other
            -- four params stay raw (HybridRawAndMappingExtractor analog)
            WITH a AS ({_ARTICLES})
            SELECT 'infobox_properties_mapped' AS dataset, {subj} AS subject,
                   {pb} || 'name' AS predicate, 'Doc ' || doc_id AS value,
                   '{langstr}' AS datatype FROM a
            UNION ALL SELECT 'infobox_properties_mapped', {subj}, {pb} || 'chars',
                   CAST(n_chars AS VARCHAR), '{xsd_int}' FROM a
            UNION ALL SELECT 'infobox_properties_mapped', {subj}, {pb} || 'published',
                   {SQL_PUB_DATE}, 'http://www.w3.org/2001/XMLSchema#date' FROM a
            UNION ALL SELECT 'infobox_properties', {subj}, {pb} || 'source',
                   source, '{langstr}' FROM a
            UNION ALL SELECT 'infobox_properties', {subj}, {pb} || 'homepage',
                   'http://corpus.example.org/doc/' || doc_id, NULL FROM a
            UNION ALL SELECT 'infobox_properties', {subj}, {pb} || 'motto',
                   'Motto ' || doc_id, '{langstr}' FROM a
            UNION ALL SELECT 'infobox_properties', {subj}, {pb} || 'alias',
                   'Doc ' || doc_id || ' alias', '{langstr}' FROM a
        """,
        "kg_nif_sections": f"""
            -- one '== Body ==' section per article (line 13 of the page
            -- template); content span = analytic offsets over plain_text
            WITH a AS ({_ARTICLES}),
            p AS (SELECT *,
                    'http://' || l || '.wikipedia.org/wiki/Doc_' || doc_id AS piri,
                    length(printf('Doc %d is document number %d. See next doc and Doc %d.',
                                  doc_id, doc_id, (doc_id+7)%{n})) AS p1len
                  FROM a),
            s AS (SELECT *, piri || '?nif=context' AS ctx,
                         piri || '?nif=section_13' AS node,
                         p1len + 2 AS b, p1len + 2 + length(text) AS e FROM p)
            SELECT node AS subject,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                   '{_NIF}Section' AS value, CAST(NULL AS VARCHAR) AS datatype FROM s
            UNION ALL SELECT node, '{_NIF}referenceContext', ctx, NULL FROM s
            UNION ALL SELECT ctx, '{_NIF}hasSection', node, NULL FROM s
            UNION ALL SELECT node, '{_NIF}beginIndex', CAST(b AS VARCHAR), '{_xsd_nni}' FROM s
            UNION ALL SELECT node, '{_NIF}endIndex', CAST(e AS VARCHAR), '{_xsd_nni}' FROM s
        """,
        "kg_wikidata_terms": f"""
            WITH c AS (SELECT *, {SQL_WD_SUBJ} AS s FROM customer)
            SELECT 'wikidata_labels' AS dataset, 'en' AS language, s AS subject,
                   'http://www.w3.org/2000/01/rdf-schema#label' AS predicate,
                   c_name AS value, '{langstr}' AS datatype FROM c
            UNION ALL SELECT 'wikidata_labels', 'de', s,
                   'http://www.w3.org/2000/01/rdf-schema#label',
                   'Kunde ' || c_custkey, '{langstr}' FROM c
            UNION ALL SELECT 'wikidata_descriptions', 'en', s,
                   'http://dbpedia.org/ontology/description',
                   c_mktsegment || ' customer', '{langstr}' FROM c
            UNION ALL SELECT 'wikidata_aliases', 'en', s,
                   'http://www.w3.org/2004/02/skos/core#altLabel',
                   'Cust ' || c_custkey, '{langstr}' FROM c
            UNION ALL SELECT 'wikidata_same_as', 'en', s,
                   'http://www.w3.org/2002/07/owl#sameAs',
                   'http://dbpedia.org/resource/Customer_' || c_custkey, NULL FROM c
            UNION ALL SELECT 'wikidata_same_as', 'de', s,
                   'http://www.w3.org/2002/07/owl#sameAs',
                   'http://de.dbpedia.org/resource/Customer_' || c_custkey, NULL FROM c
        """,
        "kg_wikidata_claims": f"""
            WITH c AS (SELECT *, {SQL_WD_SUBJ} AS s,
                       'http://www.wikidata.org/prop/direct/' AS wdp FROM customer)
            SELECT s AS subject, wdp || 'P31' AS predicate,
                   'http://wikidata.dbpedia.org/resource/' || {SQL_WD_CLASS} AS value,
                   NULL AS datatype, 'wikidata' AS language FROM c
            UNION ALL SELECT s, wdp || 'P569', {SQL_WD_BIRTH},
                   'http://www.w3.org/2001/XMLSchema#date', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P571', {SQL_WD_FOUND_Y},
                   'http://www.w3.org/2001/XMLSchema#gYear', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P1082', {SQL_WD_POP},
                   'http://www.w3.org/2001/XMLSchema#decimal', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P1082', {SQL_WD_POP_OLD},
                   'http://www.w3.org/2001/XMLSchema#decimal', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P1448', c_name, '{langstr}', 'en' FROM c
            UNION ALL SELECT s, wdp || 'P856',
                   'http://customer.example.org/' || c_custkey,
                   'http://www.w3.org/2001/XMLSchema#string', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P18', 'Customer ' || c_custkey || '.jpg',
                   'http://www.w3.org/2001/XMLSchema#string', 'wikidata' FROM c
            UNION ALL SELECT s, wdp || 'P625', {SQL_WD_LAT} || ' ' || {SQL_WD_LNG},
                   'http://www.w3.org/2001/XMLSchema#string', 'wikidata' FROM c
        """,
        "kg_wikidata_reified": f"""
            -- statement node = s_P_<Q-id | 'V'+md5(raw datavalue JSON)[:5]>
            -- (WikidataUtil.getStatementUri); raw is Spark's COMPACT
            -- re-serialization of the datavalue, reconstructed here verbatim
            WITH c AS (SELECT *, {SQL_WD_SUBJ} AS s,
                       'http://www.wikidata.org/prop/direct/' AS wdp FROM customer),
            cl AS (SELECT c.*, wdp || t.prop AS p,
                          s || '_' || t.prop || '_' || t.sid AS stmt,
                          t.val, t.dt
                   FROM c, LATERAL (VALUES
                     ('P31', {SQL_WD_CLASS},
                      'http://wikidata.dbpedia.org/resource/' || {SQL_WD_CLASS},
                      CAST(NULL AS VARCHAR)),
                     ('P569', 'V' || substr(md5(printf(
                        '{{"time":"+%04d-%02d-%02dT00:00:00Z","precision":11}}',
                        {SQL_WD_BIRTH_Y}, {SQL_WD_BIRTH_M}, {SQL_WD_BIRTH_D})), 1, 5),
                      {SQL_WD_BIRTH}, 'http://www.w3.org/2001/XMLSchema#date'),
                     ('P571', 'V' || substr(md5(printf(
                        '{{"time":"+%04d-00-00T00:00:00Z","precision":9}}',
                        1800 + c_custkey % 200)), 1, 5),
                      {SQL_WD_FOUND_Y}, 'http://www.w3.org/2001/XMLSchema#gYear'),
                     ('P1082', 'V' || substr(md5(printf(
                        '{{"amount":"+%d","unit":"1"}}', (c_custkey*7) % 10000)), 1, 5),
                      {SQL_WD_POP}, 'http://www.w3.org/2001/XMLSchema#decimal'),
                     ('P1082', 'V' || substr(md5(printf(
                        '{{"amount":"+%d","unit":"1"}}', (c_custkey*3+1) % 10000)), 1, 5),
                      {SQL_WD_POP_OLD}, 'http://www.w3.org/2001/XMLSchema#decimal'),
                     ('P1448', 'V' || substr(md5(
                        '{{"text":"' || c_name || '","language":"en"}}'), 1, 5),
                      c_name, '{langstr}'),
                     ('P856', 'V' || substr(md5(
                        'http://customer.example.org/' || c_custkey), 1, 5),
                      'http://customer.example.org/' || c_custkey,
                      'http://www.w3.org/2001/XMLSchema#string'),
                     ('P18', 'V' || substr(md5(
                        'Customer ' || c_custkey || '.jpg'), 1, 5),
                      'Customer ' || c_custkey || '.jpg',
                      'http://www.w3.org/2001/XMLSchema#string'),
                     ('P625', 'V' || substr(md5(printf(
                        '{{"latitude":%d,"longitude":%d}}',
                        c_custkey % 180 - 90, c_custkey % 360 - 180)), 1, 5),
                      {SQL_WD_LAT} || ' ' || {SQL_WD_LNG},
                      'http://www.w3.org/2001/XMLSchema#string')
                   ) t(prop, sid, val, dt))
            SELECT 'wikidata_raw_reified' AS dataset, stmt AS subject,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#Statement' AS value,
                   CAST(NULL AS VARCHAR) AS datatype FROM cl
            UNION ALL SELECT 'wikidata_raw_reified', stmt,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#subject', s, NULL FROM cl
            UNION ALL SELECT 'wikidata_raw_reified', stmt,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#predicate', p, NULL FROM cl
            UNION ALL SELECT 'wikidata_raw_reified', stmt,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#object', val, dt FROM cl
            UNION ALL SELECT 'wikidata_raw_reified_qualifiers',
                   s || '_P1082_V' || substr(md5(printf(
                     '{{"amount":"+%d","unit":"1"}}', (c_custkey*7) % 10000)), 1, 5),
                   wdp || 'P585', printf('%04d', {SQL_WD_QUAL_Y}),
                   'http://www.w3.org/2001/XMLSchema#gYear' FROM c
        """,
        "kg_wikidata_r2r": f"""
            WITH c AS (SELECT *, {SQL_WD_SUBJ} AS s FROM customer)
            SELECT 'wikidata_instance_types' AS dataset, s AS subject,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
                   CASE c_custkey % 3
                     WHEN 0 THEN 'http://dbpedia.org/ontology/Person'
                     WHEN 1 THEN 'http://dbpedia.org/ontology/City'
                     ELSE 'http://dbpedia.org/ontology/Organisation' END AS value,
                   NULL AS datatype, 'wikidata' AS language FROM c
            UNION ALL SELECT 'wikidata_mappingbased_literals', s,
                   'http://dbpedia.org/ontology/birthDate', {SQL_WD_BIRTH},
                   'http://www.w3.org/2001/XMLSchema#date', 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_mappingbased_literals', s,
                   'http://dbpedia.org/ontology/foundingDate', {SQL_WD_FOUND_Y},
                   'http://www.w3.org/2001/XMLSchema#gYear', 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_mappingbased_literals', s,
                   'http://dbpedia.org/ontology/populationTotal', {SQL_WD_POP},
                   'http://www.w3.org/2001/XMLSchema#decimal', 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_mappingbased_literals', s,
                   'http://xmlns.com/foaf/0.1/name', c_name, '{langstr}', 'en' FROM c
            UNION ALL SELECT 'wikidata_mappingbased_objects', s,
                   'http://xmlns.com/foaf/0.1/homepage',
                   'http://customer.example.org/' || c_custkey, NULL, 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_mappingbased_objects', s,
                   'http://xmlns.com/foaf/0.1/depiction',
                   'http://commons.wikimedia.org/wiki/Special:FilePath/Customer_'
                     || c_custkey || '.jpg', NULL, 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_geo_coordinates', s,
                   'http://www.w3.org/2003/01/geo/wgs84_pos#lat', {SQL_WD_LAT},
                   'http://www.w3.org/2001/XMLSchema#float', 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_geo_coordinates', s,
                   'http://www.w3.org/2003/01/geo/wgs84_pos#long', {SQL_WD_LNG},
                   'http://www.w3.org/2001/XMLSchema#float', 'wikidata' FROM c
            UNION ALL SELECT 'wikidata_geo_coordinates', s,
                   'http://www.georss.org/georss/point',
                   {SQL_WD_LAT} || ' ' || {SQL_WD_LNG},
                   'http://www.w3.org/2001/XMLSchema#string', 'wikidata' FROM c
        """,
        "kg_wikidata_snak_stats": """
            WITH n AS (SELECT count(*) AS n FROM customer)
            SELECT 'value' AS snaktype, 'wikibase-entityid' AS vtype,
                   true AS handled, n AS n_snaks FROM n
            UNION ALL SELECT 'value', 'time', true, 2 * n FROM n
            UNION ALL SELECT 'value', 'quantity', true, 2 * n FROM n
            UNION ALL SELECT 'value', 'monolingualtext', true, n FROM n
            UNION ALL SELECT 'value', 'string', true, 2 * n FROM n
            UNION ALL SELECT 'value', 'globecoordinate', true, n FROM n
            UNION ALL SELECT 'somevalue', NULL, false, n FROM n
        """,
        "kg_wikidata_properties": f"""
            -- WikidataPropertyExtractor over the supplier-derived P-pages:
            -- terms as langStrings + value-mainsnak statements with
            -- canonical wd-entity predicates (getValue/getDatatype typing)
            WITH s AS (SELECT s_suppkey, s_suppkey AS k, s_name,
                              {SQL_WDP_SUBJ} AS subj
                       FROM supplier)
            SELECT 'en' AS language, subj AS subject,
                   'http://www.w3.org/2000/01/rdf-schema#label' AS predicate,
                   'property ' || s_name AS value, '{langstr}' AS datatype FROM s
            UNION ALL SELECT 'de', subj,
                   'http://www.w3.org/2000/01/rdf-schema#label',
                   'Eigenschaft ' || k, '{langstr}' FROM s
            UNION ALL SELECT 'en', subj,
                   'http://dbpedia.org/ontology/description',
                   'tracks ' || s_name, '{langstr}' FROM s
            UNION ALL SELECT 'en', subj, 'http://dbpedia.org/ontology/alias',
                   'p-alias ' || k, '{langstr}' FROM s
            UNION ALL SELECT 'wikidata', subj,
                   'http://www.wikidata.org/entity/P1646',
                   'http://www.wikidata.org/entity/P' || {SQL_WDP_SEE},
                   NULL FROM s
            UNION ALL SELECT 'wikidata', subj,
                   'http://www.wikidata.org/entity/P2302',
                   CAST({SQL_WDP_QTY} AS VARCHAR),
                   'http://www.w3.org/2001/XMLSchema#float' FROM s
            UNION ALL SELECT 'wikidata', subj,
                   'http://www.wikidata.org/entity/P580', {SQL_WDP_DATE},
                   'http://www.w3.org/2001/XMLSchema#date' FROM s
        """,
        "kg_wikidata_references": """
            -- WikidataReferenceExtractor: statement URI =
            -- <subj>_<mainsnak-P>_V<md5(ref raw)[:5]>; URL string values
            -- emit datatype-less (getDatatype: http → null)
            SELECT 'http://wikidata.dbpedia.org/resource/Q' || c_custkey
                     || '_P856_V'
                     || substr(md5('http://ref.example.org/' || c_custkey), 1, 5)
                     AS subject,
                   'http://ref.example.org/' || c_custkey AS value,
                   CAST(NULL AS VARCHAR) AS datatype
            FROM customer
            UNION ALL
            SELECT 'http://wikidata.dbpedia.org/resource/P' || s_suppkey
                     || '_P2302_V'
                     || substr(md5('http://propref.example.org/' || s_suppkey), 1, 5),
                   'http://propref.example.org/' || s_suppkey, NULL
            FROM supplier
        """,
        "kg_wikidata_ns_sameas": """
            SELECT 'http://wikidata.dbpedia.org/resource/Q' || c_custkey AS subject,
                   'http://www.wikidata.org/entity/Q' || c_custkey AS value
            FROM customer
        """,
        "kg_wikidata_lexemes": f"""
            -- WikidataLexemeExtractor over the nation-derived L-pages:
            -- skeleton + lemma/representation/gloss nif:String nodes +
            -- mapped category/language IRIs + commons rewrite + statements
            WITH n AS (SELECT n_nationkey, {SQL_LEX_ID} AS k,
                              {SQL_LEX_IRI} AS lex,
                              {SQL_LEX_IRI} || '-F1' AS form,
                              {SQL_LEX_IRI} || '-S1' AS sense,
                              'http://www.wikidata.org/entity/L' || {SQL_LEX_ID} AS wd
                       FROM nation),
            q(subject, predicate, value, datatype) AS (
              SELECT lex, 'http://www.w3.org/2002/07/owl#sameAs', wd, NULL FROM n
              UNION ALL SELECT lex, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/ns/lemon/ontolex#LexicalEntry', NULL FROM n
              UNION ALL SELECT lex, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://wikiba.se/ontology#Lexeme', NULL FROM n
              -- lemma node
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/lex_' || k || '_word',
                   'http://lex.dbpedia.org/property/lemma', lex, NULL FROM n
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/lex_' || k || '_word',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String',
                   NULL FROM n
              -- lexeme statement P5402 → next lexeme
              UNION ALL SELECT lex, 'http://lex.dbpedia.org/property/P5402',
                   'http://www.wikidata.org/entity/L' || (k + 1), NULL FROM n
              -- mapped category / language
              UNION ALL SELECT lex, 'http://lex.dbpedia.org/property/lexicalcategory',
                   {SQL_LEX_CAT}, NULL FROM n
              UNION ALL SELECT lex, 'http://dbpedia.org/ontology/language',
                   'http://lex.dbpedia.org/English', NULL FROM n
              -- form skeleton
              UNION ALL SELECT lex, 'http://www.w3.org/ns/lemon/ontolex#lexicalForm',
                   form, NULL FROM n
              UNION ALL SELECT form, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/ns/lemon/ontolex#Form', NULL FROM n
              UNION ALL SELECT form, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://wikiba.se/ontology#Form', NULL FROM n
              UNION ALL SELECT form, 'http://www.w3.org/2002/07/owl#sameAs',
                   wd || '-F1', NULL FROM n
              -- representation node
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/lex_' || k || '_words',
                   'http://lex.dbpedia.org/property/form', form, NULL FROM n
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/lex_' || k || '_words',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String',
                   NULL FROM n
              UNION ALL SELECT form, 'http://lex.dbpedia.org/property/grammaticalFeature',
                   'http://www.wikidata.org/entity/Q110786', NULL FROM n
              UNION ALL SELECT form, 'http://lex.dbpedia.org/property/P898',
                   '/lex' || k || '/', 'http://www.w3.org/2001/XMLSchema#string' FROM n
              -- sense skeleton
              UNION ALL SELECT lex, 'http://www.w3.org/ns/lemon/ontolex#sense',
                   sense, NULL FROM n
              UNION ALL SELECT sense, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://www.w3.org/ns/lemon/ontolex#LexicalSense', NULL FROM n
              UNION ALL SELECT sense, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://wikiba.se/ontology#Sense', NULL FROM n
              UNION ALL SELECT sense, 'http://www.w3.org/2002/07/owl#sameAs',
                   wd || '-S1', NULL FROM n
              -- gloss nodes (en + de)
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/gloss_' || k,
                   'http://lex.dbpedia.org/property/lexicalSense', sense, NULL FROM n
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/gloss_' || k,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String',
                   NULL FROM n
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/Glosse_' || k,
                   'http://lex.dbpedia.org/property/lexicalSense', sense, NULL FROM n
              UNION ALL SELECT 'http://lex.dbpedia.org/resource/Glosse_' || k,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#String',
                   NULL FROM n
              -- commons-file statement on the sense
              UNION ALL SELECT sense, 'http://lex.dbpedia.org/property/P18',
                   'http://commons.wikimedia.org/wiki/File:Lex_image_' || k || '.jpg',
                   NULL FROM n
            )
            SELECT subject, predicate, value, CAST(datatype AS VARCHAR) AS datatype
            FROM q
        """,
        "kg_wikidata_site_links": """
            -- ProcessWikidataLinks: per-item language URIs + the Wikidata
            -- URI, every ordered cross-language pair as owl:sameAs with
            -- the Wikidata page URL as context
            WITH l AS (
              SELECT c_custkey AS item_id, s.site, s.pos,
                     'customer ' || c_name AS title
              FROM customer,
                   (VALUES ('enwiki', 0), ('dewiki', 1), ('frwiki', 2),
                           ('eswiki', 3), ('itwiki', 4)) s(site, pos)
              WHERE (c_custkey + s.pos) % 3 <> 0),
            enc AS (
              SELECT item_id,
                     replace(regexp_replace(site, 'wiki$', ''), '_', '-') AS lang,
                     replace(upper(substr(t, 1, 1)) || substr(t, 2), '#', '%23')
                       AS enc_title
              FROM (SELECT item_id, site,
                           regexp_replace(trim(title), ' +', '_', 'g') AS t
                    FROM l)),
            uris AS (
              SELECT item_id, lang,
                     CASE WHEN lang = 'en' THEN 'http://dbpedia.org/resource/'
                          ELSE 'http://' || lang || '.dbpedia.org/resource/'
                     END || enc_title AS uri
              FROM enc
              UNION ALL
              SELECT DISTINCT item_id, 'wikidata',
                     'http://wikidata.dbpedia.org/resource/Q' || item_id
              FROM l)
            SELECT a.lang AS language,
                   'interlanguage_links_same_as' AS dataset,
                   a.uri AS subject,
                   'http://www.w3.org/2002/07/owl#sameAs' AS predicate,
                   b.uri AS value,
                   'http://wikidata.dbpedia.org/wiki/Q' || a.item_id AS context,
                   CAST(NULL AS VARCHAR) AS datatype
            FROM uris a JOIN uris b
              ON a.item_id = b.item_id AND a.lang <> b.lang
        """,
        "kg_sd_types": _sd_types_oracle_sql(),
        "kg_pagerank": _pagerank_oracle_sql(),
        "kg_infobox_mapping_tuples": f"""
            WITH p AS (SELECT p_partkey AS k,
                              {SQL_IBM_SUBJ} AS s,
                              'P' || {SQL_IBM_WEBSITE_P} AS pw,
                              'P' || {SQL_IBM_MASS_P} AS pm,
                              'P' || {SQL_IBM_INVOKE_P} AS pi
                       FROM part)
            SELECT s AS subject, 'Infobox part' AS template, 'website' AS param,
                   pw AS prop, 'conditional' AS kind FROM p
            UNION ALL SELECT s, 'Infobox part', 'mass_kg', pm, 'conditional' FROM p
            UNION ALL SELECT s, 'Infobox part', 'mast', 'P2043', 'conditional' FROM p
            UNION ALL SELECT s, 'Infobox part', 'operator', pi, 'invoke' FROM p
            UNION ALL SELECT s, 'Infobox part', '?', pw, 'incomplete' FROM p
            UNION ALL SELECT s, 'Infobox part', '?', pm, 'incomplete' FROM p
            UNION ALL SELECT s, 'Infobox part', '?', 'P2043', 'incomplete' FROM p
            UNION ALL SELECT s, 'Infobox part', '?', pi, 'incomplete' FROM p
        """,
        "kg_wikidata_subclass": """
            WITH RECURSIVE
            o AS (SELECT o_orderkey + 1 AS q FROM orders),
            edges AS (
              SELECT q AS sub, q // 2 AS sup FROM o WHERE q > 1
              UNION ALL
              SELECT q, q // 3 FROM o WHERE q % 7 = 0
            ),
            seeds(node, cls, phase) AS (VALUES
              (1, 'http://www.w3.org/2002/07/owl#Thing', 0),
              (2, 'http://dbpedia.org/ontology/Agent', 1),
              (5, 'http://dbpedia.org/ontology/Place', 1),
              (11, 'http://dbpedia.org/ontology/Person', 2)),
            r(node, cls, phase, hop) AS (
              SELECT e.sub, s.cls, s.phase, 1
              FROM edges e JOIN seeds s ON e.sup = s.node
              WHERE e.sub NOT IN (SELECT node FROM seeds)
              UNION ALL
              SELECT e.sub, r.cls, r.phase, r.hop + 1
              FROM r JOIN edges e ON e.sup = r.node
              WHERE e.sub NOT IN (SELECT node FROM seeds)
            ),
            best AS (
              SELECT node, cls FROM (
                SELECT node, cls,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY phase, hop, cls) AS rk
                FROM r) WHERE rk = 1
            )
            SELECT 'Q' || node AS qid, cls AS value FROM best
            WHERE cls <> 'http://www.w3.org/2002/07/owl#Thing'
        """,
        "kg_infobox_mappings": f"""
            WITH p AS (SELECT p_partkey,
                              {SQL_IBM_SUBJ} AS s,
                              'http://en.wikipedia.org/wiki/Part_box_' || p_partkey AS ctx
                       FROM part)
            SELECT 'template_mappings_hints' AS dataset, s AS subject,
                   '{{{{#property:P' || {SQL_IBM_WEBSITE_P} || '}}}}' AS value, ctx AS context FROM p
            UNION ALL SELECT 'template_mappings_hints', s,
                   '{{{{#property:P' || {SQL_IBM_MASS_P} || '}}}}', ctx FROM p
            UNION ALL SELECT 'template_mappings_hints', s,
                   '{{{{#property:P2043}}}}', ctx FROM p
            UNION ALL SELECT 'template_mappings_hints', s,
                   '{{{{#invoke:Wikidata|getValue|P' || {SQL_IBM_INVOKE_P} || '|FETCH_WIKIDATA}}}}',
                   ctx FROM p
            UNION ALL SELECT 'template_mappings_hints', s,
                   '{{{{Wikidatacheck|p=' || {SQL_IBM_CHECK_P} || '}}}}', ctx FROM p
            UNION ALL SELECT 'template_mappings', s, 'mast=>P2043', ctx FROM p
        """,
        # relational
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q2_revenue_by_segment": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q3_region_stats": """
            SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "q4_top_order_per_customer": """
            SELECT o_custkey, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn = 1
        """,
        "q5_customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q6_distinct_flags": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "q7_part_closure": """
            WITH RECURSIVE walk AS (
              SELECT p_partkey AS src, p_partkey // 2 AS cur FROM part WHERE p_partkey % 2 = 0 AND p_partkey >= 2
              UNION ALL
              SELECT src, cur // 2 FROM walk WHERE cur % 2 = 0
            )
            SELECT CAST(src AS BIGINT) AS src, CAST(cur AS BIGINT) AS dst
            FROM walk WHERE cur % 2 = 1
        """,
        "q8_event_hourly": """
            SELECT event_type, CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # training-data ops
        "q9_salted_flag_stats": """
            SELECT l_returnflag, count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(max(l_extendedprice), 2) AS max_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "q10_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              SELECT user_id, value,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM s GROUP BY user_id, session_id
        """,
        "q11_rollup": """
            SELECT r_name, n_name, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "q12_asof_join": """
            WITH s AS (SELECT user_id, ts, MAX(event_id) AS signup_event_id
                       FROM events
                       WHERE event_type = 'signup' AND user_id IS NOT NULL
                       GROUP BY 1, 2),
            p AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'purchase' AND user_id IS NOT NULL)
            SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts,
                   CAST(s.ts AS VARCHAR) AS signup_ts, s.signup_event_id
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND p.ts >= s.ts
        """,
        "q13_range_join": """
            WITH e AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'error'),
            p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
            SELECT e.event_id, e.user_id, COUNT(p.ts) AS n_recent_purchases
            FROM e LEFT JOIN p
              ON e.user_id = p.user_id
             AND p.ts >= e.ts - INTERVAL 1 HOUR AND p.ts < e.ts
            GROUP BY 1, 2
        """,
        "q14_percentiles": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50,
                   ROUND(quantile_cont(value, 0.95), 4) AS p95,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "dedup_exact": """
            SELECT md5(text) AS doc_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
            FROM documents
        """,
        "token_stats": """
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   len(list_distinct(string_split(trim(text), ' '))) AS n_distinct,
                   round(CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
                         / len(string_split(trim(text), ' ')), 4) AS ttr
            FROM documents
        """,
        "lang_id": """
            WITH c AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '), x -> x = 'the')) AS the_c,
                     len(list_filter(string_split(text, ' '), x -> x = 'der')) AS der_c,
                     len(list_filter(string_split(text, ' '), x -> x = 'le')) AS le_c
              FROM documents)
            SELECT doc_id, the_c, der_c, le_c,
                   CASE WHEN the_c >= der_c AND the_c >= le_c THEN 'en'
                        WHEN der_c >= le_c THEN 'de' ELSE 'fr' END AS pred_lang
            FROM c
        """,
        "quality_score": """
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   n_chars >= 150 AND
                   CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE)
                       / len(string_split(trim(text), ' ')) >= 0.3 AS keep
            FROM documents
        """,
        "minhash_signatures": """
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(trim(text),' ')) - 2, 0)),
                       i -> string_split(trim(text),' ')[i] || ' ' ||
                            string_split(trim(text),' ')[i+1] || ' ' ||
                            string_split(trim(text),' ')[i+2])) AS sh
              FROM documents)
            SELECT doc_id,
                   list_min(list_transform(sh, x -> md5('1:' || x))) AS h1,
                   list_min(list_transform(sh, x -> md5('2:' || x))) AS h2,
                   list_min(list_transform(sh, x -> md5('3:' || x))) AS h3,
                   list_min(list_transform(sh, x -> md5('4:' || x))) AS h4
            FROM s
        """,
        "near_dup_pairs": f"""
            WITH {_SQL_NEARDUP_CTE}
            SELECT doc_a, doc_b FROM nd_pairs
        """,
        "tfidf_top_terms": """
            WITH tf AS (
              SELECT doc_id, word, count(*) AS tf
              FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
                    FROM documents)
              WHERE word <> '' GROUP BY 1, 2),
            df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            s AS (SELECT doc_id, tf.word,
                         tf::DOUBLE * ln(n_docs / df) AS tfidf,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tf::DOUBLE * ln(n_docs / df) DESC,
                                                     tf.word) AS rnk
                  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
            SELECT doc_id, CAST(rnk AS INT) AS rnk, word, round(tfidf, 6) AS tfidf
            FROM s WHERE rnk <= 3
        """,
        "quality_repetition": """
            WITH wc AS (
              SELECT doc_id, word, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
                    FROM documents)
              GROUP BY 1, 2),
            twf AS (SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS twf FROM wc GROUP BY 1),
            arr AS (
              SELECT doc_id,
                     string_split(trim(text), ' ') AS ws,
                     string_split(text, chr(10)) AS ls
              FROM documents),
            g AS (
              SELECT doc_id, ls,
                     list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                                    i -> ws[i] || ' ' || ws[i + 1]) AS gs
              FROM arr)
            SELECT g.doc_id,
                   ROUND(twf.twf, 6) AS top_word_frac,
                   ROUND(CASE WHEN len(gs) > 0
                         THEN 1 - len(list_distinct(gs))::DOUBLE / len(gs)
                         ELSE 0 END, 6) AS dup_2gram_frac,
                   ROUND(1 - len(list_distinct(ls))::DOUBLE / len(ls), 6) AS dup_line_frac
            FROM g JOIN twf ON g.doc_id = twf.doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_SQL_NEARDUP_CTE},
            und AS (SELECT doc_a AS u, doc_b AS v FROM nd_pairs
                    UNION ALL SELECT doc_b, doc_a FROM nd_pairs),
            reach(n, m) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.n, e.v FROM reach r JOIN und e ON e.u = r.m
            )
            SELECT n AS doc_id, MIN(m) AS cluster_id,
                   (MIN(m) = n) AS is_canonical
            FROM reach GROUP BY n
        """,
        "simhash": """
            WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word FROM documents),
            bits AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN substr(md5(word), b, 1) >= '8' THEN 1 ELSE -1 END) AS s
              FROM w, generate_series(1, 16) t(b)
              GROUP BY doc_id, b)
            SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN 1 << (b - 1) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "embedding_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
            p AS (SELECT qid, e.vec_id AS neighbor_id,
                         list_cosine_similarity(qemb, emb) AS sim
                  FROM q, e WHERE e.vec_id <> qid),
            r AS (SELECT qid, neighbor_id,
                         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM p)
            SELECT qid AS vec_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
        """,
        "ann_bucketed_topk": """BUCKET_CTE_PLACEHOLDER
            , q AS (SELECT vec_id AS qid, emb AS qemb, bucket AS qb FROM e WHERE vec_id < 20),
            p AS (SELECT qid, e.vec_id AS neighbor_id,
                         list_cosine_similarity(qemb, emb) AS sim
                  FROM q JOIN e ON q.qb = e.bucket AND e.vec_id <> q.qid),
            r AS (SELECT qid, neighbor_id,
                         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM p)
            SELECT qid AS vec_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
        """.replace("BUCKET_CTE_PLACEHOLDER", _BUCKET_CTE),
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 16),
            asg AS (SELECT e.vec_id, e.emb, c.cent_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cent_id) AS r
                    FROM e, c),
            cell AS (SELECT vec_id, emb, cent_id AS cell FROM asg WHERE r = 1),
            q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 20),
            probe AS (SELECT q.qid, q.qemb, c.cent_id AS cell,
                             row_number() OVER (PARTITION BY q.qid
                                 ORDER BY list_cosine_similarity(q.qemb, c.cemb) DESC, c.cent_id) AS r
                      FROM q, c),
            p AS (SELECT pr.qid, cell.vec_id AS neighbor_id,
                         list_cosine_similarity(pr.qemb, cell.emb) AS sim
                  FROM probe pr JOIN cell ON pr.cell = cell.cell
                  WHERE pr.r <= 2 AND cell.vec_id <> pr.qid),
            r AS (SELECT qid, neighbor_id,
                         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM p)
            SELECT qid AS vec_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 3
        """,
        "near_dup_embeddings": """BUCKET_CTE_PLACEHOLDER
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.42
        """.replace("BUCKET_CTE_PLACEHOLDER", _BUCKET_CTE),
        "near_dup_jaccard": f"""
            WITH {_SQL_NEARDUP_CTE}
            SELECT p.doc_a, p.doc_b,
                   round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sl, b.sl))), 4) AS jaccard
            FROM nd_pairs p JOIN s a ON a.doc_id = p.doc_a
                            JOIN s b ON b.doc_id = p.doc_b
            WHERE round(CAST(len(list_intersect(a.sl, b.sl)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sl, b.sl))), 4) >= 0.8
        """,
        "ann_lsh_buckets": """
            WITH x AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
                     generate_subscripts(embedding, 1) - 1 AS i
              FROM embeddings),
            proj AS (
              SELECT vec_id, b,
                     SUM(v * CASE WHEN (i * (b + 3)) % 7 < 3 THEN 1.0 ELSE -1.0 END) AS p
              FROM x, generate_series(0, 5) t(b)
              GROUP BY vec_id, b)
            SELECT vec_id, CAST(SUM(CASE WHEN p > 0 THEN 1 << b ELSE 0 END) AS INT) AS bucket
            FROM proj GROUP BY vec_id
        """,
        "pii_scrub": f"""
            WITH a AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                     '@mail' || CAST(doc_id % 7 AS VARCHAR) ||
                     '.example.com ip ' || CAST(doc_id % 223 + 1 AS VARCHAR) ||
                     '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
                     '.0.' || CAST((doc_id * 13) % 256 AS VARCHAR) ||
                     ' call 555-' ||
                     lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0') AS aug
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS n_emails,
                   len(regexp_extract_all(aug, '{_PII_IP}')) AS n_ips,
                   len(regexp_extract_all(aug, '{_PII_PHONE}')) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                       aug, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_IP}', '<IP>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_md5
            FROM a
        """,
        "contamination_ngrams": """
            WITH s AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(trim(text),' ')) - 2, 0)),
                       i -> string_split(trim(text),' ')[i] || ' ' ||
                            string_split(trim(text),' ')[i+1] || ' ' ||
                            string_split(trim(text),' ')[i+2])) AS sh
              FROM documents),
            bench AS (
              SELECT DISTINCT unnest(sh) AS shingle, 1 AS hit
              FROM s WHERE doc_id % 97 = 0),
            cand AS (
              SELECT doc_id, unnest(sh) AS shingle
              FROM s WHERE doc_id % 97 <> 0),
            agg AS (
              SELECT c.doc_id,
                     count(*) AS n_shingles,
                     CAST(sum(coalesce(b.hit, 0)) AS BIGINT) AS n_contaminated
              FROM cand c LEFT JOIN bench b ON c.shingle = b.shingle
              GROUP BY c.doc_id)
            SELECT doc_id, n_shingles, n_contaminated,
                   round(CAST(n_contaminated AS DOUBLE) / n_shingles, 4)
                       AS contaminated_frac,
                   round(CAST(n_contaminated AS DOUBLE) / n_shingles, 4) >= 0.2
                       AS flagged
            FROM agg
        """,
        "stratified_sample": """
            SELECT lang, source,
                   count(*) AS n_total,
                   CAST(sum(CASE WHEN (doc_id * 2654435761) % 1000 <
                            CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 250
                                      WHEN 'fr' THEN 200 WHEN 'es' THEN 150
                                      WHEN 'zh' THEN 100 ELSE 50 END
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
            FROM documents GROUP BY lang, source
        """,
        "doc_length_hist": """
            SELECT CAST(length(bin(n_chars)) AS INT) AS len_bucket,
                   count(*) AS n_docs,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(avg(n_chars), 2) AS avg_chars
            FROM documents GROUP BY 1
        """,
        "paragraph_dedup": f"""
            -- three word-window chunks + planted boilerplate on doc_id%7;
            -- a paragraph in >=2 distinct docs is dropped everywhere
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN list_concat(cs, ['{_BOILERPLATE}'])
                          ELSE cs END AS paras
              FROM (SELECT doc_id,
                           list_filter(
                             [coalesce(array_to_string(w[1:10], ' '), ''),
                              coalesce(array_to_string(w[11:20], ' '), ''),
                              coalesce(array_to_string(w[21:], ' '), '')],
                             c -> c <> '') AS cs
                    FROM (SELECT doc_id, string_split(text, ' ') AS w
                          FROM documents))),
            p AS (SELECT doc_id, generate_subscripts(paras, 1) AS pidx,
                         unnest(paras) AS ptext
                  FROM base),
            dup AS (SELECT md5(ptext) AS phash FROM p
                    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
            SELECT p.doc_id, count(*) AS n_paragraphs,
                   count(dup.phash) AS n_dropped,
                   md5(coalesce(string_agg(
                       CASE WHEN dup.phash IS NULL THEN p.ptext END,
                       chr(10) ORDER BY p.pidx), '')) AS clean_md5
            FROM p LEFT JOIN dup ON md5(p.ptext) = dup.phash
            GROUP BY p.doc_id
        """,
        "c4_line_filter": """
            -- C4 line heuristics over deterministically planted lines:
            -- terminal punctuation, >=5 words, no braces, no lorem ipsum
            WITH base AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            built AS (
              SELECT doc_id,
                     list_concat(
                       list_concat(
                         list_concat(
                           [array_to_string(w[1:8], ' ') || '.'],
                           CASE WHEN doc_id % 11 = 0
                                THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
                         CASE WHEN doc_id % 5 = 0
                              THEN ['function f() { return 1; }'] ELSE [] END),
                       [array_to_string(w[9:11], ' '),
                        array_to_string(w[12:], ' ') || '.']) AS lines
              FROM base),
            k AS (
              SELECT doc_id, lines,
                     list_filter(lines, ln ->
                       regexp_matches(ln, '[.!?"]$')
                       AND len(string_split(ln, ' ')) >= 5
                       AND NOT contains(ln, '{')
                       AND NOT contains(ln, 'lorem ipsum')) AS kept
              FROM built)
            SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
                   len(kept) >= 2 AS kept_doc,
                   md5(array_to_string(kept, chr(10))) AS kept_md5
            FROM k
        """,
        "substring_dedup": f"""
            -- sliding 13-word windows, stride 5, over text with the planted
            -- license span prepended on doc_id%13 pages; a window hash in
            -- >=2 distinct docs is a duplicated span
            WITH base AS (
              SELECT doc_id,
                     string_split(CASE WHEN doc_id % 13 = 0
                                       THEN '{_LICENSE_SPAN} ' || text
                                       ELSE text END, ' ') AS w
              FROM documents),
            win AS (
              SELECT doc_id,
                     md5(array_to_string(w[s:s+12], ' ')) AS whash
              FROM base,
                   LATERAL unnest(range(1, greatest(len(w) - 12, 1) + 1, 5)) t(s)),
            dup AS (SELECT whash FROM win GROUP BY 1
                    HAVING count(DISTINCT doc_id) >= 2)
            SELECT win.doc_id, count(*) AS n_windows,
                   count(dup.whash) AS n_dup_windows,
                   round(CAST(count(dup.whash) AS DOUBLE) / count(*), 4) AS dup_frac
            FROM win LEFT JOIN dup ON win.whash = dup.whash
            GROUP BY win.doc_id
        """,
        "semdedup": """
            -- SemDeDup: min-id representative per within-cell
            -- epsilon-neighborhood; cells = the ann_ivf_topk codebook
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            c AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < 16),
            asg AS (SELECT e.vec_id, e.emb, c.cent_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cent_id) AS r
                    FROM e, c),
            cell AS (SELECT vec_id, emb, cent_id AS cell FROM asg WHERE r = 1),
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM cell a JOIN cell b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.40)
            SELECT cell.vec_id, CAST(cell.cell AS INT) AS cell,
                   dropped.vec_id IS NULL AS kept
            FROM cell LEFT JOIN dropped ON cell.vec_id = dropped.vec_id
        """,
        "seq_pack": f"""
            -- greedy first-fit sequence packing, sequential per bucket:
            -- the recursive CTE replays the engine's per-bucket fold
            WITH RECURSIVE dd AS (
              SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
                     least(len(string_split(text, ' ')), {_PACK_CAP}) AS n_tok,
                     row_number() OVER (PARTITION BY doc_id % {_PACK_BUCKETS}
                                        ORDER BY doc_id) AS rn
              FROM documents),
            r AS (
              SELECT bucket, rn, doc_id, n_tok,
                     CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS seq_off
              FROM dd WHERE rn = 1
              UNION ALL
              SELECT dd.bucket, dd.rn, dd.doc_id, dd.n_tok,
                     CASE WHEN r.seq_off + r.n_tok + dd.n_tok > {_PACK_CAP}
                          THEN r.pack_id + 1 ELSE r.pack_id END,
                     CASE WHEN r.seq_off + r.n_tok + dd.n_tok > {_PACK_CAP}
                          THEN 0 ELSE r.seq_off + r.n_tok END
              FROM r JOIN dd ON dd.bucket = r.bucket AND dd.rn = r.rn + 1)
            SELECT doc_id, bucket, pack_id, seq_off,
                   CAST(n_tok AS BIGINT) AS n_tok
            FROM r
        """,
        "dsir_weights": f"""
            -- DSIR hashed-unigram importance weights: target = lang 'en',
            -- raw = whole corpus, add-1 smoothing, {_DSIR_NB} hash buckets
            WITH w AS (
              SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM documents),
            b AS (
              SELECT doc_id, lang,
                     ((strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 16
                      + strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1)
                     % {_DSIR_NB} AS b
              FROM w),
            stats AS (
              SELECT b, count(*) AS r_b,
                     sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_b
              FROM b GROUP BY b),
            tot AS (
              SELECT ln(sum(r_b) + {_DSIR_NB}) - ln(sum(t_b) + {_DSIR_NB}) AS norm
              FROM stats),
            sc AS (
              SELECT doc_id, count(*) AS n_words,
                     sum(ln(t_b + 1.0) - ln(r_b + 1.0)) AS s
              FROM b JOIN stats USING (b) GROUP BY doc_id)
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                   round(s + n_words * norm, 4) AS log_weight,
                   round(s + n_words * norm, 4) > 0 AS kept
            FROM sc, tot
        """,
        "top_ngrams": """
            -- corpus top-50 bigrams, deterministic tie-break
            WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
            bg AS (
              SELECT w[s] || ' ' || w[s+1] AS ngram
              FROM w, LATERAL unnest(range(1, len(w))) t(s))
            SELECT ngram, count(*) AS n FROM bg
            GROUP BY ngram ORDER BY n DESC, ngram LIMIT 50
        """,
        "corpus_shuffle": f"""
            -- deterministic epoch permutation: shard = first md5 byte of
            -- the doc id, position = md5 rank within the shard
            WITH h AS (
              SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                     ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                      + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                     % {_SHUF_SHARDS} AS shard
              FROM documents)
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
            FROM h
        """,
        "domain_mixture": f"""
            -- temperature-scaled domain mixture: weight ∝ n_tokens^{_MIX_ALPHA},
            -- epochs = weight / corpus share
            WITH dom AS (
              SELECT lang, source, count(*) AS n_docs,
                     sum(len(string_split(text, ' '))) AS n_tokens
              FROM documents GROUP BY lang, source)
            SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(pow(n_tokens, {_MIX_ALPHA})
                         / sum(pow(n_tokens, {_MIX_ALPHA})) OVER (), 6) AS weight,
                   round((pow(n_tokens, {_MIX_ALPHA})
                          / sum(pow(n_tokens, {_MIX_ALPHA})) OVER ())
                         / (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()), 4)
                     AS epochs
            FROM dom
        """,
        "ccnet_perplexity": f"""
            -- CCNet head/middle/tail terciles: hashed-unigram LM fit on
            -- lang='en', add-1 smoothing, {_CCNET_NB} buckets; per-lang
            -- tercile cutoffs on the rounded mean NLL
            WITH w AS (
              SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
              FROM documents),
            b AS (
              SELECT doc_id, lang,
                     (((strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1)
                     % {_CCNET_NB}) AS b
              FROM w),
            stats AS (
              SELECT b, count(*) AS t_b FROM b WHERE lang = 'en' GROUP BY b),
            tot AS (SELECT sum(t_b) AS t_total FROM stats),
            sc AS (
              SELECT b.doc_id, b.lang,
                     round(-sum(ln(coalesce(s.t_b, 0) + 1.0)
                                - ln(t_total + {_CCNET_NB}.0)) / count(*), 4) AS nll
              FROM b LEFT JOIN stats s USING (b), tot
              GROUP BY b.doc_id, b.lang),
            cuts AS (
              SELECT lang,
                     round(quantile_cont(nll, 0.3333333333333333), 4) AS c1,
                     round(quantile_cont(nll, 0.6666666666666666), 4) AS c2
              FROM sc GROUP BY lang)
            SELECT doc_id, sc.lang, nll,
                   CASE WHEN nll <= c1 THEN 'head'
                        WHEN nll <= c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc JOIN cuts ON sc.lang = cuts.lang
        """,
        "quality_classifier": f"""
            -- NB quality filter: target-domain (lang='{_QC_TARGET_LANG}')
            -- vs rest, add-1 smoothing over {_CCNET_NB} hashed-unigram
            -- buckets, length-normalized log-odds + doc-count prior;
            -- pred_target = argmax posterior, kept = top-60% score cut
            WITH w AS (
              SELECT doc_id,
                     lang = '{_QC_TARGET_LANG}' AS pos,
                     unnest(string_split(text, ' ')) AS word
              FROM documents),
            b AS (
              SELECT doc_id, pos,
                     (((strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substr(md5(word), 2, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(word), 3, 1)) - 1)
                     % {_CCNET_NB}) AS b
              FROM w),
            stats AS (
              SELECT b,
                     sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
                     sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c_neg
              FROM b GROUP BY b),
            tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg FROM stats),
            pri AS (
              SELECT sum(CASE WHEN lang = '{_QC_TARGET_LANG}' THEN 1 ELSE 0 END) AS n_pos,
                     sum(CASE WHEN lang <> '{_QC_TARGET_LANG}' THEN 1 ELSE 0 END) AS n_neg
              FROM documents),
            sc AS (
              SELECT b.doc_id, bool_or(b.pos) AS is_target,
                     sum(ln(coalesce(s.c_pos, 0) + 1.0) - ln(t_pos + {_CCNET_NB}.0)
                         - ln(coalesce(s.c_neg, 0) + 1.0) + ln(t_neg + {_CCNET_NB}.0))
                       / count(*) AS mean_llr
              FROM b LEFT JOIN stats s USING (b), tot
              GROUP BY b.doc_id),
            fin AS (
              SELECT doc_id, is_target,
                     round(mean_llr + ln(n_pos + 1.0) - ln(n_neg + 1.0), 4) AS log_odds
              FROM sc, pri),
            cut AS (
              SELECT round(quantile_cont(log_odds, {1.0 - _QC_KEEP_RATE!r}), 4) AS c
              FROM fin)
            SELECT doc_id, is_target, log_odds,
                   log_odds > 0 AS pred_target,
                   log_odds >= c AS kept
            FROM fin, cut
        """,
        "budget_select": f"""
            -- greedy budgeted selection: TTR-scored docs, (score DESC,
            -- doc_id) order, selected while the running token total fits
            -- the {_BUDGET_FRAC} * corpus-tokens budget (exact window
            -- replay of the engine's bucketed threshold search)
            WITH w AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            t AS (
              SELECT doc_id, count(*) AS n_tokens,
                     round(count(DISTINCT word) * 1.0 / count(*), 6) AS score
              FROM w WHERE word <> '' GROUP BY doc_id),
            b AS (SELECT CAST(floor(sum(n_tokens) * {_BUDGET_FRAC}) AS BIGINT)
                    AS budget FROM t),
            o AS (
              SELECT doc_id, n_tokens, score,
                     sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                         ROWS UNBOUNDED PRECEDING) AS cum
              FROM t)
            SELECT doc_id, n_tokens, score, cum <= budget AS selected
            FROM o, b
        """,
    }
