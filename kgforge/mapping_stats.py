"""Mappings-wiki template statistics — the reference server's statistics
pages as one DataFrame aggregation.

Re-expresses ``server/src/main/scala/.../stats/MappingStats.scala`` +
``MappingStatsBuilder.scala`` (and the ``TemplateStatistics.scala`` /
``PropertyStatistics.scala`` resources that render them): per template,
how many pages use it, which of its properties are mapped, and how often
each property is actually set in articles — the numbers mapping editors
use to prioritize what to map next.

Divergences (documented):
- The reference reconstructs these counts by re-reading three extractor
  dump files (wikiPageUsesTemplate quads, templateUsesParameter quads,
  infobox-property quads — CreateMappingStats.scala:99-184). The engine
  computes them straight from the shared parse cache in one pass: the
  template-occurrence array already carries every parameter with its
  value, so no dump round-trip exists to replay.
- The property "definition" universe is the set of parameters observed
  in article usage (the builder only counts a usage when the property
  already appeared in its definitions map, and marks mapped-but-never-
  used properties with InvalidTarget — MappingStats.scala:14-17; with
  usage-derived definitions those semantics collapse to the same
  counts: `mapped_property_not_used` below IS the InvalidTarget set).
- No IgnoreList (an operator-maintained exclusion file); filtering a
  property out is a WHERE on the result.

Scale shape: ONE explode over root templates feeds two map-side-
combinable aggregations (per-template page count via partial distinct,
per-(template, property) use count); the mapping rules join in as a
broadcast (the rule table is mappings-wiki-sized, thousands of rows);
the final per-template rollup is again key-partitioned. No window, no
driver loop, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .namespaces import MAIN


def mapped_template_properties(tm) -> set[str]:
    """Every templateProperty a TemplateMapping's rules reference — the
    'mapped' property set of MappingStatsHolder (union over simple,
    interval, combine-date, calculate, geo, conditional and intermediate
    rules)."""
    props: set[str] = set()
    for r in tm.rules:
        props.add(r.template_property)
    for iv in tm.intervals:
        props.add(iv.template_property)
    for cd in tm.combine_dates:
        props.update(cd.template_properties.keys())
    for ca in tm.calculates:
        props.add(ca.template_property_1)
        props.add(ca.template_property_2)
    for g in tm.geo:
        for p in (g.coordinates, g.latitude, g.longitude):
            if p:
                props.add(p)
    for c in tm.conditions:
        if c.template_property:
            props.add(c.template_property)
    for im in tm.intermediates:
        for r in im.rules:
            props.add(r.template_property)
    return {p.lower() for p in props if p}


def template_statistics(
    parsed: DataFrame,
    mappings: dict | None = None,
    template_redirects: dict[str, str] | None = None,
) -> DataFrame:
    """parsed pages → one row per root template used in Main-ns articles:

    template, template_count (pages using it, once per page — the
    wikiPageUsesTemplate universe of countTemplates), is_mapped,
    property_count / mapped_property_count (distinct observed
    properties), property_use_count / mapped_property_use_count
    (per-occurrence, non-empty values only — countProperties semantics),
    mapped_property_not_used (mapped in the rules, never set in any
    article — the InvalidTarget set), mapped_ratio, mapped_use_ratio
    (MappingStats.scala:44-53)."""
    from .mapping_engine import default_mappings

    mp = mappings or default_mappings()
    tred = {k.lower(): v.lower() for k, v in (template_redirects or {}).items()}

    spark = parsed.sparkSession
    rule_rows = [
        (name, prop)
        for name, tm in mp.items()
        for prop in sorted(mapped_template_properties(tm))
    ] or [("", "")]
    rules = F.broadcast(
        spark.createDataFrame(rule_rows, "template STRING, prop STRING")
        .filter(F.col("template") != "")
    )
    mapped_templates = F.broadcast(
        spark.createDataFrame([(n,) for n in mp] or [("",)], "template STRING")
        .filter(F.col("template") != "")
        .withColumn("is_mapped", F.lit(True))
    )

    ex = (
        parsed.filter((F.col("namespace") == MAIN) & F.col("redirect_target").isNull())
        .select("subject", F.explode("templates").alias("t"))
        .filter(F.col("t.depth") == 0)
    )
    name = F.lower(F.col("t.name"))
    if tred:
        redirect_map = F.create_map(
            *[F.lit(x) for kv in tred.items() for x in kv]
        )
        name = F.coalesce(redirect_map[name], name)
    ex = ex.select(name.alias("template"), "subject", F.col("t.params").alias("params"))

    tcounts = ex.groupBy("template").agg(
        F.countDistinct("subject").alias("template_count")
    )
    uses = (
        ex.select("template", F.explode("params").alias("p"))
        .filter(F.trim(F.col("p.value")) != "")
        .select("template", F.lower(F.col("p.key")).alias("prop"))
        .groupBy("template", "prop")
        .agg(F.count(F.lit(1)).alias("n_uses"))
    )
    marked = uses.join(rules.withColumn("m", F.lit(True)), ["template", "prop"], "left")
    per_tpl = marked.groupBy("template").agg(
        F.count(F.lit(1)).alias("property_count"),
        F.sum(F.when(F.col("m"), 1).otherwise(0)).alias("mapped_property_count"),
        F.sum("n_uses").alias("property_use_count"),
        F.sum(F.when(F.col("m"), F.col("n_uses")).otherwise(0)).alias(
            "mapped_property_use_count"
        ),
    )
    # mapped-but-never-used = (total mapped props in the rules) minus the
    # observed∩mapped count — pure arithmetic on the broadcast-sized rule
    # table, no anti-join over the usage aggregate
    rule_totals = rules.groupBy("template").agg(
        F.count(F.lit(1)).alias("n_mapped_total")
    )
    return (
        # every join side below is template-cardinality-bounded (an
        # aggregate output or the rule table) — broadcast them all so the
        # page-count aggregate streams through without an extra
        # exchange+sort
        tcounts.join(F.broadcast(per_tpl), "template", "left")
        .join(F.broadcast(rule_totals), "template", "left")
        .join(mapped_templates, "template", "left")
        .select(
            "template",
            "template_count",
            F.coalesce("is_mapped", F.lit(False)).alias("is_mapped"),
            F.coalesce("property_count", F.lit(0)).alias("property_count"),
            F.coalesce("mapped_property_count", F.lit(0)).alias(
                "mapped_property_count"
            ),
            F.coalesce("property_use_count", F.lit(0)).alias("property_use_count"),
            F.coalesce("mapped_property_use_count", F.lit(0)).alias(
                "mapped_property_use_count"
            ),
            (
                F.coalesce("n_mapped_total", F.lit(0))
                - F.coalesce("mapped_property_count", F.lit(0))
            ).alias("mapped_property_not_used"),
            F.round(
                F.col("mapped_property_count")
                / F.nullif(F.col("property_count").cast("double"), F.lit(0.0)),
                4,
            ).alias("mapped_ratio"),
            F.round(
                F.col("mapped_property_use_count")
                / F.nullif(F.col("property_use_count").cast("double"), F.lit(0.0)),
                4,
            ).alias("mapped_use_ratio"),
        )
    )


def language_statistics(stats: DataFrame) -> DataFrame:
    """The TemplateStatistics page header (resources/
    TemplateStatistics.scala:35-81): the whole language rolled up to one
    row — how many templates / properties / occurrences exist and what
    share of each is mapped (the four '%% of all … are mapped' lines).

    Input is `template_statistics` output, so this is one aggregation
    over a template-cardinality table — driver-light regardless of
    corpus size."""
    m = F.col("is_mapped")
    return stats.agg(
        F.count(F.lit(1)).alias("template_count"),
        F.sum(m.cast("long")).alias("mapped_template_count"),
        F.sum("template_count").alias("template_use_count"),
        F.sum(F.when(m, F.col("template_count")).otherwise(0)).alias(
            "mapped_template_use_count"
        ),
        F.sum("property_count").alias("property_count"),
        F.sum("mapped_property_count").alias("mapped_property_count"),
        F.sum("property_use_count").alias("property_use_count"),
        F.sum("mapped_property_use_count").alias("mapped_property_use_count"),
        F.round(
            F.sum(m.cast("long")) / F.count(F.lit(1)).cast("double"), 4
        ).alias("mapped_template_ratio"),
        F.round(
            F.sum(F.when(m, F.col("template_count")).otherwise(0))
            / F.sum("template_count").cast("double"),
            4,
        ).alias("mapped_template_use_ratio"),
        F.round(
            F.sum("mapped_property_count") / F.sum("property_count").cast("double"),
            4,
        ).alias("mapped_property_ratio"),
        F.round(
            F.sum("mapped_property_use_count")
            / F.sum("property_use_count").cast("double"),
            4,
        ).alias("mapped_property_use_ratio"),
    )
