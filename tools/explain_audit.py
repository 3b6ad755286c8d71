"""Physical-plan audit: prove the plans are the ones we want.

Checks (printed + asserted, output meant for docs/PLANS.md):
1. Parquet scan of the corpus pushes the namespace filter / prunes columns.
2. The fused quad generation contains NO Exchange (shuffle) before dedup.
3. The entity-linking dictionary join is a BroadcastHashJoin.
4. The type-consistency join keeps AQE enabled (skew-splittable).
5. Nested-schema pruning keeps unused parse columns out of a
   single-extractor plan.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgforge.session import build_session  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    from pyspark.sql import functions as F

    from kgforge import corpus as C
    from kgforge.extractors import fused_quads, run_extractors
    from kgforge.linker import build_surface_forms, link_mentions
    from kgforge.mapping_engine import type_consistency
    from kgforge.parse import prepare

    spark = build_session(app="plan-audit", master="local[8]", shuffle_partitions=8)
    wd = tempfile.mkdtemp(prefix="kgforge_audit_")
    C.generate_corpus_df(spark, 500, partitions=4).write.parquet(wd + "/corpus")
    corpus = spark.read.parquet(wd + "/corpus")

    results = {}

    # 1a. the namespace gate runs BEFORE the Python parse stage (a derived
    # regexp filter cannot reach the parquet scan; the win is pruning pages
    # before they pay the Python cost)
    parsed = prepare(corpus)
    p = plan_of(parsed)
    fm = re.search(r"\(\d+\) Filter", p)
    am = re.search(r"\(\d+\) MapInArrow", p)
    results["ns_gate_before_python"] = bool(fm and am and fm.start() < am.start())
    print("== prepare() plan head ==")
    print("\n".join(p.splitlines()[:24]))

    # 1b. with a lang-partitioned corpus (the production Iceberg layout),
    # a language filter becomes a real partition-pruning scan
    C.generate_corpus_df(spark, 500, partitions=4).write.partitionBy("lang").parquet(wd + "/bylang")
    bylang = spark.read.parquet(wd + "/bylang").filter(F.col("lang") == "en")
    pp = plan_of(bylang)
    results["partition_pruning"] = bool(re.search(r"PartitionFilters: \[.*lang.*\]", pp))
    m = re.search(r"PartitionFilters: .*", pp)
    print("== lang-partitioned scan:", m.group(0)[:120] if m else "none")

    # 2. fused quads: no Exchange before the sink/dedup
    fq = fused_quads(parsed)
    p2 = plan_of(fq)
    n_exchange = len(re.findall(r"\bExchange\b", p2))
    results["fused_no_shuffle"] = n_exchange == 0
    print(f"\n== fused_quads Exchanges: {n_exchange} (want 0) ==")

    # 3. linker dictionary join broadcasts
    parsed_c = parsed.persist()
    parsed_c.count()
    quads = fused_quads(parsed_c).persist()
    quads.count()
    linked = link_mentions(parsed_c, build_surface_forms(quads))
    p3 = plan_of(linked)
    results["linker_broadcast"] = "BroadcastHashJoin" in p3
    print(f"== linker join: BroadcastHashJoin present: {results['linker_broadcast']} ==")

    # 4. type consistency: adaptive plan (AQE can split skewed join parts)
    tc = type_consistency(quads)
    p4 = plan_of(tc)
    results["consistency_adaptive"] = "AdaptiveSparkPlan" in p4
    print(f"== type_consistency adaptive: {results['consistency_adaptive']} ==")

    # 5. nested-schema pruning: the labels-only subset plan must not read
    # `templates`
    lbl = run_extractors(parsed, ["labels"])
    p5 = plan_of(lbl)
    read_schema = re.search(r"ReadSchema: .*", p5)
    results["nested_pruning"] = read_schema is not None and "templates" not in read_schema.group(0)
    print(f"== labels-only ReadSchema excludes templates: {results['nested_pruning']} ==")
    if read_schema:
        print(read_schema.group(0)[:400])

    # 6. NIF quads: ONE scan of the parse output, no shuffle, no Python —
    # the naive shape (14 union branches) re-scanned the parse cache 14×
    from kgforge.nif import nif_quads

    p6 = plan_of(nif_quads(parsed_c))
    n_ex6 = len(re.findall(r"\bExchange\b", p6))
    # tree entries look like 'InMemoryTableScan (1)' — count those, not the
    # repeated name in the details section
    results["nif_single_scan_no_shuffle"] = (
        n_ex6 == 0 and "BatchEvalPython" not in p6
        and len(re.findall(r"InMemoryTableScan \(\d+\)", p6)) == 1
    )
    print(f"== nif_quads: Exchanges={n_ex6}, one InMemoryTableScan: "
          f"{results['nif_single_scan_no_shuffle']} ==")

    # 7. wikidata path: pure JVM (from_json + explode + get_json_object),
    # no shuffle, no Python stage at all
    from kgforge.wikidata import wikidata_quads

    wd = spark.createDataFrame(
        [("r", "wd/Q1.json", "c", "wikidata",
          '{"id":"Q1","labels":{"en":{"language":"en","value":"x"}},'
          '"claims":{"P31":[{"mainsnak":{"snaktype":"value","datavalue":'
          '{"value":{"id":"Q5"},"type":"wikibase-entityid"}}}]},'
          '"sitelinks":{"enwiki":{"site":"enwiki","title":"X"}}}')],
        "repo string, path string, commit string, lang string, content string",
    )
    p7 = plan_of(wikidata_quads(wd))
    # 'Python' alone also matches the local-rows INPUT scan
    # (applySchemaToPythonRDD) — check for compute stages specifically
    _py = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
    results["wikidata_jvm_only_no_shuffle"] = (
        "Exchange" not in p7 and not any(s in p7 for s in _py)
    )
    print(f"== wikidata_quads JVM-only, no shuffle: {results['wikidata_jvm_only_no_shuffle']} ==")

    # 7b. the entity parse happens ONCE, above the fan-out exchange: the
    # null-id gate must not be pushed below the repartition as a second
    # (schema-pruned) from_json over the raw content — pushed, it runs
    # single-task on the unsplittable scan side (kgforge.caching.no_pushdown)
    from kgforge.wikidata import parse_entities

    # production shape: two corpora unioned below the parse (items+properties)
    pe = plan_of(parse_entities(wd.repartition(8).unionByName(wd.repartition(8))))
    first_ex = pe.find("Exchange")
    first_fj = pe.find("from_json")
    filters_with_parse = [
        b for b in pe.split("\n\n")
        if b.strip().startswith("(") and " Filter" in b.splitlines()[0]
        and "from_json" in b
    ]
    results["entity_parse_once_above_fanout"] = (
        0 <= first_ex < first_fj and not filters_with_parse
    )
    print(f"== parse_entities: from_json only above the fan-out exchange, "
          f"none in a Filter: {results['entity_parse_once_above_fanout']} ==")

    # 8. file types: map-only expression plan over the parse output
    p8 = plan_of(run_extractors(parsed_c, ["file_types"]))
    results["file_types_map_only"] = "Exchange" not in p8 and not any(
        s in p8 for s in ("BatchEvalPython", "ArrowEvalPython")
    )
    print(f"== file_types map-only: {results['file_types_map_only']} ==")

    # 9. SD-Type: the per-(type, predicate) stats tables broadcast into the
    # scoring join (no shuffle of the big tf side against them) and the
    # whole chain contains no cartesian product
    from kgforge.ontology import DBO, default_ontology
    from kgforge.sdtypes import sd_type_scores

    types = spark.createDataFrame(
        [(f"r:{i}", DBO + "Person") for i in range(20)], "subject string, value string"
    )
    objs = spark.createDataFrame(
        [(f"r:{i}", DBO + "leader", f"r:{i+1}") for i in range(40)],
        "subject string, predicate string, object string",
    )
    p9 = plan_of(
        sd_type_scores(types, objs, ontology=default_ontology(), threshold=0.01)
    )
    results["sd_type_broadcast_no_cartesian"] = (
        "CartesianProduct" not in p9
        and "BroadcastNestedLoopJoin" not in p9
        and "BroadcastHashJoin" in p9
    )
    print(f"== sd_type: broadcast stats join, no cartesian: "
          f"{results['sd_type_broadcast_no_cartesian']} ==")

    # 10. image_meta: the non-free gate is a BROADCAST anti-join (the
    # non-free list is license-violation sized), no cartesian anywhere
    from kgforge.driver_corpus import image_corpus_from_parts
    from kgforge.media import image_meta_quads

    # tiny inline corpus with one File page so the anti-join side is real
    img_corpus = spark.createDataFrame(
        [
            ("r", "i/P_1.wiki", "c", "en",
             "{{Infobox x\n| photo = A 1.jpg\n}}\n[[File:B 1.png|x]]\n"),
            ("r", "i/File:A_1.jpg.wiki", "c", "en", "{{Non-free logo}}\n"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    p10 = plan_of(image_meta_quads(prepare(img_corpus)))
    results["image_meta_nonfree_broadcast"] = (
        "CartesianProduct" not in p10
        and re.search(r"BroadcastHashJoin .*LeftAnti", p10) is not None
    )
    print(f"== image_meta: broadcast non-free anti-join: "
          f"{results['image_meta_nonfree_broadcast']} ==")

    # 11. LSH near-dup candidates: exact-dup collapse is a map-side
    # combinable partial aggregate BEFORE any band grouping, and the band
    # expansion is capped by a window rank (r4's weak item, fixed r5)
    import __spark_entry__ as entry

    docs = spark.createDataFrame(
        [(i, f"doc body {i} words here") for i in range(20)],
        "doc_id long, text string",
    )
    sigs = docs.select(
        "doc_id", F.md5("text").alias("fp"),
        entry._minhash_expr(1).alias("h1"), entry._minhash_expr(2).alias("h2"),
    )
    p11 = plan_of(entry._neardup_candidates(sigs))
    results["lsh_collapse_then_capped_bands"] = (
        "Window" in p11
        and "partial_min" in p11  # map-side combine of the exact-dup collapse
        and "CartesianProduct" not in p11
    )
    print(f"== lsh: partial-agg exact collapse + capped band window: "
          f"{results['lsh_collapse_then_capped_bands']} ==")

    # 12. lexeme extractor: the whole quad construction is ONE array-side
    # Generate over the JSON parse — JVM-only, zero Exchange
    from kgforge.wikidata import wikidata_lexeme_quads

    lex_doc = (
        '{"type":"lexeme","id":"L1","lemmas":{"en":{"language":"en","value":"a b"}},'
        '"lexicalCategory":"Q1084","language":"Q1860","claims":{},"forms":[],"senses":[]}'
    )
    lex_corpus = spark.createDataFrame([(lex_doc,)], "content string")
    p12 = plan_of(wikidata_lexeme_quads(lex_corpus))
    results["lexeme_jvm_single_pass_no_shuffle"] = (
        "Exchange" not in p12
        and not any(s in p12 for s in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow"))
    )
    print(f"== lexeme_quads JVM-only, no shuffle: "
          f"{results['lexeme_jvm_single_pass_no_shuffle']} ==")

    # 13. SemDeDup (r6 vectorized rewrite): cell assignment is a map-side
    # MapInPandas against the broadcast codebook matrix (no join, no
    # shuffle), and the within-cell dedup is ONE FlatMapGroupsInPandas
    # behind a single hashpartitioning(cell) exchange — no pair join, no
    # cartesian, never corpus × corpus
    q = entry.queries()["semdedup"]
    p13 = plan_of(q(spark, "/root/testdata/sf0.001"))
    results["semdedup_vectorized_cell_dedup"] = (
        "CartesianProduct" not in p13
        and "Join" not in p13
        and "MapInPandas" in p13
        and "FlatMapGroupsInPandas" in p13
        and re.search(r"hashpartitioning\(cell", p13) is not None
    )
    print(f"== semdedup: map-side assignment + single cell-keyed group pass: "
          f"{results['semdedup_vectorized_cell_dedup']} ==")

    # 14. paragraph dedup: the per-paragraph-hash distinct-doc count is a
    # map-side-combinable partial aggregate, and the dup-hash table join is
    # RUNTIME-size-gated (r6): no forced broadcast hint — the plan is an
    # AdaptiveSparkPlan whose join AQE converts to broadcast only when the
    # dup side's measured bytes fit; with broadcasts disabled (the 100-TB
    # big-dup-table regime) the SAME query plans key-partitioned
    p14 = plan_of(entry.queries()["paragraph_dedup"](spark, "/root/testdata/sf0.001"))
    _saved_abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        p14b = plan_of(entry.queries()["paragraph_dedup"](spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_abt)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    results["paragraph_dedup_gated_dup_join"] = (
        "partial_count" in p14
        and "AdaptiveSparkPlan" in p14
        and ("SortMergeJoin" in p14b or "ShuffledHashJoin" in p14b)
    )
    print(f"== paragraph_dedup: partial agg + runtime-gated dup join: "
          f"{results['paragraph_dedup_gated_dup_join']} ==")

    # 15. live diff: the per-page incremental diff is ONE equi-join on
    # page_id with the array_except running inside the page row — no
    # Generate (explode) anywhere, so quads never hit a shuffle at quad
    # granularity and cost scales with the changed batch
    from kgforge.live import live_diff, page_store
    from kgforge.parse import prepare as _prep

    live_corpus = C.generate_corpus_df(spark, 32, partitions=4)
    store = page_store(_prep(live_corpus))
    p15 = plan_of(live_diff(store, store))
    results["live_diff_pagewise_no_explode"] = (
        "Generate" not in p15
        and re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) LeftOuter", p15)
        is not None
    )
    print(f"== live_diff: page-keyed join, zero explode: "
          f"{results['live_diff_pagewise_no_explode']} ==")

    # 16. mapping stats: the rule/mapped-template side rides broadcasts
    # (mappings-wiki-sized), the usage side is two key-partitioned aggs —
    # no sort-merge join, no window, no cartesian anywhere
    from kgforge.mapping_stats import template_statistics

    p16 = plan_of(template_statistics(_prep(live_corpus)))
    results["mapping_stats_broadcast_rules_agg_only"] = (
        "SortMergeJoin" not in p16
        and "CartesianProduct" not in p16
        and "Window" not in p16
        and "BroadcastHashJoin" in p16
    )
    print(f"== mapping_stats: broadcast rules, agg-only usage side: "
          f"{results['mapping_stats_broadcast_rules_agg_only']} ==")

    # 17. quality classifier: the NB training table (<=4096 rows) and the
    # doc-count prior both come back as one-row BROADCASTS and scoring is
    # an array-side fold — no sort-merge join, no window, no Python stage
    p17 = plan_of(entry.queries()["quality_classifier"](spark, "/root/testdata/sf0.001"))
    results["quality_classifier_broadcast_fold_only"] = (
        "SortMergeJoin" not in p17
        and "Window" not in p17
        and not any(s in p17 for s in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow"))
        and "BroadcastNestedLoopJoin" in p17
    )
    print(f"== quality_classifier: broadcast NB table + array-fold scoring: "
          f"{results['quality_classifier_broadcast_fold_only']} ==")

    print("\nRESULTS:", results)
    bad = [k for k, v in results.items() if not v]
    print("AUDIT:", "PASS" if not bad else f"FAIL {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
