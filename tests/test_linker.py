"""Entity-linker scale safety: pruned dictionary, size-gated broadcast with
a shuffle-join fallback that must produce identical links."""

from pyspark.sql import functions as F

from kgforge import corpus as C
from kgforge.extractors.fused import explode_quads, page_quads
from kgforge.linker import (
    build_surface_forms,
    entity_link_quads,
    link_mentions,
    prune_surface_forms,
)
from kgforge.parse import prepare


def _parsed_quads(spark, n=150):
    parsed = prepare(C.generate_corpus_df(spark, n, partitions=4)).persist()
    parsed.count()
    quads = explode_quads(page_quads(parsed)).persist()
    quads.count()
    return parsed, quads


def test_broadcast_and_shuffle_paths_agree(spark):
    """broadcast_max_rows=0 forces the shuffle join; links must be identical
    to the broadcast path (the plan that actually runs at 100 TB is
    otherwise unverified)."""
    parsed, quads = _parsed_quads(spark)
    sf = build_surface_forms(quads)
    a = {tuple(r) for r in link_mentions(parsed, sf).collect()}
    b = {tuple(r) for r in link_mentions(parsed, sf, broadcast_max_rows=0).collect()}
    assert a == b and len(a) > 0


def test_join_strategy_switches_with_gate(spark):
    """The physical plan must actually switch: a broadcast HINT under the
    gate, a shuffle join above it. Auto-broadcast is disabled inside the
    test because Catalyst (correctly) still broadcasts a tiny dict on its
    own at test scale — the gate's job is only to stop FORCING broadcast of
    an unbounded dict."""
    parsed, quads = _parsed_quads(spark)
    sf = build_surface_forms(quads)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        plan_small = link_mentions(parsed, sf)._jdf.queryExecution().executedPlan().toString()
        plan_big = link_mentions(parsed, sf, broadcast_max_rows=0)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" in plan_small  # hint survives disabled auto-broadcast
    assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big


def test_prune_surface_forms_topk(spark):
    rows = [
        ("alias", f"http://e/{i}", "en", 10 - i, 0.1) for i in range(8)
    ] + [("rare", "http://e/r", "en", 1, 1.0)]
    sf = spark.createDataFrame(
        rows, "surface_form string, entity_iri string, language string, n long, prior double"
    )
    kept = prune_surface_forms(sf, top_k=3, min_count=2)
    got = {(r.surface_form, r.entity_iri) for r in kept.collect()}
    assert got == {("alias", "http://e/0"), ("alias", "http://e/1"), ("alias", "http://e/2")}


def test_ambiguous_surface_form_resolution(spark):
    """Two entities share a surface form: the prior (occurrence count) picks
    the majority sense, and the same-page context boost overrides the prior
    when the page itself links the minority sense (ObjectParser same-page
    fallback semantics)."""
    from pyspark.sql import functions as F

    from kgforge.linker import link_mentions
    from kgforge.parse import prepare

    maj = "http://dbpedia.org/resource/Mercury_(element)"
    minr = "http://dbpedia.org/resource/Mercury_(planet)"
    sf = spark.createDataFrame(
        [("mercury", maj, "en", 9, 0.9), ("mercury", minr, "en", 1, 0.1)],
        "surface_form string, entity_iri string, language string, n long, prior double",
    )
    rows = [
        ("r", "a/Plain.wiki", "c1", "en", "Mercury is toxic in lamps.\n"),
        ("r", "a/Astro.wiki", "c2", "en",
         "Mercury orbits fast. See [[Mercury (planet)|the planet]].\n"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    parsed = prepare(corpus)
    links = {(r.subject, r.value) for r in link_mentions(parsed, sf).collect()}
    assert ("http://dbpedia.org/resource/Plain", maj) in links      # prior wins
    assert ("http://dbpedia.org/resource/Astro", minr) in links    # context boost wins
    assert ("http://dbpedia.org/resource/Astro", maj) not in links
