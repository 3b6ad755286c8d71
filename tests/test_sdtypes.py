"""SD-Type inference (kgforge/sdtypes.py vs SdTypeCreation.scala).

The Spark job is cross-checked against an independent pure-Python mirror of
the reference's formulas (claculateScores / saveAprioriDistributions /
getNormalizationFactor, SdTypeCreation.scala:212-338) on a synthetic triple
corpus, plus table-driven penalty rows for the createScoreMap /
typeDiffPenalty ontology walk (SdTypeCreation.scala:126-182).
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from kgforge.ontology import DBO, OWL_THING, default_ontology
from kgforge.sdtypes import (
    domain_range_penalty,
    penalty_values_sql,
    score_map,
    sd_type_quads,
    sd_type_scores,
)

P = 0.4  # owl-thing penalty used throughout

LEADER = DBO + "leader"
COUNTRY = DBO + "country"
NAME = "http://xmlns.com/foaf/0.1/name"
PERSON = DBO + "Person"
AGENT = DBO + "Agent"
ORG = DBO + "Organisation"
SETTLEMENT = DBO + "Settlement"
PLACE = DBO + "Place"


# ---------------------------------------------------------------------------
# penalty table (createScoreMap / typeDiffPenalty)
# ---------------------------------------------------------------------------

def test_score_map_linear_ladder():
    ont = default_ontology()
    m = score_map(ont, SETTLEMENT, P)
    # ancestors: PopulatedPlace (1), Place (2); max_dist = 3, step = 0.2
    assert m[SETTLEMENT] == pytest.approx(1.0)
    assert m[DBO + "PopulatedPlace"] == pytest.approx(0.8)
    assert m[PLACE] == pytest.approx(0.6)
    assert m[OWL_THING] == pytest.approx(P)


def test_score_map_root_class():
    ont = default_ontology()
    m = score_map(ont, AGENT, P)  # no proper ancestors: max_dist = 1
    assert m[AGENT] == pytest.approx(1.0)
    assert m[OWL_THING] == pytest.approx(P)


@pytest.mark.parametrize(
    "target,pred,direction,expected",
    [
        (PERSON, LEADER, "in", 1.0),          # range Person == target
        (SETTLEMENT, LEADER, "out", 0.6),     # domain Place: ancestor of target
        (PLACE, LEADER, "in", 0.0),           # Person unrelated to Place
        (AGENT, LEADER, "in", 0.35),          # target is ancestor of range -> /2
        (PERSON, NAME, "out", P),             # undeclared domain -> owl:Thing
        (PERSON, COUNTRY, "out", P),          # undeclared domain -> owl:Thing
        (PERSON, DBO + "populationTotal", "in", 0.0),  # datatype range, in-dir
        (PERSON, DBO + "nosuch", "in", 0.0),  # unknown predicate
        ("http://x/NoClass", LEADER, "in", 0.0),
    ],
)
def test_domain_range_penalty(target, pred, direction, expected):
    assert domain_range_penalty(default_ontology(), target, pred, direction, P) == pytest.approx(
        expected
    )


def test_penalty_values_sql_round_trips():
    sql = penalty_values_sql(default_ontology(), [PERSON, ORG], [LEADER], P)
    assert f"('{PERSON}', '{LEADER}', 'in', 1.0)" in sql
    assert sql.count("(") == 4  # 2 types x 1 pred x 2 dirs


# ---------------------------------------------------------------------------
# pure-Python mirror of the reference formulas
# ---------------------------------------------------------------------------

def mirror_sd_type(
    types,
    objects,
    literals,
    ont,
    *,
    threshold,
    p,
    in_exc=(),
    out_exc=(),
    class_exc=(),
    only_untyped=True,
    disamb=(),
    base=None,
):
    tf = Counter()
    for s, pr, o in objects:
        tf[(s, pr, "out")] += 1
        tf[(o, pr, "in")] += 1
    for s, pr in literals:
        tf[(s, pr, "out")] += 1
    n = len({r for (r, _, _) in tf})
    tff = {
        k: v
        for k, v in tf.items()
        if not ((k[2] == "in" and k[1] in in_exc) or (k[2] == "out" and k[1] in out_exc))
    }
    typed = {(s, t) for s, t in types if t.startswith(DBO)}
    tsize = Counter(t for _, t in typed)
    pred_tot = Counter()
    for (r, pr, d), c in tff.items():
        pred_tot[(pr, d)] += c
    counts = Counter()
    for r, t in typed:
        for (r2, pr, d), c in tff.items():
            if r2 == r:
                counts[(t, pr, d)] += c
    wp = {}
    for (t, pr, d), c in counts.items():
        pct = c / pred_tot[(pr, d)]
        pt = tsize[t] / n
        wp[(t, pr, d)] = (pt - pct) ** 2 * (1 - tsize[t] / n)
    apriori = Counter()
    all_res = Counter()
    for (t, pr, d), c in counts.items():
        apriori[(pr, d)] += wp[(t, pr, d)]
        all_res[(pr, d)] += c
    typed_res = {s for s, _ in typed}
    targets = {r for (r, _, _) in tff}
    if base:
        targets = {r for r in targets if r.startswith(base)}
    if only_untyped:
        targets -= typed_res
        targets -= set(disamb)
    out = {}
    for r in sorted(targets):
        my = {(pr, d): c for (r2, pr, d), c in tff.items() if r2 == r}
        asum = sum(apriori.get(k, 0.0) for k in my)
        norm = max(1.0, 1.0 / (0.1 + asum))
        degree = sum(my.values())
        scores = Counter()
        for (pr, d), c in my.items():
            for t in tsize:
                cnt = counts.get((t, pr, d), 0)
                if cnt == 0:
                    continue
                raw = (cnt / all_res[(pr, d)]) * apriori[(pr, d)]
                booster = 2.5 - 2.0 / c
                pen = domain_range_penalty(ont, t, pr, d, p)
                scores[t] += raw * booster * pen * norm
        if not scores:
            continue
        win = min(scores, key=lambda t: (-scores[t], t))
        if scores[win] >= threshold and win not in class_exc:
            out[r] = (win, scores[win], degree)
    return out


def _synthetic_corpus():
    """Typed people share an in-'leader' and out-'name'; typed orgs share
    out-'country'; untyped resources carry mixtures with varying counts."""
    types = [(f"res:P{i}", PERSON) for i in range(6)] + [
        (f"res:O{i}", ORG) for i in range(4)
    ] + [("res:N0", SETTLEMENT), ("res:N1", SETTLEMENT)]
    objects = []
    for i in range(6):  # typed people: one in-leader from a settlement
        objects.append((f"res:N{i % 2}", LEADER, f"res:P{i}"))
    for i in range(4):  # typed orgs: country out-edges, varying multiplicity
        for _ in range(i + 1):
            objects.append((f"res:O{i}", COUNTRY, f"res:N{i % 2}"))
    for i in range(3):  # some typed people also have a country out-edge, so
        objects.append((f"res:P{i}", COUNTRY, "res:N0"))  # country is ambiguous
    # untyped candidates
    for i in range(3):
        objects.append((f"res:N{i % 2}", LEADER, f"res:U{i}"))  # person-like
        for _ in range(i + 1):
            objects.append((f"res:U{3 + i}", COUNTRY, f"res:N{i % 2}"))  # org-like
    literals = [(f"res:P{i}", NAME) for i in range(6)] + [
        (f"res:U{i}", NAME) for i in range(3)
    ]
    return types, objects, literals


def _dfs(spark, types, objects, literals):
    t = spark.createDataFrame(types, "subject string, value string")
    o = spark.createDataFrame(objects, "subject string, predicate string, object string")
    l = spark.createDataFrame(literals, "subject string, predicate string")
    return t, o, l


def test_spark_matches_python_mirror(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    got = {
        r["subject"]: (r["value"], r["score"], r["based_on"])
        for r in sd_type_scores(
            t, o, l, ontology=default_ontology(), threshold=0.001, owl_thing_penalty=P
        ).collect()
    }
    want = mirror_sd_type(
        types, objects, literals, default_ontology(), threshold=0.001, p=P
    )
    assert set(got) == set(want)
    for r in want:
        assert got[r][0] == want[r][0], r
        assert got[r][1] == pytest.approx(want[r][1], rel=1e-9)
        assert got[r][2] == want[r][2]


def test_sd_type_scores_runs_no_job_outside_the_callers_job_group(spark, job_group):
    """The four statistics actions run concurrently, each under the
    caller's job group, like the jobs of the calling thread."""
    t, o, l = _dfs(spark, *_synthetic_corpus())
    with job_group("kgforge-sdtypes") as jobs:
        sd_type_scores(
            t, o, l, ontology=default_ontology(), threshold=0.001, owl_thing_penalty=P
        ).collect()
    assert jobs.grouped and not jobs.outside


def test_untyped_person_and_org_inference(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    rows = sd_type_scores(
        t, o, l, ontology=default_ontology(), threshold=0.001, owl_thing_penalty=P
    ).collect()
    by = {r["subject"]: r["value"] for r in rows}
    # leader-in + name-out resources type as Person, country-out as Organisation
    assert by["res:U0"] == PERSON
    assert by["res:U4"] == ORG
    # typed resources never re-emitted
    assert "res:P0" not in by and "res:O1" not in by


def test_class_exception_drops_winner_without_fallback(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    rows = sd_type_scores(
        t,
        o,
        l,
        ontology=default_ontology(),
        threshold=0.001,
        owl_thing_penalty=P,
        class_exceptions=[PERSON],
    ).collect()
    by = {r["subject"]: r["value"] for r in rows}
    # the head type is suppressed, NOT replaced by the runner-up
    # (SdTypeCreation.scala:441-445 only ever examines the head)
    assert "res:U0" not in by
    assert by.get("res:U4") == ORG


def test_property_exceptions_remove_signal(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    rows = sd_type_scores(
        t,
        o,
        l,
        ontology=default_ontology(),
        threshold=0.001,
        owl_thing_penalty=P,
        in_property_exceptions=[LEADER],
        out_property_exceptions=[NAME],
    ).collect()
    by = {r["subject"]: r["value"] for r in rows}
    # U0's only predicates were excepted -> no row at all
    assert "res:U0" not in by
    assert by.get("res:U4") == ORG
    # mirror agrees under the same exceptions
    want = mirror_sd_type(
        types,
        objects,
        literals,
        default_ontology(),
        threshold=0.001,
        p=P,
        in_exc=[LEADER],
        out_exc=[NAME],
    )
    assert {r: v[0] for r, v in want.items()} == by


def test_disambiguations_and_base_uri_filter(spark):
    types, objects, literals = _synthetic_corpus()
    objects = objects + [("res:N0", LEADER, "other:X")]
    t, o, l = _dfs(spark, types, objects, literals)
    dis = spark.createDataFrame([("res:U0",)], "subject string")
    rows = sd_type_scores(
        t,
        o,
        l,
        ontology=default_ontology(),
        threshold=0.001,
        owl_thing_penalty=P,
        disambiguations=dis,
        base_uri="res:",
    ).collect()
    by = {r["subject"] for r in rows}
    assert "res:U0" not in by      # disambiguation page
    assert "other:X" not in by     # base-uri filter
    assert "res:U1" in by


def test_return_all_valid_emits_every_type_above_threshold(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    rows = sd_type_scores(
        t,
        o,
        l,
        ontology=default_ontology(),
        threshold=1e-6,
        owl_thing_penalty=P,
        return_all_valid=True,
    ).collect()
    per = Counter(r["subject"] for r in rows)
    assert per["res:U4"] > 1  # Organisation AND the Person candidate


def test_quads_context_format(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    q = sd_type_quads(
        t, o, l, ontology=default_ontology(), threshold=0.001, owl_thing_penalty=P
    )
    row = next(r for r in q.collect() if r["subject"] == "res:U0")
    assert row["dataset"] == "sd_instance_types"
    assert row["predicate"].endswith("#type")
    assert row["value"] == PERSON
    assert row["context"].startswith("res:U0?nowikientry=linktarget#typeCalculatedBy=sdTypeAlgorithm&sdTypeScore=")
    assert "&sdTypeBasedOn=2" in row["context"]
    assert row["datatype"] is None
    # scores are capped at 1 in the context (SdTypeCreation.scala:455)
    score = float(row["context"].split("sdTypeScore=")[1].split("&")[0])
    assert score <= 1.0


def test_empty_input_raises(spark):
    t = spark.createDataFrame([], "subject string, value string")
    o = spark.createDataFrame([], "subject string, predicate string, object string")
    with pytest.raises(ValueError):
        sd_type_scores(t, o, ontology=default_ontology(), threshold=0.1)


def test_context_join_and_fragment_strip(spark):
    types, objects, literals = _synthetic_corpus()
    t, o, l = _dfs(spark, types, objects, literals)
    ctx = spark.createDataFrame(
        [("res:U0", "http://src/page#frag"), ("res:U0", "http://zzz")],
        "subject string, context string",
    )
    q = sd_type_quads(
        t,
        o,
        l,
        ontology=default_ontology(),
        threshold=0.001,
        owl_thing_penalty=P,
        contexts=ctx,
    )
    row = next(r for r in q.collect() if r["subject"] == "res:U0")
    # deterministic min context, fragment stripped (SdTypeCreation.scala:450)
    assert row["context"].startswith("http://src/page#typeCalculatedBy=")


def test_random_corpus_matches_mirror(spark):
    """Randomized cross-check: 60 resources, random typed assignments and
    random leader/country/name triples — winner, score and degree must
    match the pure-Python mirror exactly."""
    import random

    rng = random.Random(13)
    res = [f"r:{i}" for i in range(60)]
    types = []
    for r in res[:40]:
        if rng.random() < 0.7:
            types.append((r, rng.choice([PERSON, ORG, SETTLEMENT])))
    objects = []
    for _ in range(150):
        s, o = rng.choice(res), rng.choice(res)
        objects.append((s, rng.choice([LEADER, COUNTRY]), o))
    literals = [(r, NAME) for r in res if rng.random() < 0.5]
    t, o, l = _dfs(spark, types, objects, literals)
    got = {
        r["subject"]: (r["value"], r["score"], r["based_on"])
        for r in sd_type_scores(
            t, o, l, ontology=default_ontology(), threshold=1e-9, owl_thing_penalty=P
        ).collect()
    }
    want = mirror_sd_type(
        types, objects, literals, default_ontology(), threshold=1e-9, p=P
    )
    assert set(got) == set(want)
    for r in want:
        assert got[r][0] == want[r][0], r
        assert got[r][1] == pytest.approx(want[r][1], rel=1e-9)
        assert got[r][2] == want[r][2]
