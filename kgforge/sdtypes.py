"""SD-Type heuristic type inference as a distributed Spark job.

Re-expresses ``scripts/.../SdTypeCreation.scala`` (SdTypeCreation.scala:36-565,
Paulheim's SD-Type algorithm, ISWC 2013): infer rdf:type for untyped
resources from the types of the *other* resources that share their incoming /
outgoing predicates.  The reference loads instance-types, mappingbased
objects/literals and disambiguations into driver-side ConcurrentHashMaps and
scores every resource in memory (SdTypeCreation.scala:48-63, 368-434); at
100 TB none of those maps fit on a driver.  Here every statistic is a
DataFrame aggregation:

  tf(r, p, d)          - triple frequency per resource / predicate / direction
                         (objectPropWorker + literalWorker,
                         SdTypeCreation.scala:368-434): one groupBy
  N                    - distinct resources carrying any predicate
                         (SdTypeCreation.scala:536): one distinct count
  count(t, p, d)       - Σ_{r typed t} tf(r, p, d)  (saveAprioriDistributions,
                         SdTypeCreation.scala:263-296): join + groupBy
  percentage           - count / (triples with predicate p in direction d)
  wp(t, p, d)          - (P(t) - percentage)^2 * (1 - |t|/N)   [count > 0]
  apriori(p, d)        - Σ_t wp(t, p, d)          (getAprioriDistribution)
  norm(r)              - max(1, 1 / (0.1 + Σ_{p∈preds(r)} apriori(p, d)))
                         (getNormalizationFactor, SdTypeCreation.scala:328-338)
  score(r, t)          - Σ_{p,d} (count/allResWithPred) * apriori
                         * (2.5 - 2/tf) * penalty(t, p, d) * norm(r)
                         (claculateScores, SdTypeCreation.scala:212-219)

and the winner per resource is an aggregation (max_by on the inverted sort
key), not an in-memory sort.  The per-(type, predicate) statistics table is
bounded by |classes| x |predicates| and is broadcast into the final scoring
join; the only driver-side values are the two scalar counts.

The domain/range penalty (typeDiffPenalty / createScoreMap,
SdTypeCreation.scala:126-182) walks the ontology class tree - config, not
data - so it is computed driver-side over the (config-sized) stats rows
(r6; it was a pandas UDF stage before the stats algebra moved driver-side).

Documented divergences from the reference:
  * ties on the final score break by type IRI (ascending); the reference's
    ``sortBy.reverse`` order on ties depends on hash-map iteration order.
  * scores are float64, the reference uses float32.
  * ``return_all_valid`` emits every type above the threshold; the
    reference's while-loop (SdTypeCreation.scala:441-480) never advances
    ``current`` so returnAllValid=true would loop forever - we implement the
    evident intent.
  * duplicate (subject, type) rows in the types input count once
    (the reference appends per quad into type_count).
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import DataFrame, functions as F

from .ontology import OWL_THING, Ontology
from .session import concurrently

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DBO_PREFIX = "http://dbpedia.org/ontology/"
SD_INSTANCE_TYPES = "sd_instance_types"


# ---------------------------------------------------------------------------
# domain/range penalty (createScoreMap / typeDiffPenalty,
# SdTypeCreation.scala:126-182) - pure config-driven math
# ---------------------------------------------------------------------------

def score_map(ontology: Ontology, target: str, owl_thing_penalty: float) -> dict[str, float]:
    """Booster score per ancestor class of ``target`` (createScoreMap,
    SdTypeCreation.scala:126-147): the target itself scores 1.0, proper
    ancestors decrease linearly, owl:Thing scores ``owl_thing_penalty``.

    Distances replicate mapBaseClassesToDistanceFromThing: the recursion
    returns len(proper_ancestors) + 1, so the deepest named ancestor sits one
    step above the owl:Thing floor.
    """
    chain: list[str] = []
    seen = {target}
    cur = ontology.classes.get(target)
    while cur is not None and cur not in seen:
        chain.append(cur)
        seen.add(cur)
        cur = ontology.classes.get(cur)
    max_dist = len(chain) + 1
    step = (1.0 - owl_thing_penalty) / max_dist
    out = {target: owl_thing_penalty + max_dist * step}
    for dist, cls in enumerate(chain, start=1):
        out[cls] = owl_thing_penalty + (max_dist - dist) * step
    out[OWL_THING] = owl_thing_penalty
    return out


def domain_range_penalty(
    ontology: Ontology, target: str, predicate: str, direction: str, owl_thing_penalty: float
) -> float:
    """calculateDomainRangePenalty (SdTypeCreation.scala:143-156): compare
    ``target`` against the predicate's range (incoming) or domain (outgoing).

    An undeclared domain/range defaults to owl:Thing (the reference's
    OntologyReader default); a datatype range in the incoming direction - an
    object quad whose predicate is declared as a literal property - scores 0,
    like the reference's ``range.isInstanceOf[OntologyClass]`` miss.
    """
    prop = ontology.properties.get(predicate)
    if prop is None or target not in ontology.classes:
        return 0.0
    if direction == "in":
        if prop.kind != "object":
            return 0.0
        cls = prop.range if prop.range else OWL_THING
        if cls != OWL_THING and cls not in ontology.classes:
            return 0.0
    else:
        cls = prop.domain if prop.domain else OWL_THING
        if cls != OWL_THING and cls not in ontology.classes:
            return 0.0
    tmap = score_map(ontology, target, owl_thing_penalty)
    booster = tmap.get(cls)
    if booster is not None:
        return booster
    # target is an ancestor of the declared class -> half credit
    # ("taxed twice as hard", SdTypeCreation.scala:171-181)
    cmap = score_map(ontology, cls, owl_thing_penalty) if cls in ontology.classes else {}
    booster = cmap.get(target)
    if booster is not None:
        return booster / 2.0
    return 0.0


# ---------------------------------------------------------------------------
# the distributed SD-Type job
# ---------------------------------------------------------------------------

def sd_type_scores(
    types: DataFrame,
    objects: DataFrame,
    literals: DataFrame | None = None,
    *,
    ontology: Ontology,
    threshold: float = 0.21,
    owl_thing_penalty: float = 0.4,
    in_property_exceptions: Iterable[str] = (),
    out_property_exceptions: Iterable[str] = (),
    class_exceptions: Iterable[str] = (),
    only_untyped: bool = True,
    return_all_valid: bool = False,
    base_uri: str | None = None,
    disambiguations: DataFrame | None = None,
    type_prefix: str = DBO_PREFIX,
) -> DataFrame:
    """Score and select SD-Type inferred types.

    ``types``: (subject, value) rdf:type rows (instance-types input);
    ``objects``: (subject, predicate, object) object triples;
    ``literals``: (subject, predicate[, ...]) literal triples (outgoing only,
    literalWorker SdTypeCreation.scala:414-434);
    ``disambiguations``: (subject) rows excluded from the untyped targets.

    Returns (subject, value, score, based_on): the winning type per resource
    (all valid types when ``return_all_valid``), its normalized score and the
    triple count it is based on (the context's ``sdTypeBasedOn``).
    """
    in_exc = list(in_property_exceptions)
    out_exc = list(out_property_exceptions)

    typed = (
        types.select(F.col("subject").alias("resource"), F.col("value").alias("type"))
        .filter(F.col("type").startswith(type_prefix))
        .distinct()
    )

    out_src = objects.select(F.col("subject").alias("resource"), "predicate")
    if literals is not None:
        out_src = out_src.unionByName(
            literals.select(F.col("subject").alias("resource"), "predicate")
        )
    in_src = objects.select(F.col("object").alias("resource"), "predicate")
    # tf feeds FIVE downstream branches (N, pred totals, per-type counts,
    # normalization, scoring) — checkpointed so the triple scan + first
    # shuffle happen once, not per branch. The checkpoint is owned by this
    # call: its blocks go when the returned frame does, so repeat
    # bench/driver runs stay bounded and never evict each other.
    # r6 (guide §2.4 — two operations keyed the same way share one
    # exchange): repartition by RESOURCE before the groupBy.  Hash-
    # partitioning on a subset of the grouping keys satisfies the
    # aggregation's ClusteredDistribution, so the groupBy adds no second
    # exchange — and every downstream per-resource step (the untyped
    # anti-join, norm, the (resource, type) scoring aggregate, the
    # norm⋈scored join and the final winner aggregate) inherits the
    # checkpoint's partitioning and runs EXCHANGE-FREE (plan pinned in
    # plans/r06/kg_sd_types_after.txt).  Skew bound: a resource carries at
    # most |predicates|·2 tf rows, so resource-keyed partitions are even.
    tf_raw = (
        out_src.withColumn("dir", F.lit("out"))
        .unionByName(in_src.withColumn("dir", F.lit("in")))
        .repartition("resource")
        .groupBy("resource", "predicate", "dir")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .localCheckpoint()
    )

    tf = tf_raw.filter(
        ~(
            ((F.col("dir") == "in") & F.col("predicate").isin(in_exc))
            | ((F.col("dir") == "out") & F.col("predicate").isin(out_exc))
        )
    )

    type_sizes = typed.groupBy("type").agg(F.count(F.lit(1)).cast("double").alias("t_size"))
    pred_tot = tf.groupBy("predicate", "dir").agg(F.sum("tf").alias("pred_total"))
    counts = (
        tf.join(typed, "resource")
        .groupBy("type", "predicate", "dir")
        .agg(F.sum("tf").alias("cnt"))
    )
    # Per-(type, predicate, direction) statistics are bounded by
    # |classes| × |predicates| — config-sized, and the r5 plan already
    # BROADCAST them (broadcast ≡ driver collect + ship). r6 (guide §1.2 —
    # the DAG was depth-bound, not data-bound): the three base aggregates
    # stay distributed, their tiny results are collected CONCURRENTLY, and
    # the wp/apriori/penalty algebra runs driver-side (identical float64
    # formulas; sum order differs in the last ulp exactly as the DuckDB
    # oracle's always has — absorbed by the round-6 output contract). This
    # collapses a 4-deep join/agg chain + a pandas-UDF stage + three
    # broadcast-build jobs into two literal broadcast tables.
    spark = tf.sparkSession
    # resourceCount counts every resource BEFORE property exceptions are
    # removed (exceptions are dropped from predStatistics only,
    # SdTypeCreation.scala:530-536).  Deliberately a driver scalar: folding
    # N into the DAG as a 1-row broadcast join constant-folds into a
    # BroadcastNestedLoopJoin (measured).  r6: submitted CONCURRENTLY with
    # the three stats collects (it was a serial job before them); all four
    # read the already materialized checkpoint.
    n_resources, counts_rows, tsizes_rows, ptot_rows = concurrently(spark, [
        tf_raw.select("resource").distinct().count,
        counts.collect,
        type_sizes.collect,
        pred_tot.collect,
    ])
    t_size = {r["type"]: r["t_size"] for r in tsizes_rows}
    p_total = {(r["predicate"], r["dir"]): r["pred_total"] for r in ptot_rows}
    if n_resources <= 0:
        raise ValueError("no resources found!")  # SdTypeCreation.scala:242

    n_res = float(n_resources)
    wp_rows = []
    for r in counts_rows:
        t, p, d, cnt = r["type"], r["predicate"], r["dir"], r["cnt"]
        ts = t_size[t]
        wp = (ts / n_res - cnt / p_total[(p, d)]) ** 2.0 * (1.0 - ts / n_res)
        wp_rows.append((t, p, d, cnt, wp))
    apriori: dict[tuple[str, str], float] = {}
    all_res: dict[tuple[str, str], float] = {}
    for t, p, d, cnt, wp in sorted(wp_rows):
        apriori[(p, d)] = apriori.get((p, d), 0.0) + wp
        all_res[(p, d)] = all_res.get((p, d), 0.0) + cnt
    pen_cache: dict[tuple[str, str, str], float] = {}

    def _pen(t: str, p: str, d: str) -> float:
        key = (t, p, d)
        if key not in pen_cache:
            pen_cache[key] = domain_range_penalty(ontology, t, p, d, owl_thing_penalty)
        return pen_cache[key]

    scoring = F.broadcast(
        spark.createDataFrame(
            [
                (t, p, d, float(cnt), apriori[(p, d)], all_res[(p, d)], _pen(t, p, d))
                for t, p, d, cnt, wp in wp_rows
            ],
            "type string, predicate string, dir string, cnt double, "
            "apriori double, all_res double, penalty double",
        )
    )
    apd = spark.createDataFrame(
        [(p, d, a) for (p, d), a in sorted(apriori.items())],
        "predicate string, dir string, apriori double",
    )

    # target resources (SdTypeCreation.scala:545-556).  r6: the r5 flow
    # built a DISTINCT target list and semi-joined tf back against it — two
    # extra resource-keyed shuffles.  Filtering/anti-joining tf directly is
    # row-equivalent (semi-join against "tf's resources minus typed minus
    # disambig" ≡ anti-join of tf against typed/disambig), keeps the
    # cache's resource partitioning, and drops both shuffles.
    tf_t = tf
    if base_uri:
        tf_t = tf_t.filter(F.col("resource").startswith(base_uri))
    if only_untyped:
        # no .distinct() on the anti-join build sides: anti-join semantics
        # ignore build-side multiplicity, so the dedup shuffle bought nothing
        tf_t = tf_t.join(typed.select("resource"), "resource", "left_anti")
        if disambiguations is not None:
            tf_t = tf_t.join(
                disambiguations.select(F.col("subject").alias("resource")),
                "resource",
                "left_anti",
            )

    # normalization factor + predCount per resource: predicates without any
    # typed carrier contribute apriori 0 but still count toward sdTypeBasedOn
    norm = (
        tf_t.join(F.broadcast(apd.select("predicate", "dir", "apriori")), ["predicate", "dir"], "left")
        .groupBy("resource")
        .agg(
            F.greatest(
                F.lit(1.0),
                F.lit(1.0) / (F.lit(0.1) + F.sum(F.coalesce(F.col("apriori"), F.lit(0.0)))),
            ).alias("norm"),
            F.sum("tf").cast("long").alias("based_on"),
        )
    )

    scored = (
        tf_t.join(F.broadcast(scoring), ["predicate", "dir"])
        .withColumn(
            "term",
            (F.col("cnt") / F.col("all_res"))
            * F.col("apriori")
            * (F.lit(2.5) - F.lit(2.0) / F.col("tf"))
            * F.col("penalty"),
        )
        .groupBy("resource", "type")
        .agg(F.sum("term").alias("boosted"))
        .join(norm, "resource")
        .withColumn("score", F.col("boosted") * F.col("norm"))
    )

    if not return_all_valid:
        # head-of-sort selection as ONE hash aggregation (no per-partition
        # sort-window, and no float-equality self-join — reduce-side float
        # sums are not bit-reproducible across two evaluations, so joining
        # scored against max(score) can silently drop resources at scale):
        # min over (-score, type) = max score with the min-type tie-break
        scored = (
            scored.groupBy("resource")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("neg"),
                        F.col("type").alias("type"),
                        F.col("score").alias("score"),
                        F.col("based_on").alias("based_on"),
                    )
                ).alias("w")
            )
            .select(
                "resource",
                F.col("w.type").alias("type"),
                F.col("w.score").alias("score"),
                F.col("w.based_on").alias("based_on"),
            )
        )
    selected = scored.filter(
        (F.col("score") >= F.lit(float(threshold)))
        & ~F.col("type").isin(list(class_exceptions))
    )
    return selected.select(
        F.col("resource").alias("subject"),
        F.col("type").alias("value"),
        "score",
        "based_on",
    )


def sd_type_quads(
    types: DataFrame,
    objects: DataFrame,
    literals: DataFrame | None = None,
    *,
    ontology: Ontology,
    language: str = "en",
    contexts: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """SD-Type results as QUAD_SCHEMA rows (dataset ``sd_instance_types``).

    The context mirrors the reference's provenance string
    (SdTypeCreation.scala:447-457): the resource's first triple context (we
    take the deterministic minimum; ``contexts`` is (subject, context)) or
    ``<subject>?nowikientry=linktarget``, plus the score (capped at 1) and
    the triple count the decision is based on.
    """
    scores = sd_type_scores(types, objects, literals, ontology=ontology, **kwargs)
    if contexts is not None:
        ctx = contexts.groupBy("subject").agg(F.min("context").alias("ctx"))
        scores = scores.join(ctx, "subject", "left")
    else:
        scores = scores.withColumn("ctx", F.lit(None).cast("string"))
    base_ctx = F.coalesce(
        F.when(
            F.col("ctx").contains("#"), F.substring_index(F.col("ctx"), "#", 1)
        ).otherwise(F.col("ctx")),
        F.concat(F.col("subject"), F.lit("?nowikientry=linktarget")),
    )
    return scores.select(
        F.lit(language).alias("language"),
        F.lit(SD_INSTANCE_TYPES).alias("dataset"),
        "subject",
        F.lit(RDF_TYPE).alias("predicate"),
        F.col("value"),
        F.concat(
            base_ctx,
            F.lit("#typeCalculatedBy=sdTypeAlgorithm&sdTypeScore="),
            F.least(F.col("score"), F.lit(1.0)).cast("string"),
            F.lit("&sdTypeBasedOn="),
            F.col("based_on").cast("string"),
        ).alias("context"),
        F.lit(None).cast("string").alias("datatype"),
    )


def penalty_values_sql(
    ontology: Ontology,
    types: Iterable[str],
    predicates: Iterable[str],
    owl_thing_penalty: float,
) -> str:
    """Penalty constants as a SQL VALUES body for the DuckDB oracle twin.

    The oracle recomputes every corpus-dependent statistic independently in
    SQL; the penalties are corpus-INdependent config constants (pure
    functions of the ontology fixture), so they are embedded as literals -
    same sharing pattern as the oracle's reuse of SQL_PUB_DATE.
    """
    rows = []
    for t in sorted(set(types)):
        for p in sorted(set(predicates)):
            for d in ("in", "out"):
                pen = domain_range_penalty(ontology, t, p, d, owl_thing_penalty)
                rows.append(f"('{t}', '{p}', '{d}', {pen!r})")
    return ",\n  ".join(rows)
