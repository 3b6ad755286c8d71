"""The parse stage: corpus DataFrame → corpus + derived + nested feature cols.

One Arrow-batched ``mapInPandas`` pass replaces the reference's
parse-once-share-AST design (WikiPage.scala:39 lazy pageNode +
CompositeParseExtractor.scala:34-43): the page is parsed exactly once and all
extractors downstream are pure Catalyst expressions over the nested columns.

ALL IRI minting (subject, wikipedia page IRI, link-target IRIs, template
IRIs, interlanguage IRIs) happens inside this same Python pass — the
pipeline has exactly ONE Python stage in its hot path. Chaining additional
pandas UDF stages costs a full-row Arrow round trip each (measured 3×
slowdown), so extractors must never re-enter Python for IRIs.

Derived columns (title / namespace / page ids / sha256) stay JVM-side
Catalyst expressions so they pushdown/prune normally.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import wikitext
from .caching import no_pushdown
from .namespaces import (
    CATEGORY,
    FILE,
    MAIN,
    NS_BY_NAME,
    TEMPLATE,
    normalize_title,
    resource_base,
    title_with_namespace,
    wiki_base,
    wiki_encode,
)
from .schema import PARSE_FEATURE_FIELDS


def _stable_id(col):
    """Deterministic 60-bit id from a string key: first 15 hex digits of
    sha256 — reproducible in plain Python (hashlib) for oracles, unlike
    xxhash64. Replaces the reference's dump-provided page/revision ids
    (WikiPage.scala:25-34) which our corpus does not carry."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("long")


def derive_page_columns(corpus: DataFrame) -> DataFrame:
    """(repo, path, commit, lang, content) → + title, namespace, page_id,
    revision_id, content_sha256 (all JVM expressions).

    Mirrors WikiPage title/id derivation (WikiPage.scala:25-34,
    WikiTitle.parse): the page title is the file stem of ``path``
    (``docs/Template:Foo.wiki`` → ``Template:Foo``), the namespace from its
    prefix. The sha256 column is the per-row invariant carried through the
    pipeline unchanged."""
    stem = F.regexp_extract(F.col("path"), r"([^/]+?)(?:\.[A-Za-z0-9]+)?$", 1)
    # subpage titles ('Données/Lyon/évolution population') cannot carry a
    # raw '/' in a path segment — corpus paths escape it as %2F
    raw_title = F.regexp_replace(F.replace(stem, F.lit("%2F"), F.lit("/")), "_", " ")
    prefix = F.lower(F.trim(F.regexp_extract(raw_title, r"^([^:]+):", 1)))
    ns_map = F.create_map(
        *[x for k, v in NS_BY_NAME.items() for x in (F.lit(k), F.lit(v))]
    )
    ns = F.coalesce(ns_map[prefix], F.lit(MAIN)).cast("int")
    title_rest = F.when(ns != MAIN, F.trim(F.regexp_extract(raw_title, r"^[^:]+:(.*)$", 1))).otherwise(
        F.trim(raw_title)
    )
    title = F.concat(F.upper(F.substring(title_rest, 1, 1)), F.expr("substring(title_rest_tmp, 2)"))
    return (
        corpus.withColumn("title_rest_tmp", title_rest)
        .withColumn("title", title)
        .drop("title_rest_tmp")
        .withColumn("namespace", ns)
        .withColumn("page_id", _stable_id(F.concat_ws("|", "lang", "repo", "path")))
        .withColumn("revision_id", _stable_id(F.concat_ws("|", "lang", "repo", "path", "commit")))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )


def link_iri(lang: str, iw: str, ns: int, title: str) -> str:
    """Resource IRI of a link target; interlanguage links resolve against the
    target language's namespace (InterLanguageLinksExtractor semantics)."""
    base = resource_base(iw or lang)
    return base + wiki_encode(title_with_namespace(ns, title))


def parse_corpus(df: DataFrame) -> DataFrame:
    """Append nested feature columns + all minted IRIs in ONE Python pass.

    Uses mapInArrow with hand-built RecordBatches (kgforge/arrow_parse.py):
    the pandas object-column path spent ~4× the parser's CPU on dict
    construction + type inference."""
    from .arrow_parse import parse_batches_arrow

    out_schema = T.StructType(list(df.schema.fields) + PARSE_FEATURE_FIELDS)
    return df.mapInArrow(parse_batches_arrow, schema=out_schema)


def parse_corpus_pandas(df: DataFrame) -> DataFrame:
    """Legacy pandas implementation (kept as a cross-check for tests)."""
    out_schema = T.StructType(list(df.schema.fields) + PARSE_FEATURE_FIELDS)

    def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [wikitext.parse(c, lg or "en")
                    for c, lg in zip(pdf["content"], pdf["lang"])]
            langs = pdf["lang"]
            nss = pdf["namespace"]
            titles = pdf["title"]
            subjects, page_iris = [], []
            links_col, ext_col, tpl_col = [], [], []
            for r, lg, ns, title in zip(rows, langs, nss, titles):
                rb = resource_base(lg)
                subjects.append(rb + wiki_encode(title_with_namespace(int(ns), normalize_title(title or ""))))
                page_iris.append(wiki_base(lg) + wiki_encode(normalize_title(title or "")))
                links_col.append(
                    [
                        {
                            "target": l.target,
                            "ns": l.ns,
                            "iw": l.iw,
                            "label": l.label,
                            "line": l.line,
                            "iri": link_iri(lg, l.iw, l.ns, l.target),
                            "begin": l.begin,
                            "end": l.end,
                        }
                        for l in r.links
                    ]
                )
                ext_col.append(
                    [{"uri": e.uri, "label": e.label, "line": e.line} for e in r.external_links]
                )
                tpl_col.append(
                    [
                        {
                            "name": t.name,
                            "depth": t.depth,
                            "pos": t.pos,
                            "line": t.line,
                            "iri": rb + wiki_encode("Template:" + t.name),
                            "params": [
                                {"key": p.key, "value": p.value, "explicit": p.explicit}
                                for p in t.params
                            ],
                        }
                        for t in r.templates
                    ]
                )
            pdf = pdf.copy()
            pdf["subject"] = subjects
            pdf["page_iri"] = page_iris
            pdf["redirect_target"] = [r.redirect for r in rows]
            pdf["links"] = links_col
            pdf["external_links"] = ext_col
            pdf["templates"] = tpl_col
            pdf["param_decls"] = [list(r.param_decls) for r in rows]
            pdf["sections"] = [
                [{"name": s.name, "level": s.level, "line": s.line,
                  "begin": s.begin, "end": s.end} for s in r.sections]
                for r in rows
            ]
            pdf["tables"] = [
                [
                    {
                        "caption": tb.caption,
                        "n_rows": tb.n_rows,
                        "cells": [
                            {"row": c.row, "col": c.col, "text": c.text, "header": c.header}
                            for c in tb.cells
                        ],
                    }
                    for tb in r.tables
                ]
                for r in rows
            ]
            from .dataparsers import property_iri as _piri

            pdf["ref_texts"] = [
                [{"key": k, "prop_iri": (_piri(lg, k) if k else None), "text": tx,
                  "cite_iri": (wikitext.first_cite_iri(rw) if k else None)}
                 for k, tx, rw in r.refs]
                for r, lg in zip(rows, langs)
            ]
            pdf["galleries"] = [
                [{"file": gf, "enc": wiki_encode(gf), "caption": gc} for gf, gc in r.galleries]
                for r in rows
            ]
            coords = [r.first_coord() for r in rows]
            pdf["coord_lat"] = pd.array([c[0] if c else None for c in coords], dtype="float64")
            pdf["coord_lon"] = pd.array([c[1] if c else None for c in coords], dtype="float64")
            pdf["n_tables"] = pd.array([r.n_tables for r in rows], dtype="int32")
            pdf["plain_text"] = [r.plain for r in rows]
            pdf["abstract"] = [r.abstract for r in rows]
            pdf["parse_errors"] = pd.array([r.errors for r in rows], dtype="int32")
            yield pdf

    return df.mapInPandas(_parse_batches, schema=out_schema)


def prepare(corpus: DataFrame) -> DataFrame:
    """Full input pipeline: derive page columns → namespace gate → parse.
    The namespace filter runs BEFORE the parse stage so pruned pages never
    pay the Python cost (pushdown analog of XMLSource.scala:32-53)."""
    df = derive_page_columns(corpus)
    # no_pushdown: the namespace gate must stay ABOVE the fan-out
    # exchange — pushed below, it re-derives the title/namespace regex
    # chain on the unsplittable single-row-group scan side (one task
    # regex-scanning every page, then a second derivation post-exchange).
    # The gate still runs BEFORE the Python parse stage (audit probe
    # ns_gate_before_python), just post-exchange on all cores. Streaming
    # inputs skip the guard (monotonically_increasing_id is rejected in
    # streaming plans; micro-batch scans have no fan-out exchange to
    # protect anyway).
    gate = F.col("namespace").isin([MAIN, TEMPLATE, CATEGORY, FILE])
    df = df.filter(gate if df.isStreaming else no_pushdown(gate))
    return parse_corpus(df)
