"""Single-page debug extraction — the engine's analog of the reference's
mapping server (``server/src/main/scala/.../ExtractionManager.scala`` +
``Server.scala``: paste a page, see every extractor's quads immediately).

SURVEY.md §3.3 flags this interactive loop as the reference's main tool for
iterating on mappings; ``extract_page`` gives the same capability without an
HTTP server: one wikitext page (plus optional side pages — redirect targets,
File pages for the non-free harvest) in, a ``{dataset: [quad dict, ...]}``
out, running the SAME DataFrame extractors as the batch pipeline over a
one-row in-memory corpus. Nothing here is on the batch hot path — a single
page is driver-sized by definition, so the ``.collect()`` is the point.

    >>> from kgforge.single_page import extract_page
    >>> out = extract_page(spark, "'''X''' is a [[Y]].", title="X")
    >>> out["labels"]
    [{'subject': 'http://dbpedia.org/resource/X', ...}]
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import SparkSession

from .extractors.fused import explode_quads, page_quads
from .media import (
    commons_kml_quads,
    commons_resource_quads,
    dbpedia_resource_quads,
    image_annotation_quads,
    image_meta_quads,
    media_quads,
)
from .parse import prepare
from .pipeline import per_page_quads
from .schema import CORPUS_SCHEMA


def _page_row(content: str, title: str, lang: str) -> tuple[str, str, str, str, str]:
    path = "debug/" + title.replace(" ", "_").replace("/", "%2F") + ".wiki"
    return ("debug", path, "debug0", lang, content)


def extract_page(
    spark: SparkSession,
    content: str,
    title: str = "Debug page",
    lang: str = "en",
    extra_pages: list[tuple[str, str]] | None = None,
    include: tuple[str, ...] = ("fused", "per_page", "media", "image_meta"),
) -> dict[str, list[dict]]:
    """Run every extractor group over one in-memory page and return its quads
    grouped by dataset. The ``"fused"`` group is the batch job's per-page
    extraction (``page_quads``, default mapping rules and ontology), the
    ``"per_page"`` group its ``per_page`` stage (``pipeline.per_page_quads``:
    NIF, long abstracts, cited facts, fr population).

    ``extra_pages`` are additional (title, content) pages parsed alongside —
    e.g. a ``File:…`` page so the non-free gate has something to harvest, or
    a template page. Only quads whose subject derives from ``title``'s page
    are NOT filtered — all quads from all supplied pages are returned, so
    side-page extractors (File-page KML, annotations) are visible too."""
    rows = [_page_row(content, title, lang)]
    for t, c in extra_pages or ():
        rows.append(_page_row(c, t, lang))
    corpus = spark.createDataFrame(rows, CORPUS_SCHEMA)
    parsed = prepare(corpus).persist()
    parsed.count()  # materialize BEFORE the fan-out (persist-race lesson)
    try:
        parts = []
        if "fused" in include or "per_page" in include:
            quads = explode_quads(page_quads(parsed))
        if "fused" in include:
            parts.append(quads)
        if "per_page" in include:
            parts.append(per_page_quads(parsed, quads))
        if "media" in include:
            parts.append(media_quads(parsed))
            parts.append(commons_resource_quads(parsed))
            parts.append(dbpedia_resource_quads(parsed))
            parts.append(commons_kml_quads(parsed))
            parts.append(image_annotation_quads(parsed))
        if "image_meta" in include:
            parts.append(image_meta_quads(parsed))
        out: dict[str, list[dict]] = defaultdict(list)
        for df in parts:
            for row in df.collect():
                d = row.asDict()
                out[d.pop("dataset")].append(d)
        return dict(out)
    finally:
        parsed.unpersist()
