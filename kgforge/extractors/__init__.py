"""Extractor suite: parsed-page DataFrame → quad DataFrame.

Each extractor is a named segment — parsed columns → ``array<quad>`` — the
Spark-first re-expression of the reference's ``Extractor[N].extract(page) →
Seq[Quad]`` contract (mappings/Extractor.scala:9-33). The page is parsed once
(CompositeParseExtractor parse-once semantics) and every segment is
Catalyst-optimizable: ``fused_quads`` explodes all of them in one narrow
pass, ``run_extractors`` a named subset, and ``page_quads`` adds the
mapping cascades to the same per-page select. No Python runs in the loop
except the vectorized infobox-typing and mapping UDFs. ``structural.py``
holds the reference configuration tables and the standalone extractors
outside the suite.
"""

from .fused import ALL_EXTRACTORS, fused_quads, page_quads, run_extractors  # noqa: F401
