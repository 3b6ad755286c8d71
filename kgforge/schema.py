"""Fixed StructTypes for every stage boundary (the reference uses fixed case
classes — WikiPage.scala:25-34, Quad.scala:31-39; we use fixed StructTypes so
Catalyst can prune nested fields and plans stay stable at scale)."""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input corpus (BASELINE.json input_hint shape) -------------------------
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# ---- parse-stage output: nested feature columns ----------------------------
LINK_TYPE = T.StructType(
    [
        T.StructField("target", T.StringType(), True),   # normalized title
        T.StructField("ns", T.IntegerType(), True),      # namespace code
        T.StructField("iw", T.StringType(), True),       # interlanguage prefix
        T.StructField("label", T.StringType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("iri", T.StringType(), True),      # minted at parse time
        T.StructField("begin", T.LongType(), True),      # anchor offsets in
        T.StructField("end", T.LongType(), True),        # plain_text (or null)
    ]
)

EXTERNAL_LINK_TYPE = T.StructType(
    [
        T.StructField("uri", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("line", T.IntegerType(), True),
    ]
)

TEMPLATE_PARAM_TYPE = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("explicit", T.BooleanType(), True),
    ]
)

TEMPLATE_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("pos", T.IntegerType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("iri", T.StringType(), True),      # Template:<name> IRI
        T.StructField("params", T.ArrayType(TEMPLATE_PARAM_TYPE), True),
    ]
)

TABLE_CELL_TYPE = T.StructType(
    [
        T.StructField("row", T.IntegerType(), True),
        T.StructField("col", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("header", T.BooleanType(), True),
    ]
)

TABLE_TYPE = T.StructType(
    [
        T.StructField("caption", T.StringType(), True),
        T.StructField("n_rows", T.IntegerType(), True),
        T.StructField("cells", T.ArrayType(TABLE_CELL_TYPE), True),
    ]
)

SECTION_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("begin", T.LongType(), True),  # content span in
        T.StructField("end", T.LongType(), True),    # plain_text (or null)
    ]
)

# Columns the parse stage APPENDS to the corpus+derived columns.
REF_TYPE = T.StructType(
    [
        T.StructField("key", T.StringType(), True),       # infobox param key or null
        T.StructField("prop_iri", T.StringType(), True),  # minted at parse time
        T.StructField("text", T.StringType(), True),      # plain ref content
        T.StructField("cite_iri", T.StringType(), True),  # first citation in a keyed ref
    ]
)

GALLERY_ITEM_TYPE = T.StructType(
    [
        T.StructField("file", T.StringType(), True),      # normalized file title
        T.StructField("enc", T.StringType(), True),       # wiki-encoded (minted)
        T.StructField("caption", T.StringType(), True),   # plain caption
    ]
)

PARSE_FEATURE_FIELDS = [
    T.StructField("subject", T.StringType(), True),      # page resource IRI
    T.StructField("page_iri", T.StringType(), True),     # wikipedia page IRI
    T.StructField("redirect_target", T.StringType(), True),
    T.StructField("links", T.ArrayType(LINK_TYPE), True),
    T.StructField("external_links", T.ArrayType(EXTERNAL_LINK_TYPE), True),
    T.StructField("templates", T.ArrayType(TEMPLATE_TYPE), True),
    T.StructField("param_decls", T.ArrayType(T.StringType()), True),
    T.StructField("sections", T.ArrayType(SECTION_TYPE), True),
    T.StructField("tables", T.ArrayType(TABLE_TYPE), True),
    T.StructField("ref_texts", T.ArrayType(REF_TYPE), True),
    T.StructField("galleries", T.ArrayType(GALLERY_ITEM_TYPE), True),
    T.StructField("coord_lat", T.DoubleType(), True),   # first root coord tpl
    T.StructField("coord_lon", T.DoubleType(), True),
    T.StructField("n_tables", T.IntegerType(), True),
    T.StructField("plain_text", T.StringType(), True),
    T.StructField("abstract", T.StringType(), True),
    T.StructField("parse_errors", T.IntegerType(), True),
]

# ---- the Quad (transform/Quad.scala:31-39) ---------------------------------
QUAD_SCHEMA = T.StructType(
    [
        T.StructField("language", T.StringType(), False),
        T.StructField("dataset", T.StringType(), False),
        T.StructField("subject", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
        T.StructField("context", T.StringType(), True),
        T.StructField("datatype", T.StringType(), True),  # null ⇒ IRI object
    ]
)

# Quad equality for P/R ignores dataset and context (Quad.scala:120-157).
QUAD_KEY = ["subject", "predicate", "value", "datatype", "language"]
