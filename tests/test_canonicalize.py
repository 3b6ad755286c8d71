"""URI policies + canonicalization (UriPolicy.scala:33-108, UriUtils,
MapSubjectUris/CanonicalizeUris scripts)."""

from pyspark.sql import functions as F

from kgforge.canonicalize import (
    apply_uri_policies,
    canonicalize_uris,
    map_subject_uris,
)

SCHEMA = (
    "language string, dataset string, subject string, predicate string, "
    "value string, context string, datatype string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_policy_generic(spark):
    q = _df(spark, [("de", "d", "http://de.dbpedia.org/resource/X", "http://p", "http://de.dbpedia.org/resource/Y", None, None)])
    out = canonicalize_uris(q).collect()[0]
    assert out.subject == "http://dbpedia.org/resource/X"
    assert out.value == "http://dbpedia.org/resource/Y"


def test_generic_leaves_literals(spark):
    q = _df(spark, [("de", "d", "http://de.dbpedia.org/resource/X", "http://p", "ein literal", None, "http://www.w3.org/2001/XMLSchema#string")])
    out = canonicalize_uris(q).collect()[0]
    assert out.value == "ein literal"


def test_reject_long_drops_quad(spark):
    long_iri = "http://example.org/" + "x" * 600
    rows = [
        ("en", "d", long_iri, "http://p", "http://o", None, None),
        ("en", "d", "http://s", "http://p", "http://o", None, None),
    ]
    out = apply_uri_policies(_df(spark, rows))
    assert out.count() == 1


def test_iri_to_uri(spark):
    rows = [("en", "d", "http://dbpedia.org/resource/Café", "http://p", "http://o", None, None)]
    out = apply_uri_policies(_df(spark, rows), uri=True).collect()[0]
    assert out.subject == "http://dbpedia.org/resource/Caf%C3%A9"


def test_xml_safe(spark):
    rows = [("en", "d", "http://s/a&b", "http://p", "http://o", None, None)]
    out = apply_uri_policies(_df(spark, rows), xml_safe=True).collect()[0]
    assert out.subject == "http://s/a%26b"


def test_map_subject_uris(spark):
    q = _df(spark, [("en", "page_links", "http://old", "http://p", "http://o", None, None),
                    ("en", "page_links", "http://other", "http://p", "http://o", None, None)])
    m = spark.createDataFrame([("http://old", "http://new")], "src string, dst string")
    rows = {(r.subject, r.dataset) for r in map_subject_uris(q, m).collect()}
    assert rows == {("http://new", "page_links_redirected"), ("http://other", "page_links_redirected")}


def test_recode_uris(spark):
    """RecodeUris: doubly/inconsistently percent-encoded resource IRIs
    normalize to the wikiEncode policy form."""
    from kgforge.canonicalize import recode_uris

    schema = (
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string"
    )
    rows = [
        ("en", "d", "http://dbpedia.org/resource/Caf%C3%A9_de%20Flore", "http://p",
         "http://dbpedia.org/resource/A%2Cb", None, None),
        ("en", "d", "http://dbpedia.org/resource/Ok", "http://p", "literal stays", None,
         "http://www.w3.org/2001/XMLSchema#string"),
    ]
    out = {(r.subject, r.value) for r in recode_uris(spark.createDataFrame(rows, schema)).collect()}
    subjects = {s for s, _ in out}
    from kgforge.namespaces import wiki_encode
    assert "http://dbpedia.org/resource/" + wiki_encode("Café de Flore") in subjects
    assert ("http://dbpedia.org/resource/Ok", "literal stays") in out


def test_interlanguage_same_as(spark):
    """Only BIDIRECTIONAL interlanguage links become owl:sameAs
    (ProcessInterLanguageLinks semantics)."""
    from kgforge.canonicalize import interlanguage_same_as
    from kgforge.vocab import INTERLANGUAGE_LINKS, OWL_SAME_AS

    schema = (
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string"
    )
    en_a, de_a = "http://dbpedia.org/resource/A", "http://de.dbpedia.org/resource/A"
    rows = [
        ("en", INTERLANGUAGE_LINKS, en_a, "p", de_a, None, None),
        ("de", INTERLANGUAGE_LINKS, de_a, "p", en_a, None, None),
        # one-directional: en B -> de B with no backlink
        ("en", INTERLANGUAGE_LINKS, "http://dbpedia.org/resource/B", "p",
         "http://de.dbpedia.org/resource/B", None, None),
        ("en", "labels", en_a, "p", "A", None, "x"),
    ]
    out = interlanguage_same_as(spark.createDataFrame(rows, schema))
    got = {(r.subject, r.predicate, r.value) for r in out.collect()}
    assert got == {(en_a, OWL_SAME_AS, de_a), (de_a, OWL_SAME_AS, en_a)}


def test_uri_to_iri_transcoding():
    """UriUtils.uriToIri (iri/UriUtils.scala:16-157): UTF-8 escape runs
    decode to raw unicode, reserved/control escapes stay, malformed UTF-8
    left untouched; round-trips with the IRI→URI direction."""
    from kgforge.canonicalize import uri_to_iri

    assert uri_to_iri("http://dbpedia.org/resource/Caf%C3%A9") == "http://dbpedia.org/resource/Café"
    assert uri_to_iri("http://x/%E6%9D%B1%E4%BA%AC") == "http://x/東京"
    # reserved stays escaped (decoding %2F/%23 would change semantics)
    assert uri_to_iri("http://x/a%2Fb%23c") == "http://x/a%2Fb%23c"
    # control char stays escaped; unreserved decodes
    assert uri_to_iri("http://x/a%0Ab%41") == "http://x/a%0AbA"
    # malformed UTF-8 run untouched
    assert uri_to_iri("http://x/%C3") == "http://x/%C3"
    assert uri_to_iri("plain no escapes") == "plain no escapes"
    # per-sequence decode (UriToIriDecoder): the valid prefix of a run
    # decodes, only the malformed byte stays escaped (ADVICE r3)
    assert uri_to_iri("http://x/%41%C3") == "http://x/A%C3"
    assert uri_to_iri("http://x/%C3%41") == "http://x/%C3A"
    assert uri_to_iri("http://x/%C3%A9%FF%C3%A9") == "http://x/é%FFé"


def test_uri_to_iri_quads_positions(spark):
    from kgforge.canonicalize import uri_to_iri_quads

    quads = spark.createDataFrame(
        [
            ("en", "labels", "http://x/Caf%C3%A9", "p", "http://y/%C3%A9", None, None),
            ("en", "labels", "http://x/s", "p", "lit%C3%A9ral", None, "xsd:string"),
        ],
        "language string, dataset string, subject string, predicate string, "
        "value string, context string, datatype string",
    )
    rows = {(r.subject, r.value) for r in uri_to_iri_quads(quads).collect()}
    # literal values are NOT transcoded (datatype non-null)
    assert rows == {("http://x/Café", "http://y/é"), ("http://x/s", "lit%C3%A9ral")}


def test_uri_to_dbpedia_iri_reference_table():
    """Table-driven port of the java IRI stack's edge cases
    (core/src/test/scala/org/dbpedia/iri/IRITests.scala, all 11 rows):
    full uriToIri pipeline — fixpoint decode, reserved escapes kept, '+'
    as space in the path, whitespace collapse, query pinned verbatim."""
    from kgforge.canonicalize import uri_to_dbpedia_iri

    rows = [
        # simple non-ASCII
        ("http://dbpedia.org/resource/Robert_Sch%C3%B6ller",
         "http://dbpedia.org/resource/Robert_Schöller"),
        # + instead of %20 (path only)
        ("http://dbpedia.org/resource/Jeanne+Deroubaix",
         "http://dbpedia.org/resource/Jeanne_Deroubaix"),
        # reserved: #?[]} stay, !* decode
        ("http://dbpedia.org/resource/%21%23%3F%5B%5D%7D%2A",
         "http://dbpedia.org/resource/!%23%3F%5B%5D%7D*"),
        # unwise chars stay escaped; double whitespace -> one underscore
        ("http://dbpedia.org/resource/%22%3C%3E%5C%5E%60%7B%7C  test",
         "http://dbpedia.org/resource/%22%3C%3E%5C%5E%60%7B%7C_test"),
        # double +
        ("http://dbpedia.org/resource/Jeanne++Deroubaix",
         "http://dbpedia.org/resource/Jeanne_Deroubaix"),
        # russian
        ("http://dbpedia.org/resource/%D1%84%D0%BB%D1%8D%D1%88%D0%B1%D0%B5%D0%BA%D0%B0%D1%85",
         "http://dbpedia.org/resource/флэшбеках"),
        # encoding depth > 1
        ("http://pt.dbpedia.org/resource/%25C3%2581rea_de_Re…",
         "http://pt.dbpedia.org/resource/Área_de_Re…"),
        # invalid escapes pass through
        ("http://pt.dbpedia.org/resource/foo%3", "http://pt.dbpedia.org/resource/foo%3"),
        ("http://pt.dbpedia.org/resource/foo%2K", "http://pt.dbpedia.org/resource/foo%2K"),
        # arabic (direction change)
        ("http://pt.dbpedia.org/resource/%D8%AA%D9%85%D8%AA%D9%84%D9%83",
         "http://pt.dbpedia.org/resource/تمتلك"),
    ]
    q = ("http://dbpedia-live.openlinksw.com/sparql/?default-graph-uri="
         "http%3A%2F%2Fstatic.dbpedia.org&qtxt=describe+http%3A%2F%2Fdbpedia.org"
         "%2Fresource%2FAmsterdam&format=text%2Fx-html%2Bul&CXML_redir_for_subjs="
         "121&CXML_redir_for_hrefs=&timeout=30000&debug=on")
    rows.append((q, q))  # query strings pinned verbatim
    for src, want in rows:
        assert uri_to_dbpedia_iri(src) == want, src


def test_uri_iri_roundtrip_property():
    """Property: an IRI built from a wiki-encoded title survives the
    URI-escape → uriToIri round trip (unicode comes back raw, the
    iriReplacements escapes stay stable)."""
    import urllib.parse

    from hypothesis import given, settings, strategies as st

    from kgforge.canonicalize import uri_to_dbpedia_iri
    from kgforge.namespaces import wiki_encode

    titles = st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" -()',."
        ),
        min_size=1, max_size=40,
    )

    @settings(max_examples=200, deadline=None)
    @given(titles)
    def check(title):
        enc = wiki_encode(title)
        if not enc:
            return
        iri = "http://dbpedia.org/resource/" + enc
        # IRI -> URI: percent-encode non-ASCII (the 'uri' policy direction)
        uri = urllib.parse.quote(iri, safe=":/?#[]@!$&'()*+,;=%~-._")
        back = uri_to_dbpedia_iri(uri)
        assert back == iri, (title, uri, back)

    check()


# ---------------------------------------------------------------------------
# CreateIriSameAsUriLinks / RemoveRemainingTags post-processing jobs
# ---------------------------------------------------------------------------

def _qrows(spark, rows):
    return spark.createDataFrame(
        rows,
        "language string, dataset string, subject string, predicate string,"
        " value string, context string, datatype string",
    )


def test_iri_same_as_uri_quads(spark):
    from kgforge.canonicalize import iri_same_as_uri_quads

    df = _qrows(
        spark,
        [
            ("en", "labels", "http://dbpedia.org/resource/Café", "p", "x", None, None),
            ("en", "labels", "http://dbpedia.org/resource/Plain", "p", "x", None, None),
            ("en", "other", "http://dbpedia.org/resource/Café", "p", "y", None, None),
        ],
    )
    got = iri_same_as_uri_quads(df).collect()
    # ASCII-clean subjects emit nothing; the IRI subject emits once (distinct)
    assert len(got) == 1
    q = got[0]
    assert q["subject"] == "http://dbpedia.org/resource/Café"
    assert q["predicate"].endswith("#sameAs")
    assert q["value"] == "http://dbpedia.org/resource/Caf%C3%A9"
    assert q["dataset"] == "iri_same_as_uri" and q["datatype"] is None


def test_remove_remaining_tags(spark):
    from kgforge.canonicalize import remove_remaining_tags

    xs = "http://www.w3.org/2001/XMLSchema#string"
    df = _qrows(
        spark,
        [
            ("en", "abstracts", "s1", "p", 'intro <div style="x"/> body</div>', None, xs),
            ("en", "abstracts", "s2", "p", "untouched value", None, xs),
            ("en", "abstracts", "s3", "p", "http://x/</div>", None, None),  # IRI row
            ("en", "other", "s4", "p", "scoped </div> out", None, xs),
        ],
    )
    got = {r["subject"]: r["value"] for r in remove_remaining_tags(df, {"abstracts"}).collect()}
    assert got["s1"] == "intro   body"  # both patterns replaced, trimmed
    assert got["s2"] == "untouched value"  # byte-equal passthrough
    assert got["s3"] == "http://x/</div>"  # non-literal untouched
    assert got["s4"] == "scoped </div> out"  # dataset out of scope


def test_unescape_java():
    from kgforge.canonicalize import unescape_java

    assert unescape_java(r"café \tx \101 \z \\n") == "café \tx A z \\n"
    assert unescape_java("plain") == "plain"


def test_clean_external_quads(spark):
    """CleanExternalDataset: IRI positions transcode URI→IRI for dbpedia
    resources, string literals revert Java escapes, typed literals pass."""
    from kgforge.canonicalize import clean_external_quads

    rows = [
        # percent-encoded dbpedia URI subject + resource object
        ("http://dbpedia.org/resource/Caf%C3%A9", "http://dbpedia.org/ontology/p",
         "http://dbpedia.org/resource/M%C3%BCnchen", None, None,
         "http://dbpedia.org/resource/Ctx%C3%A9"),
        # language literal with java escapes
        ("http://dbpedia.org/resource/A", "http://dbpedia.org/ontology/label",
         r"café\tbar", None, "en", None),
        # xsd:string literal
        ("http://dbpedia.org/resource/A", "http://dbpedia.org/ontology/s",
         r"xA", "http://www.w3.org/2001/XMLSchema#string", None, None),
        # numeric literal untouched even with backslash
        ("http://dbpedia.org/resource/A", "http://dbpedia.org/ontology/n",
         r"42", "http://www.w3.org/2001/XMLSchema#integer", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subject STRING, predicate STRING, value STRING, datatype STRING, "
        "language STRING, context STRING",
    )
    got = clean_external_quads(df).collect()
    assert got[0].subject == "http://dbpedia.org/resource/Café"
    assert got[0].value == "http://dbpedia.org/resource/München"
    assert got[0].context == "http://dbpedia.org/resource/Ctxé"
    assert got[1].value == "café\tbar"
    assert got[2].value == "xA"
    assert got[3].value == r"42"


def test_unescape_java_roundtrip_property():
    from hypothesis import given, settings, strategies as st

    from kgforge.canonicalize import unescape_java

    @settings(max_examples=200, deadline=None)
    @given(st.text())
    def check(s):
        esc = "".join(
            f"\\u{ord(c):04x}" if ord(c) < 32 or c == "\\" else c for c in s
        )
        assert unescape_java(esc) == s

    check()
