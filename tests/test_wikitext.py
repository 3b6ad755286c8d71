"""Unit tests for the wikitext parser (port of the reference's parser test
tables — core/src/test/scala/.../SimpleWikiParser behavior)."""

from kgforge.wikitext import parse
from kgforge.namespaces import CATEGORY, MAIN, TEMPLATE


def test_redirect_detection():
    assert parse("#REDIRECT [[Other Title]]").redirect == "Other Title"
    assert parse("#redirect [[X]]").redirect == "X"
    assert parse(" #WEITERLEITUNG [[Ziel]]").redirect == "Ziel"
    assert parse("Not a redirect [[X]]").redirect is None


def test_internal_links():
    p = parse("See [[Alpha]] and [[Beta|the beta]] and [[Category:Things]].")
    assert [(l.target, l.ns, l.label) for l in p.links] == [
        ("Alpha", MAIN, "Alpha"),
        ("Beta", MAIN, "the beta"),
        ("Things", CATEGORY, "Category:Things"),  # raw text as written
    ]


def test_interlanguage_links():
    p = parse("[[de:Titel]] [[fr:Autre]] [[en:Thing]]")
    assert [(l.iw, l.target) for l in p.links] == [("de", "Titel"), ("fr", "Autre"), ("en", "Thing")]


def test_external_links():
    p = parse("[http://example.org/x the label] and bare https://foo.example/y here")
    assert [(e.uri, e.label) for e in p.external_links] == [
        ("http://example.org/x", "the label"),
        ("https://foo.example/y", ""),
    ]


def test_template_params():
    p = parse("{{Infobox test\n| name = Val One\n| 2nd = x\n| positional }}")
    (t,) = p.templates
    assert t.name == "Infobox test"
    assert [(x.key, x.value, x.explicit) for x in t.params] == [
        ("name", "Val One", True),
        ("2nd", "x", True),
        ("1", "positional", False),
    ]


def test_nested_templates_depth():
    p = parse("{{Outer|inner={{Inner|a=1}}}}")
    by_name = {t.name: t for t in p.templates}
    assert by_name["Outer"].depth == 0
    assert by_name["Inner"].depth == 1
    assert by_name["Outer"].pos < by_name["Inner"].pos


def test_parser_function_not_a_template():
    p = parse("{{#if: x | [[CondLink]] | no}}")
    assert p.templates == []
    assert [l.target for l in p.links] == ["CondLink"]


def test_template_parameter_decls():
    p = parse("uses {{{name}}} and {{{place|Default}}}")
    assert p.param_decls == ["name", "place"]


def test_skip_regions():
    p = parse("a <!-- [[Hidden]] --> b <ref>[[RefLink]]</ref> c <code>[[Code]]</code> d")
    assert p.links == []
    assert "Hidden" not in p.plain


def test_sections():
    p = parse("intro\n== History ==\ntext\n=== Deep ===\nmore")
    assert [(s.name, s.level) for s in p.sections] == [("History", 2), ("Deep", 3)]


def test_table_cells_scanned_for_links():
    p = parse("before\n{| class=x\n|-\n| [[CellLink]] || v\n|}\nafter")
    assert p.n_tables == 1
    assert [l.target for l in p.links] == ["CellLink"]


def test_malformed_degrades_to_text():
    p = parse("{{unclosed | a = b\nthen [[GoodLink]] works")
    assert p.errors >= 1
    assert [l.target for l in p.links] == ["GoodLink"]


def test_plain_and_abstract():
    p = parse("'''Bold''' start with [[Link|linked text]].\n\nSecond para.")
    assert p.abstract == "Bold start with linked text."
    assert "Second para." in p.plain


def test_bounded_nesting_no_crash():
    evil = "{{a|" * 50 + "x" + "}}" * 50
    p = parse(evil)  # must not raise
    assert p.errors >= 0


def test_table_structure():
    p = parse(
        'x\n{| class="wikitable"\n|+ My Caption\n|-\n! A !! B\n|-\n| 1 || 2\n|-\n| 3 || 4\n|}\n'
    )
    assert p.n_tables == 1
    (t,) = p.tables
    assert t.caption == "My Caption"
    assert t.n_rows == 3
    cells = {(c.row, c.col): (c.text, c.header) for c in t.cells}
    assert cells[(0, 0)] == ("A", True)
    assert cells[(0, 1)] == ("B", True)
    assert cells[(1, 0)] == ("1", False)
    assert cells[(2, 1)] == ("4", False)


def test_named_ref_forward_and_multiline():
    """InfoboxReferencesExtractor completeness: a self-closing named ref
    BEFORE its definition resolves (forward reference), and a ref on a
    continuation line of a multi-line property value is attributed to that
    property (walk-back stops at boundaries/blank lines)."""
    from kgforge.wikitext import _extract_refs

    fwd = ("{{Infobox x\n| pop = 5<ref name=a/>\n}}\n"
           "Later.<ref name=a>The Census</ref>\n")
    assert ("pop", "The Census", "The Census") in _extract_refs(fwd)
    multi = ("{{Infobox x\n| desc = first line\nsecond line\n"
             "third<ref>Src B</ref>\n| other = y\n}}\n")
    assert _extract_refs(multi) == [("desc", "Src B", "Src B")]
    # prose refs stay unattributed (blank-line / boundary stops)
    assert _extract_refs("Intro.\n\nNote here.<ref>Plain</ref>\n") == [(None, "Plain", "Plain")]
    assert _extract_refs("{{Infobox x\n| a = 1\n}}\nafter<ref>P</ref>\n") == [(None, "P", "P")]


def test_ref_walkback_boundaries():
    """Review findings r3: a walked-back param line that CLOSES the template
    is a boundary; table rows/headers and headings never attribute."""
    from kgforge.wikitext import _extract_refs

    # template closed on the last param line — following prose ref is OUTSIDE
    closed = "{{Infobox x\n| b = 2}}\nProse text<ref>R</ref>\n"
    assert _extract_refs(closed) == [(None, "R", "R")]
    # ref on a table row never attributes to anything above
    table = "{{Infobox x\n| a = 1\n}}\n{|\n! Year\n|-\n| 2001<ref>T</ref>\n|}\n"
    assert _extract_refs(table) == [(None, "T", "T")]
    # genuine multi-line value attribution still works
    multi = "{{Infobox x\n| desc = one\ntwo<ref>D</ref>\n}}\n"
    assert _extract_refs(multi) == [("desc", "D", "D")]


def test_gallery_gate_case_insensitive():
    from kgforge.wikitext import parse

    p = parse("<GaLlery>\nFile:Mixed case.jpg|cap\n</GALLERY>\n")
    assert p.galleries == [("Mixed case.jpg", "cap")]


def test_section_content_offsets():
    """r4: per-section CONTENT spans over the final plain text (headings are
    not rendered; empty and trailing sections get zero-width spans; marker
    machinery leaves no residue and does not change the rendered text)."""
    r = parse("Intro.\n\n== A ==\nAlpha body.\n== Empty ==\n== B ==\nBeta body.\n\n== Tail ==\n")
    plain = r.plain
    assert "" not in plain and "" not in plain
    assert plain == "Intro.\n\nAlpha body.\n\nBeta body."
    a, empty, b, tail = r.sections
    # spans stop at their own content — no trailing paragraph separator
    assert plain[a.begin:a.end] == "Alpha body."
    assert plain[b.begin:b.end] == "Beta body."
    assert empty.begin == empty.end  # zero-width
    assert tail.begin == tail.end == len(plain)


def test_many_consecutive_empty_sections_render_clean():
    """Review r4: a long run of empty sections (marker chains) must not
    leave whitespace residue in plain text (single-pass marker shifter,
    bounded by text length not marker count)."""
    src = "intro\n" + "".join(f"== S{i} ==\n" for i in range(25)) + "content here\n"
    r = parse(src)
    assert r.plain == "intro\n\ncontent here"
    assert len(r.sections) == 25
    assert all(s.begin == s.end for s in r.sections[:-1])
    assert r.plain[r.sections[-1].begin:r.sections[-1].end] == "content here"


def test_plain_text_unchanged_by_marker_machinery():
    """Link + section markers are ZERO-WIDTH: odd labels (leading/trailing
    whitespace, markup-only) and headings render the same text as before
    the offset machinery existed."""
    r = parse("'''X''' sees [[A|  spaced label ]] and [[B|''italic'']] plus [[C|'''''']].\n")
    assert r.plain == "X sees spaced label and italic plus ."
    # offsets slice their anchors back out
    for l in r.links:
        if l.begin is not None:
            assert r.plain[l.begin:l.end].strip() != ""


# the cited-facts gate as a Spark rlike (java.util.regex) before the parse
# minted the citation IRI; the Python gate must accept exactly the same bodies
_JAVA_CITE_GATE = r"(?i)\{\{\s*(?:cite[\s_]|citation\s*[|}]|literatur\s*[|}]|internetquelle\s*[|}])"


def test_cite_gate_matches_java_rlike(spark):
    from pyspark.sql import functions as F

    from kgforge.wikitext import _CITE_IN_REF_RE

    bodies = [
        "{{cite web|url=http://a.example}}", "{{Cite_book|isbn=1}}", "{{ CITE\tnews|x=1}}",
        "{{cite}}", "{{citeweb|url=u}}", "{{citation|url=u}}", "{{Citation }}",
        "{{citationx|url=u}}", "{{Literatur|Titel=T}}", "{{internetquelle}}",
        "{{\x0bcite web}}", "{{\fcite\rweb}}", "{{cite\x0bweb}}",
        # Unicode whitespace and case folds that Python's default \s and
        # IGNORECASE accept but Java's do not
        "{{\u00a0cite web|url=u}}", "{{\u2003citation|url=u}}", "{{cite\u3000web|url=u}}",
        "{{CİTE web}}", "{{cıtation|x}}", "{{lıteratur|x}}",
        "plain text", "", "{cite web}", "{{ {{cite web|url=u}} }}",
    ]
    df = spark.createDataFrame([(b,) for b in bodies], "raw string")
    java = [r.ok for r in df.select(F.col("raw").rlike(_JAVA_CITE_GATE).alias("ok")).collect()]
    assert [bool(_CITE_IN_REF_RE.search(b)) for b in bodies] == java
    assert any(java) and not all(java)


def test_first_cite_iri():
    from kgforge.vocab import citation_iri
    from kgforge.wikitext import first_cite_iri

    assert first_cite_iri("{{cite web|url=http://a.example|title=T}}") == citation_iri(
        [("url", "http://a.example"), ("title", "T")]
    )
    # the first citation template wins; other templates are skipped
    assert first_cite_iri(
        "{{small|x}} {{Cite book|isbn=123}} {{cite web|url=http://b.example}}"
    ) == citation_iri([("isbn", "123")])
    # no gate match, or a gate match without a citation template name
    assert first_cite_iri("Plain source") is None
    assert first_cite_iri("{{cite}}") is None
    assert first_cite_iri("{{ cite web|url=http://a.example}}") is None
