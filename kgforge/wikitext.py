"""Wikitext → structured page features. Pure Python, batch-friendly.

Brand-new recursive-descent scanner with the *semantics* of the reference's
``wikiparser/impl/simple/SimpleWikiParser.scala`` (732 LoC Scala):

- bounded nesting (MAX_NESTING=10) and error budget (MAX_ERRORS=1000); on a
  malformed construct the parser counts an error and degrades the region to
  plain text (SimpleWikiParser.scala:19-20, 203-212)
- skipped regions: ``<!--…-->``, ``<ref>``, ``<math>``, ``<code>``,
  ``<source>``, ``<nowiki>`` (SimpleWikiParser.scala:158-182)
- internal links ``[[Target|label]]`` incl. category / interlanguage / file
  targets, external links ``[http://… label]`` and bare URLs
  (SimpleWikiParser.scala:279-436)
- templates ``{{Name|k=v|positional}}`` with implicit positional keys 1,2,…,
  parser functions ``{{#if:…}}``, template parameters ``{{{param|default}}}``
  (SimpleWikiParser.scala:452-549)
- tables ``{|…|}`` (counted + cells scanned for links), headings ``== X ==``
  (SimpleWikiParser.scala:551-731)
- per-language redirect detection (SimpleWikiParser.scala:54-69)

Instead of materializing an AST, the parser accumulates exactly the flat
feature lists downstream extractors need; it is called once per page inside
an Arrow-batched ``mapInPandas`` stage (see kgforge/parse.py), so the AST is
never shuffled — only typed nested columns are.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from dataclasses import dataclass, field

from .namespaces import LANG_CODES, MAIN, split_namespace, normalize_title, wiki_encode
from .vocab import citation_iri

MAX_NESTING = 10
MAX_ERRORS = 1000

# Redirect keywords per language (SimpleWikiParser.scala:54-69,
# Redirects.scala:182-196).
_REDIRECT_RE = re.compile(
    r"^\s*#(?:REDIRECT|WEITERLEITUNG|REDIRECTION)\s*:?\s*\[\[([^\]\|#]+)",
    re.IGNORECASE,
)

# <ref> capture for InfoboxReferencesExtractor (runs BEFORE skip-region
# stripping; mappings/InfoboxReferencesExtractor.scala:60-120 does the same
# regex dance over the raw source)
_REF_PAIR_RE = re.compile(r"<ref\b([^>/]*)>(.*?)</ref\s*>", re.IGNORECASE | re.DOTALL)
_REF_SELF_RE = re.compile(r"<ref\b([^>/]*)/\s*>", re.IGNORECASE)
_REF_NAME_RE = re.compile(r"""name\s*=\s*["']?([^"'>/]+?)["']?\s*$""", re.IGNORECASE)
_PARAM_LINE_RE = re.compile(r"^\s*\|\s*([A-Za-z0-9_ -]+?)\s*=")
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|\Z)", re.DOTALL)


def _extract_refs(content: str) -> list[tuple[str | None, str, str]]:
    """(infobox param key | None, plain ref text, raw body) per <ref>
    occurrence.
    Named refs (<ref name=x>) resolve self-closing reuses (<ref name=x/>);
    a ref is attributed to the template property whose '| key =' starts the
    same line (the reference's sentinel-insertion heuristic, simplified)."""
    if "<ref" not in content and "<Ref" not in content and "<REF" not in content:
        return []
    c = _COMMENT_RE.sub("", content)
    named: dict[str, str] = {}
    for m in _REF_PAIR_RE.finditer(c):
        nm = _REF_NAME_RE.search(m.group(1).strip())
        if nm:
            named.setdefault(nm.group(1).strip(), m.group(2))
    events = [(m.start(), m.group(1), m.group(2)) for m in _REF_PAIR_RE.finditer(c)]
    events += [(m.start(), m.group(1), None) for m in _REF_SELF_RE.finditer(c)]
    out: list[tuple[str | None, str, str]] = []
    for start, attrs, body in sorted(events, key=lambda e: e[0]):
        if body is None:
            nm = _REF_NAME_RE.search(attrs.strip())
            body = named.get(nm.group(1).strip()) if nm else None
            if body is None:
                continue
        # attribute to the property whose '| key =' line the ref sits on; a
        # ref on a CONTINUATION line of a multi-line value walks back to the
        # nearest param line, stopping at template boundaries / blank lines
        # (InfoboxReferencesExtractor.scala multi-line property values)
        key = None
        end_ = start
        while end_ > 0:
            ls = c.rfind("\n", 0, end_) + 1
            line = c[ls:end_]
            km = _PARAM_LINE_RE.match(line)
            if km:
                # a WALKED-BACK param line that also closes the template
                # ('| b = 2}}') is a boundary, not an attribution — the ref
                # sits OUTSIDE the infobox
                if end_ != start and line.rstrip().endswith("}}"):
                    break
                key = km.group(1).strip()
                break
            stripped = line.strip()
            if end_ == start:
                # the ref's own line: a pipe/table/template start that is
                # NOT a param line means the ref is not in a param value
                if stripped.startswith(("{|", "!", "{{", "}}")) or (
                    stripped.startswith("|") and "=" not in stripped
                ):
                    break
            elif not stripped or stripped.startswith(("{{", "}}", "|", "{|", "!", "==")):
                break
            end_ = ls - 1
        text = " ".join(_strip_markup(_plain_of(body)).split())
        if text or body.strip():
            # keep refs whose body is pure template markup (plain text '')
            # — CitedFactsExtractor needs the raw cite template
            out.append((key, text, body.strip()))
    return out


# gate for a citation template in a <ref> body; ASCII-only whitespace and
# case folding, as java.util.regex's \s and (?i) (the gate was a Spark rlike)
_CITE_IN_REF_RE = re.compile(
    r"\{\{[ \t\n\x0b\f\r]*(?:cite[ \t\n\x0b\f\r_]|citation[ \t\n\x0b\f\r]*[|}]"
    r"|literatur[ \t\n\x0b\f\r]*[|}]|internetquelle[ \t\n\x0b\f\r]*[|}])",
    re.IGNORECASE | re.ASCII,
)
# explicit citation-template names (CitationExtractorConfig: cite*/citation
# plus the exact de names) — broad prefixes like 'bib.*' wrongly captured
# 'Bibliography'/'Bible' AND shadowed their mapping rules (ADVICE r2)
_CITE_NAME_RE = re.compile(r"^(cite.*|citation|literatur|internetquelle)$")


def first_cite_iri(raw: str) -> str | None:
    """Citation-node IRI of the FIRST citation template in a raw <ref> body
    (CitationExtractor.scala:330-365 id cascade via vocab.citation_iri), or
    None when the body carries no citation template."""
    if not _CITE_IN_REF_RE.search(raw):
        return None
    i = 0
    while True:
        j = raw.find("{{", i)
        if j == -1:
            return None
        end = _find_matching(raw, j + 2, "{{", "}}", 10)
        if end == -1:
            return None
        parts = _split_top_level(raw[j + 2 : end - 2])
        name = (parts[0] or "").strip().lower().replace("_", " ")
        if _CITE_NAME_RE.match(name):
            params, pos_key = [], 0
            for p in parts[1:]:
                k, eq, v = p.partition("=")
                if eq:
                    params.append((k.strip(), v.strip()))
                else:
                    pos_key += 1
                    params.append((str(pos_key), p.strip()))
            iri = citation_iri(params)
            if iri:
                return iri
        i = end


# <gallery> capture for GalleryExtractor (mappings/GalleryExtractor.scala:
# 24-122): bodies are harvested BEFORE skip-region stripping, each line
# "File:Name.ext|caption" → (normalized file title, plain caption)
_GALLERY_RE = re.compile(r"<gallery\b[^>]*>(.*?)(?:</gallery\s*>|\Z)", re.IGNORECASE | re.DOTALL)
_GALLERY_PREFIX_RE = re.compile(r"^(?:file|image|bild|fichier)\s*:\s*", re.IGNORECASE)


_GALLERY_GATE_RE = re.compile(r"<gallery", re.IGNORECASE)


def _extract_galleries(content: str) -> list[tuple[str, str]]:
    # gate must match the capture/skip regexes' case-insensitivity — a
    # mixed-case <GaLlery> would otherwise lose its files while the skip
    # pass still strips the body
    if not _GALLERY_GATE_RE.search(content):
        return []
    out: list[tuple[str, str]] = []
    c = _COMMENT_RE.sub("", content)
    for m in _GALLERY_RE.finditer(c):
        for line in m.group(1).splitlines():
            line = line.strip()
            if not line:
                continue
            name, _, caption = line.partition("|")
            name = normalize_title(_GALLERY_PREFIX_RE.sub("", name.strip()))
            if not name or "." not in name:
                continue
            out.append((name, " ".join(_strip_markup(_plain_of(caption)).split())))
    return out


# Skip regions (comments and non-wiki tag islands).
_SKIP_RE = re.compile(
    r"<!--.*?(?:-->|\Z)"
    r"|<(ref|math|code|source|nowiki|pre|gallery)\b[^>/]*?/>"
    r"|<(ref|math|code|source|nowiki|pre|gallery)\b[^>]*?>.*?(?:</\2\s*>|\Z)",
    re.IGNORECASE | re.DOTALL,
)

# Master scanner: next interesting construct.
_MARKER_RE = re.compile(
    r"\{\{\{"          # template parameter
    r"|\{\{"           # template / parser function
    r"|\[\["           # internal link
    r"|\[(?=(?:https?:|ftp:|//))"  # bracketed external link
    r"|(?<![\[/\w])(?:https?|ftp)://[^\s\]<>\|\}\{]+"  # bare URL
    r"|\n(?==)"        # potential heading at line start
    r"|\n(?=\{\|)"     # table at line start
)

_HEADING_RE = re.compile(r"\n(={2,6})[ \t]*(.+?)[ \t]*(={2,6})[ \t]*(?=\n|\Z)")
_BOLD_ITALIC_RE = re.compile(r"'{2,}")
_TAG_RE = re.compile(r"</?[A-Za-z][^>]*>")
_URL_SCHEME_RE = re.compile(r"^(?:https?|ftp)://", re.IGNORECASE)


@dataclass
class Link:
    target: str        # normalized decoded title (no namespace prefix)
    ns: int            # namespace code of the target
    iw: str            # interwiki/interlanguage prefix ("" if local)
    label: str         # anchor text (plain)
    line: int
    # character offsets of this occurrence's anchor in the final plain text
    # (None when the link does not render into plain text: non-main ns,
    # interwiki, inside templates/tables, markup-only label). Computed at
    # parse time so NIF text links are pure projection — no per-link
    # locate() scans over plain_text downstream (VERDICT r3 weak item).
    begin: int | None = None
    end: int | None = None


@dataclass
class ExternalLink:
    uri: str
    label: str
    line: int


@dataclass
class TemplateParam:
    key: str
    value: str         # raw wikitext of the value, trimmed
    explicit: bool


@dataclass
class Template:
    name: str          # normalized (first-cap, spaces)
    depth: int         # 0 = top level
    pos: int           # document order
    line: int
    params: list[TemplateParam] = field(default_factory=list)


@dataclass
class Section:
    name: str
    level: int
    line: int
    # character span of the section's CONTENT in the final plain text
    # (headings themselves are not rendered, so the span starts after the
    # heading and runs to the next heading / end — deterministic substitute
    # for the reference's rendered-HTML section offsets, nif/*)
    begin: int | None = None
    end: int | None = None


@dataclass
class TableCell:
    row: int
    col: int
    text: str          # plain cell text
    header: bool


@dataclass
class Table:
    caption: str
    n_rows: int
    cells: list[TableCell] = field(default_factory=list)


_COORD_NAMES = frozenset(("coord", "coor", "location"))


def parse_coord_params(values: list[str]) -> tuple[float, float] | None:
    """Coordinate template families (GeoCoordinateParser.scala:34-83):
    D|M|S|NS|D|M|S|EW, D|M|NS|D|M|EW, D|NS|D|EW, decimal lat|lon."""
    nums: list[float] = []
    lat_parts: list[float] = []
    lon_parts: list[float] = []
    seen_ns = False
    sign_lat = sign_lon = 1.0
    for tok in values:
        u = tok.strip().upper()
        if not u:
            continue
        if u in ("N", "S"):
            sign_lat = -1.0 if u == "S" else 1.0
            lat_parts, nums, seen_ns = nums, [], True
        elif u in ("E", "W"):
            sign_lon = -1.0 if u == "W" else 1.0
            lon_parts, nums = nums, []
        else:
            try:
                nums.append(float(u))
            except ValueError:
                pass  # display/format params
    if not seen_ns and len(nums) >= 2:
        return nums[0], nums[1]
    if lat_parts and lon_parts:
        div = (1.0, 60.0, 3600.0)
        lat = sign_lat * sum(v / div[k] for k, v in enumerate(lat_parts[:3]))
        lon = sign_lon * sum(v / div[k] for k, v in enumerate(lon_parts[:3]))
        return lat, lon
    return None


@dataclass
class ParsedPage:
    redirect: str | None = None          # raw redirect target title
    refs: list = field(default_factory=list)  # (param key | None, plain text)
    galleries: list = field(default_factory=list)  # (file title, caption)
    links: list[Link] = field(default_factory=list)
    external_links: list[ExternalLink] = field(default_factory=list)
    templates: list[Template] = field(default_factory=list)
    param_decls: list[str] = field(default_factory=list)
    sections: list[Section] = field(default_factory=list)
    n_tables: int = 0
    tables: list[Table] = field(default_factory=list)
    plain: str = ""
    abstract: str = ""
    errors: int = 0
    coord: tuple | None = None           # (lat, lon) of first root coord tpl

    def first_coord(self):
        """First ROOT template parseable as a coordinate
        (GeoExtractor.scala:26-58 iterates root templates)."""
        best = None
        for t in self.templates:
            if t.depth == 0 and t.name.lower() in _COORD_NAMES:
                c = parse_coord_params([p.value for p in t.params])
                if c is not None and (best is None or t.pos < best[0]):
                    best = (t.pos, c)
        return best[1] if best else None


class _Ctx:
    __slots__ = ("s", "nl", "out", "plain", "pos_counter", "errors", "lang")

    def __init__(self, s: str, out: ParsedPage, lang: str = "en"):
        self.s = s
        self.nl = [m.start() for m in re.finditer("\n", s)]
        self.out = out
        self.plain: list[str] = []
        self.pos_counter = 0
        self.errors = 0
        self.lang = lang

    def line(self, i: int) -> int:
        return bisect_right(self.nl, i) + 1


_BR_TAG_RE = re.compile(r"<br\s*/?>", re.IGNORECASE)

# Private-use markers bracketing rendered link anchors (E000/E001/E002) and
# section-content starts (E003 idx E004) in the plain-text accumulator;
# consumed (and stripped) by parse()'s offset extraction.
_MARK_BEGIN = "\ue000"
_MARK_SEP = "\ue001"
_MARK_END = "\ue002"
_SECT_BEGIN = "\ue003"
_SECT_END = "\ue004"
_MARK_CHARS_RE = re.compile("[\ue000\ue001\ue002\ue003\ue004]")


def _strip_markup(text: str) -> str:
    """Plain rendering of simple inline markup for labels/abstract. ``<br>``
    renders as a space (it is the template-transform multi-value separator;
    gluing its neighbors would corrupt transformed plain text), every other
    tag as nothing."""
    text = _BOLD_ITALIC_RE.sub("", text)
    text = _BR_TAG_RE.sub(" ", text)
    text = _TAG_RE.sub("", text)
    return text


def _find_matching(s: str, i: int, open_tok: str, close_tok: str, limit: int) -> int:
    """Index just past the matching close token for the open token at `i`
    (i points AFTER the opening token). -1 if unbalanced."""
    depth = 1
    lo, lc = len(open_tok), len(close_tok)
    j = i
    n = len(s)
    while j < n:
        no = s.find(open_tok, j)
        nc = s.find(close_tok, j)
        if nc == -1:
            return -1
        if no != -1 and no < nc:
            depth += 1
            j = no + lo
            if depth > limit + 2:  # runaway nesting → bail
                return -1
        else:
            depth -= 1
            j = nc + lc
            if depth == 0:
                return j
    return -1


def _split_top_level(s: str, sep: str = "|") -> list[str]:
    """Split on `sep` ignoring separators nested in {{ }} / [[ ]] / {{{ }}}."""
    parts: list[str] = []
    depth_brace = 0
    depth_brack = 0
    start = 0
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "{" and s.startswith("{{", i):
            depth_brace += 1
            i += 2
            continue
        if c == "}" and s.startswith("}}", i):
            depth_brace = max(0, depth_brace - 1)
            i += 2
            continue
        if c == "[" and s.startswith("[[", i):
            depth_brack += 1
            i += 2
            continue
        if c == "]" and s.startswith("]]", i):
            depth_brack = max(0, depth_brack - 1)
            i += 2
            continue
        if c == sep and depth_brace == 0 and depth_brack == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return parts


def _first_top_level_eq(s: str) -> int:
    """Position of the first '=' not nested inside {{ }} / [[ ]]; -1 if none."""
    depth_brace = 0
    depth_brack = 0
    i = 0
    n = len(s)
    while i < n:
        if s.startswith("{{", i):
            depth_brace += 1
            i += 2
            continue
        if s.startswith("}}", i):
            depth_brace = max(0, depth_brace - 1)
            i += 2
            continue
        if s.startswith("[[", i):
            depth_brack += 1
            i += 2
            continue
        if s.startswith("]]", i):
            depth_brack = max(0, depth_brack - 1)
            i += 2
            continue
        if s[i] == "=" and depth_brace == 0 and depth_brack == 0:
            return i
        i += 1
    return -1


def _classify_link_target(raw: str, lang: str | None = None) -> tuple[str, int, str, str] | None:
    """Raw link target → (title, ns, interwiki, fragment). None for unusable
    targets (WikiTitle.parse, wikiparser/WikiTitle.scala:114-184)."""
    t = raw.strip()
    if not t:
        return None
    frag = ""
    if "#" in t:
        t, frag = t.split("#", 1)
        t = t.strip()
        if not t:
            # same-page fragment link [[#Section]] — legitimate wikitext
            # (WikiTitle.parse keeps the page's own title + fragment); the
            # caller renders its label and records no link
            return "", MAIN, "", frag.strip()
    iw = ""
    forced_main = t.startswith(":")
    if forced_main:
        t = t[1:].strip()
    if ":" in t:
        prefix, rest = t.split(":", 1)
        p = prefix.strip().lower()
        if p in LANG_CODES:
            iw = p
            t = rest.strip()
    ns, rest = split_namespace(t, lang)
    title = normalize_title(rest)
    if not title:
        return None
    return title, ns, iw, frag.strip()


def _scan(ctx: _Ctx, s: str, base: int, depth: int, in_template: bool) -> None:
    """Scan region `s` (absolute offset `base` in the page) for constructs.

    Text between constructs is appended to the plain-text accumulator only at
    depth 0 (matching the reference's toPlainText over top-level text nodes
    plus link labels)."""
    out = ctx.out
    i = 0
    n = len(s)
    emit_plain = depth == 0 and not in_template
    while i < n:
        m = _MARKER_RE.search(s, i)
        if m is None:
            if emit_plain:
                ctx.plain.append(s[i:])
            break
        start = m.start()
        if emit_plain and start > i:
            ctx.plain.append(s[i:start])
        tok = m.group(0)
        if tok == "{{{":
            end = _find_matching(s, start + 3, "{{{", "}}}", MAX_NESTING)
            if end == -1:
                ctx.errors += 1
                i = start + 3
                continue
            inner = s[start + 3 : end - 3]
            name = _split_top_level(inner)[0].strip()
            if name:
                out.param_decls.append(name)
            i = end
        elif tok == "{{":
            end = _find_matching(s, start + 2, "{{", "}}", MAX_NESTING)
            if end == -1 or depth >= MAX_NESTING:
                ctx.errors += 1
                i = start + 2
                continue
            _parse_template(ctx, s[start + 2 : end - 2], base + start, depth)
            i = end
        elif tok == "[[":
            end = _find_matching(s, start + 2, "[[", "]]", MAX_NESTING)
            if end == -1:
                ctx.errors += 1
                i = start + 2
                continue
            _parse_internal_link(ctx, s[start + 2 : end - 2], base + start, depth, emit_plain)
            i = end
        elif tok == "[":
            end = s.find("]", start + 1)
            if end == -1:
                ctx.errors += 1
                i = start + 1
                continue
            inner = s[start + 1 : end]
            sp = inner.find(" ")
            if sp == -1:
                uri, label = inner.strip(), ""
            else:
                uri, label = inner[:sp].strip(), inner[sp + 1 :].strip()
            out.external_links.append(
                ExternalLink(uri=uri, label=_strip_markup(label), line=ctx.line(base + start))
            )
            if emit_plain and label:
                ctx.plain.append(_strip_markup(label))
            i = end + 1
        elif tok == "\n" and start + 1 < n and s[start + 1] == "=":
            hm = _HEADING_RE.match(s, start)
            if hm:
                level = min(len(hm.group(1)), len(hm.group(3)))
                name = _strip_markup(hm.group(2)).strip()
                out.sections.append(Section(name=name, level=level, line=ctx.line(base + start + 1)))
                if emit_plain:
                    # section-content start marker: measured after
                    # normalization, stripped with the link markers
                    ctx.plain.append(f"\n{_SECT_BEGIN}{len(out.sections) - 1}{_SECT_END}")
                i = hm.end()
            else:
                if emit_plain:
                    ctx.plain.append("\n")
                i = start + 1
        elif tok == "\n":  # table at line start
            tend = _find_matching(s, start + 3, "{|", "|}", MAX_NESTING)
            if tend == -1:
                ctx.errors += 1
                i = start + 3
                continue
            out.n_tables += 1
            _parse_table(ctx, s[start + 3 : tend - 2], base + start + 3, depth)
            if emit_plain:
                ctx.plain.append("\n")
            i = tend
        else:  # bare URL
            out.external_links.append(
                ExternalLink(uri=tok.rstrip(".,;"), label="", line=ctx.line(base + start))
            )
            i = m.end()


def _parse_internal_link(ctx: _Ctx, inner: str, abs_pos: int, depth: int, emit_plain: bool) -> None:
    parts = _split_top_level(inner)
    target = parts[0]
    label_raw = parts[-1] if len(parts) > 1 else ""
    cls = _classify_link_target(target, ctx.lang)
    if cls is None:
        ctx.errors += 1
        return
    title, ns, iw, _frag = cls
    if not title:
        # same-page fragment link [[#Section|label]] — render the label (or
        # the target text as written) as plain text, record no link
        if label_raw:
            _scan(ctx, label_raw, abs_pos, depth + 1, in_template=True)
            if emit_plain:
                ctx.plain.append(_strip_markup(_plain_of(label_raw)))
        elif emit_plain:
            ctx.plain.append(target.strip())
        return
    if label_raw:
        # labels may themselves contain links/templates (image captions)
        _scan(ctx, label_raw, abs_pos, depth + 1, in_template=True)
        label = _strip_markup(_plain_of(label_raw))
    else:
        # anchor text = the raw link text as written (AnchorTextExtractor
        # semantics) — not the normalized title
        label = target.strip()
    link = Link(target=title, ns=ns, iw=iw, label=label, line=ctx.line(abs_pos))
    idx = len(ctx.out.links)
    ctx.out.links.append(link)
    if emit_plain and ns == MAIN and not iw and label:
        # wrap the rendered label CORE in private-use markers carrying the
        # link index; leading/trailing label whitespace stays OUTSIDE the
        # markers so the rendered text is byte-identical to the marker-free
        # rendering. parse() measures the final offsets after whitespace
        # normalization and strips the markers (per-OCCURRENCE offsets —
        # repeated anchors each get their own).
        lm = re.match(r"^(\s*)(.*?)(\s*)$", label, re.S)
        lead, core, trail = lm.group(1), lm.group(2), lm.group(3)
        if core:
            ctx.plain.append(f"{lead}{_MARK_BEGIN}{idx}{_MARK_SEP}{core}{_MARK_END}{trail}")
        else:
            ctx.plain.append(label)


def _extract_link_offsets(s: str, links: list[Link], sections: list[Section]) -> str:
    """Strip the anchor + section markers from the fully-normalized plain
    text, assigning each marked link its final (begin, end) character
    offsets and each section its content span. Runs AFTER whitespace
    normalization so the offsets index the exact string extractors ship as
    plain_text — phrase/section nodes downstream are pure projection
    (nif/LinkExtractor.scala + WikipediaNifExtractor compute offsets while
    walking the rendered text the same way)."""
    if _MARK_BEGIN not in s and _SECT_BEGIN not in s:
        return s
    res: list[str] = []
    n_out = 0
    pos = 0
    open_idx: int | None = None
    open_begin = 0
    open_has_text = False
    sect_starts: list[tuple[int, int]] = []  # (section idx, begin)
    for m in _MARK_EDGE_RE.finditer(s):
        seg = s[pos : m.start()]
        res.append(seg)
        n_out += len(seg)
        if open_idx is not None and seg.strip():
            open_has_text = True
        tok = m.group(0)
        if tok == _MARK_BEGIN:
            sep = s.find(_MARK_SEP, m.end())
            if sep == -1:  # defensive: malformed marker, drop it
                pos = m.end()
                continue
            try:
                open_idx = int(s[m.end() : sep])
            except ValueError:
                open_idx = None
            open_begin = n_out
            open_has_text = False
            pos = sep + 1
        elif tok == _SECT_BEGIN:
            end_m = s.find(_SECT_END, m.end())
            if end_m == -1:
                pos = m.end()
                continue
            try:
                sect_starts.append((int(s[m.end() : end_m]), n_out))
            except ValueError:
                pass
            pos = end_m + 1
        else:
            if open_idx is not None and open_has_text and 0 <= open_idx < len(links):
                links[open_idx].begin = open_begin
                links[open_idx].end = n_out
            open_idx = None
            pos = m.end()
    res.append(s[pos:])
    final = "".join(res)
    for k, (idx, begin) in enumerate(sect_starts):
        if 0 <= idx < len(sections):
            end = sect_starts[k + 1][1] if k + 1 < len(sect_starts) else len(final)
            # trim the paragraph separator off the span so every section's
            # end stops at its own content (the last one has no separator —
            # spans use one convention throughout)
            while end > begin and final[end - 1].isspace():
                end -= 1
            sections[idx].begin = begin
            sections[idx].end = end
    return final


_MARK_EDGE_RE = re.compile(f"[{_MARK_BEGIN}{_MARK_END}{_SECT_BEGIN}]")
# zero-width discipline for section markers: move them FORWARD past any
# whitespace so they never break token/paragraph structure, and absorb a
# trailing marker-only paragraph — the rendered text must be byte-identical
# to the marker-free rendering
_SECT_MARK = f"{_SECT_BEGIN}[0-9]+{_SECT_END}"
_SECT_SPLIT_RE = re.compile(f"({_SECT_MARK})")
_SECT_TAIL_RE = re.compile(f"\\n\\n((?:{_SECT_MARK})+)$")


def _shift_section_markers(s: str) -> str:
    """Single pass: re-attach every section marker immediately before the
    next non-whitespace character (or end of text), so markers contribute
    ZERO width to token/paragraph structure regardless of how many empty
    sections run consecutively."""
    parts = _SECT_SPLIT_RE.split(s)
    out: list[str] = []
    pending: list[str] = []
    for i, piece in enumerate(parts):
        if i % 2 == 1:  # a marker
            pending.append(piece)
            continue
        if not pending:
            out.append(piece)
            continue
        j = 0
        n = len(piece)
        while j < n and piece[j].isspace():
            j += 1
        if j < n:
            out.append(piece[:j])
            out.extend(pending)
            pending.clear()
            out.append(piece[j:])
        else:
            out.append(piece)  # all-whitespace: markers ride past it
    out.extend(pending)
    return "".join(out)
# full marker-pair syntax stripper (abstract rendering)
_MARK_PAIR_STRIP_RE = re.compile(
    f"{_MARK_BEGIN}[0-9]*{_MARK_SEP}|{_SECT_BEGIN}[0-9]*{_SECT_END}"
    f"|[{_MARK_BEGIN}{_MARK_SEP}{_MARK_END}{_SECT_BEGIN}{_SECT_END}]"
)

_LINK_IN_TEXT_RE = re.compile(r"\[\[(?:[^\]\|]*\|)?([^\]\|]*)\]\]")


def _plain_of(raw: str) -> str:
    """Cheap plain rendering of a small wikitext fragment."""
    return _LINK_IN_TEXT_RE.sub(r"\1", raw)


def _parse_template(ctx: _Ctx, inner: str, abs_pos: int, depth: int) -> None:
    parts = _split_top_level(inner)
    raw_name = parts[0].strip()
    if not raw_name:
        ctx.errors += 1
        return
    if raw_name.startswith("#"):
        # parser function {{#if: …}} — record nothing, but scan arguments
        # (ParserFunctionNode, SimpleWikiParser.scala:543-549)
        for p in parts[1:]:
            _scan(ctx, p, abs_pos, depth + 1, in_template=True)
        # the function name segment may carry its first arg after ':'
        colon = raw_name.find(":")
        if colon != -1:
            _scan(ctx, parts[0][colon + 1 :], abs_pos, depth + 1, in_template=True)
        return
    ns, name_rest = split_namespace(raw_name, ctx.lang)
    name = normalize_title(name_rest if ns != MAIN else raw_name)
    if not name:
        # '{{Category:}}' etc: a namespace prefix with no title degrades to
        # an error, like any other unusable construct
        ctx.errors += 1
        return
    tpl = Template(name=name, depth=depth, pos=ctx.pos_counter, line=ctx.line(abs_pos))
    ctx.pos_counter += 1
    pos_key = 0
    for p in parts[1:]:
        eq = _first_top_level_eq(p)
        if eq != -1:
            key = p[:eq].strip()
            value = p[eq + 1 :].strip()
            explicit = True
            if not key:
                pos_key += 1
                key = str(pos_key)
                explicit = False
        else:
            pos_key += 1
            key = str(pos_key)
            value = p.strip()
            explicit = False
        tpl.params.append(TemplateParam(key=key, value=value, explicit=explicit))
        # nested constructs inside values are still links/templates of the page
        if value:
            _scan(ctx, value, abs_pos, depth + 1, in_template=True)
    ctx.out.templates.append(tpl)


def _parse_table(ctx: _Ctx, body: str, abs_pos: int, depth: int) -> None:
    """Tables → TableNode structure (rows/cells/caption/headers,
    SimpleWikiParser.scala:551-657) + cell contents scanned for
    links/templates like any other region."""
    caption = ""
    cells: list[TableCell] = []
    row_idx = -1
    col = 0
    for line in body.split("\n"):
        ls = line.strip()
        if not ls:
            continue
        if ls.startswith("|+"):
            caption = _strip_markup(_plain_of(ls[2:].strip()))
        elif ls.startswith("|-"):
            row_idx += 1
            col = 0
        elif ls.startswith("!"):
            if row_idx < 0:
                row_idx, col = 0, 0
            for part in re.split(r"!!", ls[1:]):
                cells.append(TableCell(row_idx, col, _strip_markup(_plain_of(part.strip())), True))
                col += 1
        elif ls.startswith("|") and not ls.startswith("|}"):
            if row_idx < 0:
                row_idx, col = 0, 0
            for part in re.split(r"\|\|", ls[1:]):
                cells.append(TableCell(row_idx, col, _strip_markup(_plain_of(part.strip())), False))
                col += 1
    ctx.out.tables.append(Table(caption=caption, n_rows=row_idx + 1 if cells else 0, cells=cells))
    _scan(ctx, body, abs_pos, depth + 1, in_template=True)


def parse(content: str, lang: str = "en") -> ParsedPage:
    """Parse one page. Never raises; degrades to text on malformed markup.

    ``lang`` selects the template-transform rule table
    (kgforge/template_transform.py): configured formatting templates are
    unwrapped BEFORE scanning, so their children surface as text/links to
    every extractor (TemplateNode.transform, TemplateNode.scala:53-58)."""
    from .template_transform import transform_wikitext

    out = ParsedPage()
    if not content:
        return out
    rm = _REDIRECT_RE.match(content)
    if rm:
        out.redirect = rm.group(1).strip()
    out.refs = _extract_refs(content)
    out.galleries = _extract_galleries(content)
    cleaned = _SKIP_RE.sub(" ", content)
    cleaned = transform_wikitext(cleaned, lang)
    if _MARK_CHARS_RE.search(cleaned):
        # defensive: input text may not carry the private-use anchor markers
        cleaned = _MARK_CHARS_RE.sub("", cleaned)
    ctx = _Ctx(cleaned, out, lang)
    try:
        _scan(ctx, cleaned, 0, 0, in_template=False)
    except RecursionError:  # pragma: no cover - bounded by MAX_NESTING
        ctx.errors += 1
    out.errors = min(ctx.errors, MAX_ERRORS)
    plain = _strip_markup("".join(ctx.plain))
    # zero-width section markers: shift forward past whitespace runs so the
    # paragraph structure is identical to the marker-free rendering (single
    # pass — bounded by the text length, not the marker count)
    if _SECT_BEGIN in plain:
        plain = _shift_section_markers(plain)
    # normalize whitespace but keep paragraph breaks (anchor markers are not
    # whitespace, so they ride through unmoved relative to their labels); a
    # paragraph is dropped only when it is empty AFTER marker-stripping AND
    # carries no marker (a marker-only fragment must survive so its pair
    # stays balanced)
    paragraphs = [" ".join(p.split()) for p in re.split(r"\n\s*\n", plain)]
    paragraphs = [
        p for p in paragraphs if p and (_MARK_CHARS_RE.sub("", p) or _MARK_CHARS_RE.search(p))
    ]
    joined = "\n\n".join(paragraphs)
    if _SECT_BEGIN in joined:
        # a trailing marker-only paragraph contributes zero characters
        joined = _SECT_TAIL_RE.sub(r"\1", joined)
    out.plain = _extract_link_offsets(joined, out.links, out.sections)
    # abstract = first paragraph that is not a redirect line (PlainAbstract
    # substitute — deterministic, no external rendering API; SURVEY.md §2.3)
    for p in paragraphs:
        p = _MARK_PAIR_STRIP_RE.sub("", p)
        if not p or p.startswith("#"):
            continue
        out.abstract = p
        break
    return out
