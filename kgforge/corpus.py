"""Deterministic synthetic corpus + golden-quad oracle.

Analog of the reference's minidump regression corpus
(``dump/src/test/resources/minidumps/`` — 125 curated language samples): a
seeded generator plants known facts into wikitext-style pages embedded in a
source-code-repository table ``(repo, path, commit, lang, content)`` and
computes — INDEPENDENTLY of the engine — the exact quad set each extractor
must emit. P/R is measured on distinct ``(subject, predicate, value,
datatype, language)`` exactly like Quad equality (transform/Quad.scala:120-157).

Every page is a pure function of its index, so corpus generation distributes
over Spark (mapInPandas over spark.range) and scales to bench sizes without
driver memory; golden quads are only materialized at test scales.
"""

from __future__ import annotations

import hashlib
import random
import re

from . import vocab as V
from .namespaces import (
    CATEGORY,
    FILE,
    MAIN,
    RDF_LANGSTRING,
    RDF_TYPE,
    RDFS_LABEL,
    TEMPLATE,
    XSD_DATE,
    XSD_INTEGER,
    XSD_NONNEG_INT,
    XSD_STRING,
    resource_base,
    resource_iri,
    wiki_base,
    wiki_encode,
)
from .vocab import fmt_double

SEED = 42

ADJ = (
    "Amber Basalt Cedar Delta Ember Fjord Granite Harbor Iris Juniper Krypton "
    "Lagoon Maple Nimbus Onyx Prairie Quartz Raven Sierra Tundra Umber Velvet "
    "Willow Xenon Yonder Zephyr Aurora Boreal Crimson Dune Echo Flint Grove "
    "Hollow Indigo Jade Kestrel Lunar Mesa Nova Opal Pine Quill Ridge Slate "
    "Thorn Vale"
).split()
NOUN = (
    "Bridge Canyon Domain Engine Forge Garden Harbour Island Junction Keep "
    "Lighthouse Market Node Outpost Plaza Quarry Reactor Station Terrace Union "
    "Vault Workshop Yard Zone Archive Beacon Citadel Depot Exchange Foundry "
    "Gateway Haven Institute Jetty Kiln Landing Mill Nexus Observatory Port "
    "Reservoir Summit Tower"
).split()
KIND_NOUN = "settlement village district town municipality borough hamlet county".split()
MONTHS = (
    "January February March April May June July August September October "
    "November December"
).split()

# page kinds by i % 100
K_ARTICLE = "article"
K_PERSON = "person"
K_REDIRECT = "redirect"
K_CATEGORY = "category"
K_TEMPLATE = "template"
K_DISAMBIG = "disambig"

OCCUPATION = "astronomer engineer painter composer botanist historian architect cartographer".split()

DBPEDIA_DT = "http://dbpedia.org/datatype/"
DT_SQUARE_METRE = DBPEDIA_DT + "squareMetre"
DT_METRE = DBPEDIA_DT + "metre"
DBO = "http://dbpedia.org/ontology/"
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"
XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"

# the infobox property keys planted (property-definition golden derives here)
_INFOBOX_KEYS = [
    # (raw key, property local name after camelCase+digit-strip, label)
    ("name", "name", "name"),
    ("population", "population", "population"),
    ("area_km2", "areaKm", "area km"),
    ("area_land", "areaLand", "area land"),
    ("area_water", "areaWater", "area water"),
    ("elevation_m", "elevationM", "elevation m"),
    ("established", "established", "established"),
    ("homepage", "homepage", "homepage"),
    ("successor", "successor", "successor"),
    ("leader_name", "leaderName", "leader name"),
    ("motto", "motto", "motto"),
    ("twin_places", "twinPlaces", "twin places"),
    ("nickname", "nickname", "nickname"),
    ("mayor_term", "mayorTerm", "mayor term"),
    ("gov_type", "govType", "gov type"),
    ("gov_seat", "govSeat", "gov seat"),
]


def lang_of(i: int, n: int) -> str:
    if i < int(n * 0.8):
        return "en"
    if i < int(n * 0.9):
        return "de"
    return "fr"


def lang_range(i: int, n: int) -> tuple[int, int]:
    b1, b2 = int(n * 0.8), int(n * 0.9)
    if i < b1:
        return 0, b1
    if i < b2:
        return b1, b2
    return b2, n


def kind_of(i: int) -> str:
    r = i % 100
    if r in (91, 93):
        return K_PERSON
    if r < 65 or r >= 89:
        return K_ARTICLE
    if r < 73:
        return K_REDIRECT
    if r < 81:
        return K_CATEGORY
    if r < 85:
        return K_TEMPLATE
    return K_DISAMBIG


def is_article(i: int) -> bool:
    """Linkable Main-namespace content page (regular article or person)."""
    return kind_of(i) in (K_ARTICLE, K_PERSON)


def has_infobox(i: int) -> bool:
    r = i % 100
    return r < 65 and r % 2 == 0


def name_words(i: int) -> str:
    return f"{ADJ[i % 47]} {NOUN[(i * 13) % 43]}"


def acronym_of(i: int) -> str:
    """Deterministic 4-letter acronym encoding i (acronym disambig pages)."""
    letters = []
    x = i
    for _ in range(4):
        letters.append(chr(65 + x % 26))
        x //= 26
    return "".join(letters)


def title_of(i: int) -> str:
    """Decoded title WITHOUT namespace prefix."""
    k = kind_of(i)
    if k == K_ARTICLE:
        return f"{name_words(i)} A{i}"
    if k == K_PERSON:
        return f"{name_words(i)} P{i}"
    if k == K_REDIRECT:
        return f"{name_words(i)} R{i}"
    if k == K_CATEGORY:
        return f"Topic {ADJ[i % 47]} C{i}"
    if k == K_TEMPLATE:
        return f"Box {ADJ[i % 47]} T{i}"
    if i % 100 == 85:
        # acronym-style disambiguation page (isAcronym path,
        # mappings/DisambiguationExtractor.scala:68-83)
        return f"{acronym_of(i)} (disambiguation)"
    return f"{ADJ[i % 47]}{NOUN[(i * 13) % 43]} D{i} (disambiguation)"


def ns_of(i: int) -> int:
    k = kind_of(i)
    if k == K_CATEGORY:
        return CATEGORY
    if k == K_TEMPLATE:
        return TEMPLATE
    return MAIN


def article_near(i: int, n: int, salt: int) -> int:
    """Deterministic article index in the same language segment."""
    lo, hi = lang_range(i, n)
    span = hi - lo
    start = (i * 31 + salt * 977) % span
    for k in range(span):
        cand = lo + (start + k) % span
        if is_article(cand) and cand != i:
            return cand
    return i  # degenerate corpus — self link


def redirect_target_idx(i: int, n: int) -> int | None:
    """Target index for a redirect page; None means 'cycle partner missing'."""
    r = i % 100
    lo, hi = lang_range(i, n)
    if r in (65, 66, 67, 68, 69):
        return article_near(i, n, salt=1)
    if r == 70:
        return i - 5  # → the r==65 redirect of the same block (chain)
    if r == 71:
        return i - 1  # → the r==70 redirect (3-deep chain)
    # r == 72: 2-cycle with the partner block
    partner = i + 100 if (i // 100) % 2 == 0 else i - 100
    if lo <= partner < hi and partner % 100 == 72:
        return partner
    return article_near(i, n, salt=2)


def category_parent_idx(i: int, n: int) -> int | None:
    """Parent category = same r-slot one block earlier (roots: none)."""
    parent = i - 100
    lo, _hi = lang_range(i, n)
    if parent >= lo and kind_of(parent) == K_CATEGORY:
        return parent
    return None


def is_giant(i: int) -> bool:
    """Giant-page skew probe (one per 5000 pages)."""
    return i % 100 == 89 and (i // 100) % 50 == 0


def _rng(i: int) -> random.Random:
    return random.Random(f"{SEED}:{i}")


def repo_of(i: int) -> str:
    # Zipf-ish skew: one giant repo holds 20% of all files (FIXTURES.md §1)
    return "repo0000" if i % 5 == 0 else f"repo{1 + (i % 997):04d}"


def commit_of(i: int) -> str:
    return hashlib.sha256(f"commit:{SEED}:{i}".encode()).hexdigest()[:40]


def path_of(i: int) -> str:
    ns = ns_of(i)
    prefix = {CATEGORY: "Category:", TEMPLATE: "Template:"}.get(ns, "")
    return "docs/" + (prefix + title_of(i)).replace(" ", "_") + ".wiki"


def _slug(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", "-", s.lower()).strip("-")


class PageFacts:
    """Planted facts for one page (what the generator knows)."""

    __slots__ = (
        "i", "n", "kind", "lang", "title", "ns", "rng",
        "pop", "area", "elev", "day", "month", "year",
        "latd", "latm", "lond", "lonm", "targets", "alias",
        "homepage_url", "ext_url", "bare_url", "motto", "kind_noun",
        "interlang", "giant_targets", "mention_title",
        "occupation", "pnd", "cite_url", "cite_title",
    )

    def __init__(self, i: int, n: int):
        self.i, self.n = i, n
        self.kind = kind_of(i)
        self.lang = lang_of(i, n)
        self.title = title_of(i)
        self.ns = ns_of(i)
        rng = _rng(i)
        self.rng = rng
        self.kind_noun = KIND_NOUN[i % len(KIND_NOUN)]
        self.pop = rng.randint(900, 9_999_999)
        self.area = round(rng.uniform(0.5, 5000.0), 1)
        self.elev = rng.randint(1, 4800)
        self.day = rng.randint(1, 28)
        self.month = rng.randint(1, 12)
        self.year = rng.randint(1200, 2020)
        self.latd, self.latm = rng.randint(1, 89), rng.randint(0, 59)
        self.lond, self.lonm = rng.randint(0, 179), rng.randint(0, 59)
        self.targets = [title_of(article_near(i, n, salt=s)) for s in range(3, 11)]
        self.alias = "the " + self.targets[4].split()[0].lower()
        self.homepage_url = f"http://www.example.org/{_slug(self.title)}"
        self.ext_url = f"http://ext.example.com/page/{i}"
        self.bare_url = f"https://data.example.net/{i}"
        self.motto = f"Forward {ADJ[(i * 7) % 47].lower()} and {NOUN[(i * 11) % 43].lower()}"
        self.interlang = (i % 7 == 0) and self.kind == K_ARTICLE
        self.giant_targets = (
            [title_of(article_near(i, n, salt=100 + s)) for s in range(150)] if is_giant(i) else []
        )
        self.mention_title = title_of(article_near(i, n, salt=9))
        self.occupation = OCCUPATION[i % len(OCCUPATION)]
        self.pnd = str(100000000 + (i * 37) % 899999999)
        self.cite_url = f"http://cite.example.org/ref/{i}"
        self.cite_title = f"Cited {NOUN[(i * 11) % 43]} Works {i}"

    # --- derived values ------------------------------------------------
    @property
    def lat(self) -> float:
        return self.latd + self.latm / 60.0

    @property
    def lon(self) -> float:
        return self.lond + self.lonm / 60.0

    @property
    def date_iso(self) -> str:
        return f"{self.year:04d}-{self.month:02d}-{self.day:02d}"

    @property
    def other_lang(self) -> str:
        return "de" if self.lang != "de" else "en"

    @property
    def cat_idx(self) -> int | None:
        """Category this article belongs to: the category slot of its block
        (r=73), if it exists in the same language segment."""
        base = (self.i // 100) * 100 + 73
        lo, hi = lang_range(self.i, self.n)
        if lo <= base < hi and base != self.i and kind_of(base) == K_CATEGORY:
            return base
        return None

    @property
    def disambig_base(self) -> str:
        return self.title.replace(" (disambiguation)", "")


def render_content(f: PageFacts) -> str:
    """Page wikitext. Mirrors FIXTURES.md §2 construct coverage."""
    i = f.i
    parts: list[str] = []
    if f.kind == K_REDIRECT:
        tgt = redirect_target_idx(i, f.n)
        return f"#REDIRECT [[{title_of(tgt)}]]\n"
    if f.kind == K_CATEGORY:
        body = f"Pages about {ADJ[i % 47].lower()} {f.kind_noun}s."
        if i % 100 == 74:
            # main-article marker: blank sort label
            # (TopicalConceptsExtractor.scala:31-50)
            body += f"\n[[{title_of(article_near(i, f.n, salt=4))}| ]]"
        p = category_parent_idx(i, f.n)
        if p is not None:
            body += f"\n\n[[Category:{title_of(p)}]]\n"
        return body + "\n"
    if f.kind == K_TEMPLATE:
        return (
            "Box for {{{name}}} entries from {{{place|Somewhere}}} "
            "since {{{year}}}.\n<!-- template doc -->\n"
        )
    if f.kind == K_DISAMBIG:
        base = f.disambig_base
        q3 = chr(39) * 3
        if i % 100 == 85:
            # acronym page: one link spelling the acronym, one unrelated
            acr = acronym_of(i)
            spelled = " ".join(c + "ora" for c in acr) + f" Z{i}"
            return (
                f"{q3}{base}{q3} may refer to:\n\n"
                "{{Disambiguation}}\n"
                f"* [[{spelled}]]\n"
                f"* [[Unrelated Thing Z{i}]]\n"
            )
        return (
            f"{q3}{base}{q3} may refer to:\n\n"
            "{{Disambiguation}}\n"
            f"* [[{base} One]]\n"
            f"* [[{base} Two]]\n"
            f"* [[Unrelated Thing Z{i}]]\n"
        )

    if f.kind == K_PERSON:
        t = f.targets
        nm = name_words(i)
        first, last = nm.split(" ", 1)
        q3 = "'" * 3
        parts = [f"{q3}{nm}{q3} is a famous {f.occupation} from [[{t[0]}]].\n"]
        parts.append(
            "\n{{Infobox person\n"
            f"| name = {nm}\n"
            f"| birth_date = {f.day} {MONTHS[f.month - 1]} {f.year}\n"
            f"| death_year = {f.year + 61}\n"
            f"| death_day_month = {(f.day % 28) + 1} {MONTHS[f.month % 12]}\n"
            f"| gender_code = {'m' if i % 2 else 'f'}\n"
            f"| occupation = {f.occupation}\n"
            "}}\n"
        )
        parts.append(
            "\n== Life ==\n"
            f"As a youth he traveled from [[{t[3]}]], and his mentor guided him "
            "while he studied; his notes survive.\n"
            f"{{{{cite web | url = {f.cite_url} | title = {f.cite_title}}}}}\n"
        )
        if f.lang == "en":
            parts.append(
                "\n{{Persondata\n"
                f"| NAME = {last}, {first}\n"
                f"| SHORT DESCRIPTION = {f.occupation}\n"
                f"| DATE OF BIRTH = {f.day} {MONTHS[f.month - 1]} {f.year}\n"
                f"| PLACE OF BIRTH = [[{t[5]}]]\n"
                "}}\n"
                f"{{{{Normdaten|PND={f.pnd}}}}}\n"
            )
        cat = f.cat_idx
        if cat is not None:
            parts.append(f"\n[[Category:{title_of(cat)}]]\n")
        return "".join(parts)

    # --- article ---
    t = f.targets
    parts.append(f"'''{name_words(i)}''' is a {f.kind_noun} in [[{t[0]}]].\n")
    if has_infobox(i):
        stype_line = "| settlement_type = City\n" if i % 4 == 0 else ""
        parts.append(
            "\n{{Infobox settlement\n"
            f"| name = {name_words(i)}\n"
            f"| population = {f.pop:,}<ref name=c{i}>Census {f.year}</ref>\n"
            f"| area_km2 = {f.area} km2\n"
            f"| area_land = {(i % 37) + 5} km2\n"
            f"| area_water = {(i % 11) + 1} km2\n"
            f"| elevation_m = {f.elev} m\n"
            f"| established = {f.day} {MONTHS[f.month - 1]} {f.year}\n"
            f"| coords = {{{{coord|{f.latd}|{f.latm}|N|{f.lond}|{f.lonm}|E}}}}\n"
            f"| homepage = [{f.homepage_url}]\n"
            f"| successor = [[{t[1]}]]\n"
            f"| leader_name = [[{t[2]}]]\n"
            f"| twin_places = [[{t[6]}]]<br>[[{t[7]}]]\n"
            f"| mayor_term = {f.year}-{f.year + 8}\n"
            "| twin_country = {{flagicon|GER}}\n"
            f"| gov_type = Council\n"
            f"| gov_seat = [[{t[5]}]]\n"
            f"{stype_line}"
            f"| nickname = The {NOUN[(i * 17) % 43]} (historic)\n"
            f"| motto = {f.motto}\n"
            "}}\n"
            f"{{{{coord|{f.latd}|{f.latm}|N|{f.lond}|{f.lonm}|E}}}}\n"
            f"[[File:View of {f.title} V{i}.png|thumb|scenic]]\n"
        )
    parts.append(
        "\n== History ==\n"
        f"Founded near [[{t[3]}]] and [[{t[4]}|{f.alias}]] in the old days. "
        f"Nearby lies {f.mention_title} these days. "
        f"<ref>ignored [[NotALink{i}]]</ref>"
        f"See [{f.ext_url} site {i}] and {f.bare_url} today.\n"
    )
    if i % 100 == 21:
        # planted <gallery> (GalleryExtractor.scala:24-122): bodies are skip
        # regions (no plain text / links), files become image quads
        parts.append(
            "\n<gallery>\n"
            f"File:Gallery view {f.title} A{i}.png|Main '''square'''\n"
            f"Gallery view {f.title} B{i}.jpg\n"
            "</gallery>\n"
        )
    if i % 100 == 95:
        parts.append(
            '\n{| class="wikitable"\n'
            f"|+ Facts about {f.title}\n"
            "|-\n! Year !! Value\n"
            "|-\n| 2001 || 10\n"
            "|-\n| 2002 || 20\n"
            "|}\n"
        )
    if is_giant(i):
        parts.append("\n== Index ==\n")
        for gt in f.giant_targets:
            parts.append(f"[[{gt}]] ")
        parts.append("\n")
    if i % 100 == 63:  # ~1% malformed markup (error-recovery probe)
        parts.append("\n== Notes ==\n{{broken infobox | key = value\n")
    cat = f.cat_idx
    if cat is not None:
        parts.append(f"\n[[Category:{title_of(cat)}]]\n")
    if f.interlang:
        parts.append(f"[[{f.other_lang}:{f.title}]]\n")
    return "".join(parts)


def corpus_row(i: int, n: int) -> dict:
    f = PageFacts(i, n)
    return {
        "repo": repo_of(i),
        "path": path_of(i),
        "commit": commit_of(i),
        "lang": f.lang,
        "content": render_content(f),
    }


# ---------------------------------------------------------------------------
# golden oracle
# ---------------------------------------------------------------------------

def page_id_of(i: int, n: int) -> int:
    """Must equal the engine's derivation (sha256-based, parse.py)."""
    key = f"{lang_of(i, n)}|{repo_of(i)}|{path_of(i)}"
    return int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)


def revision_id_of(i: int, n: int) -> int:
    key = f"{lang_of(i, n)}|{repo_of(i)}|{path_of(i)}|{commit_of(i)}"
    return int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)


def _q(lang, dataset, s, p, v, dt=None):
    return {
        "language": lang,
        "dataset": dataset,
        "subject": s,
        "predicate": p,
        "value": v,
        "context": None,
        "datatype": dt,
    }


def resolve_redirect_chain(i: int, n: int) -> int | None:
    """Final non-redirect target of redirect page i; None on cycle/overflow
    (Redirects.resolve semantics, mappings/Redirects.scala:33-55)."""
    seen = {i}
    cur = i
    for _ in range(10):
        cur = redirect_target_idx(cur, n)
        if cur is None or cur in seen:
            return None
        if kind_of(cur) != K_REDIRECT:
            return cur
        seen.add(cur)
    return None


def golden_quads_for(i: int, n: int) -> list[dict]:
    f = PageFacts(i, n)
    lang = f.lang
    rb = resource_base(lang)
    pb = "http://dbpedia.org/property/" if lang == "en" else f"http://{lang}.dbpedia.org/property/"
    subj = resource_iri(lang, f.ns, f.title)
    content = render_content(f)
    out: list[dict] = []
    q = out.append

    def iri(title: str, ns: int = MAIN) -> str:
        return resource_iri(lang, ns, title)

    # PageId/RevisionId: every namespace (PageIdExtractor.scala:23-29)
    q(_q(lang, V.PAGE_IDS, subj, V.WIKI_PAGE_ID, str(page_id_of(i, n)), XSD_INTEGER))
    q(_q(lang, V.REVISION_IDS, subj, V.WIKI_PAGE_REVISION_ID, str(revision_id_of(i, n)), XSD_INTEGER))
    # ProvenanceExtractor: prov:wasDerivedFrom sourceIri (WikiPage.scala:62)
    src_iri = wiki_base(lang) + wiki_encode(f.title) + f"?oldid={revision_id_of(i, n)}&ns={f.ns}"
    q(_q(lang, V.PROVENANCE, subj, V.PROV_WAS_DERIVED_FROM, src_iri))

    if f.ns == MAIN:
        # MetaInformationExtractor + ContributorExtractor → revision_meta
        # (deterministic modified date + repo-as-contributor derivations,
        # kgforge/extractors/fused.py meta_information/contributors)
        import datetime as _dt

        rid = revision_id_of(i, n)
        modified = (_dt.date(2000, 1, 1) + _dt.timedelta(days=rid % 9000)).isoformat()
        page_iri = wiki_base(lang) + wiki_encode(f.title)
        idx = f"http://{lang}.wikipedia.org/w/index.php?title=" + page_iri.rsplit("/", 1)[-1]
        q(_q(lang, V.REVISION_META, subj, DBO + "wikiPageModified", modified,
             "http://www.w3.org/2001/XMLSchema#date"))
        q(_q(lang, V.REVISION_META, subj, DBO + "wikiPageEditLink", idx + "&action=edit"))
        q(_q(lang, V.REVISION_META, subj, DBO + "wikiPageRevisionLink", f"{idx}&oldid={rid}"))
        q(_q(lang, V.REVISION_META, subj, DBO + "wikiPageHistoryLink", idx + "&action=history"))
        repo = repo_of(i)
        curl = "http://dbpedia.org/contributor/" + repo.replace(" ", "_")
        q(_q(lang, V.REVISION_META, page_iri, "http://dbpedia.org/meta/contributor", curl))
        q(_q(lang, V.REVISION_META, curl, RDFS_LABEL, repo, XSD_STRING))
        q(_q(lang, V.REVISION_META, curl, "http://dbpedia.org/meta/contributorID",
             str(len(repo) * 1000 + ord(repo[0])), XSD_INTEGER))

    if f.kind == K_CATEGORY:
        label = f.title
        q(_q(lang, V.CATEGORY_LABELS, subj, RDFS_LABEL, label, RDF_LANGSTRING))
        q(_q(lang, V.SKOS_CATEGORIES, subj, RDF_TYPE, V.SKOS_CONCEPT))
        q(_q(lang, V.SKOS_CATEGORIES, subj, V.SKOS_PREF_LABEL, label, RDF_LANGSTRING))
        p = category_parent_idx(i, n)
        if p is not None:
            q(_q(lang, V.SKOS_CATEGORIES, subj, V.SKOS_BROADER, iri(title_of(p), CATEGORY)))
        if i % 100 == 74:
            q(_q(lang, V.TOPICAL_CONCEPTS, subj, V.MAIN_ARTICLE_FOR_CATEGORY,
                 iri(title_of(article_near(i, n, salt=4)))))
        return out

    if f.kind == K_TEMPLATE:
        for param in ("name", "place", "year"):
            q(_q(lang, V.TEMPLATE_PARAMETERS, subj, pb + "templateUsesParameter", param, XSD_STRING))
        return out

    # --- Main-namespace pages from here on ---
    page_iri = wiki_base(lang) + wiki_encode(f.title)
    q(_q(lang, V.LABELS, subj, RDFS_LABEL, f.title, RDF_LANGSTRING))
    q(_q(lang, V.PAGE_LENGTH, subj, V.WIKI_PAGE_LENGTH, str(len(content)), XSD_NONNEG_INT))
    q(_q(lang, V.WIKIPEDIA_LINKS, subj, V.FOAF_IS_PRIMARY_TOPIC_OF, page_iri))
    q(_q(lang, V.WIKIPEDIA_LINKS, page_iri, V.FOAF_PRIMARY_TOPIC, subj))
    q(_q(lang, V.WIKIPEDIA_LINKS, page_iri, V.DC_LANGUAGE, lang, XSD_STRING))
    q(_q(lang, V.WIKIPEDIA_LINKS, page_iri, RDF_TYPE, V.FOAF_DOCUMENT))

    if f.kind == K_REDIRECT:
        tgt = redirect_target_idx(i, n)
        q(_q(lang, V.REDIRECTS, subj, V.WIKI_PAGE_REDIRECTS, iri(title_of(tgt))))
        fin = resolve_redirect_chain(i, n)
        if fin is not None:
            q(_q(lang, V.TRANSITIVE_REDIRECTS, subj, V.WIKI_PAGE_REDIRECTS, iri(title_of(fin))))
        # the redirect link is an internal link (page_links/anchor/out_degree)
        q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, iri(title_of(tgt))))
        q(_q(lang, V.OUT_DEGREE, subj, V.WIKI_PAGE_OUT_DEGREE, "1", XSD_NONNEG_INT))
        q(_q(lang, V.ANCHOR_TEXT, iri(title_of(tgt)), V.WIKI_PAGE_WIKI_LINK_TEXT, title_of(tgt), RDF_LANGSTRING))
        return out

    if f.kind == K_DISAMBIG:
        base = f.disambig_base
        if i % 100 == 85:
            acr = acronym_of(i)
            spelled = " ".join(c + "ora" for c in acr) + f" Z{i}"
            link_titles = [spelled, f"Unrelated Thing Z{i}"]
            matching = [spelled]  # spells the acronym (isAcronym rule)
        else:
            link_titles = [f"{base} One", f"{base} Two", f"Unrelated Thing Z{i}"]
            matching = link_titles[:2]  # contain the clean title
        q(_q(lang, V.ABSTRACTS, subj, V.ABSTRACT_PROP, f"{base} may refer to:", RDF_LANGSTRING))
        q(_q(lang, V.ARTICLE_TEMPLATES, subj, pb + "wikiPageUsesTemplate", iri("Disambiguation", TEMPLATE)))
        for lt in link_titles:
            q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, iri(lt)))
            q(_q(lang, V.ANCHOR_TEXT, iri(lt), V.WIKI_PAGE_WIKI_LINK_TEXT, lt, RDF_LANGSTRING))
        for lt in matching:
            q(_q(lang, V.DISAMBIGUATIONS, subj, V.WIKI_PAGE_DISAMBIGUATES, iri(lt)))
        q(_q(lang, V.OUT_DEGREE, subj, V.WIKI_PAGE_OUT_DEGREE, str(len(link_titles)), XSD_NONNEG_INT))
        return out

    if f.kind == K_PERSON:
        t = f.targets
        nm = name_words(i)
        first, last = nm.split(" ", 1)
        date_str_iso = f.date_iso
        q(_q(lang, V.ABSTRACTS, subj, V.ABSTRACT_PROP,
             f"{nm} is a famous {f.occupation} from {t[0]}.", RDF_LANGSTRING))
        link_titles = [t[0], t[3]] + ([t[5]] if lang == "en" else [])
        for lt in link_titles:
            q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, iri(lt)))
            q(_q(lang, V.ANCHOR_TEXT, iri(lt), V.WIKI_PAGE_WIKI_LINK_TEXT, lt, RDF_LANGSTRING))
        n_links = len(link_titles)
        tpls = ["Infobox person", "Cite web"] + (["Persondata", "Normdaten"] if lang == "en" else [])
        for tpl in tpls:
            q(_q(lang, V.ARTICLE_TEMPLATES, subj, pb + "wikiPageUsesTemplate", iri(tpl, TEMPLATE)))
        # raw infobox harvest: Infobox person (+ Persondata on en)
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "name", nm, RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "birthDate", date_str_iso, XSD_DATE))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "deathYear", str(f.year + 61), XSD_INTEGER))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "genderCode",
             "m" if i % 2 else "f", RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "deathDayMonth",
             f"{(f.day % 28) + 1} {MONTHS[f.month % 12]}", RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "occupation", f.occupation, RDF_LANGSTRING))
        if lang == "en":
            q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "name", f"{last}, {first}", RDF_LANGSTRING))
            q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "shortDescription", f.occupation, RDF_LANGSTRING))
            q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "dateOfBirth", date_str_iso, XSD_DATE))
            q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "placeOfBirth", iri(t[5])))
        # GenderExtractor: lowercase male pronouns planted (he/him/his ×5)
        q(_q(lang, V.GENDERS, subj, V.FOAF_GENDER, "male", RDF_LANGSTRING))
        if lang == "en":
            # PersondataExtractor (mappings/PersondataExtractor.scala:45-130)
            q(_q(lang, V.PERSONDATA, subj, V.FOAF_NAME, nm, RDF_LANGSTRING))
            q(_q(lang, V.PERSONDATA, subj, V.FOAF_SURNAME, last, RDF_LANGSTRING))
            q(_q(lang, V.PERSONDATA, subj, V.FOAF_GIVEN_NAME, first, RDF_LANGSTRING))
            q(_q(lang, V.PERSONDATA, subj, RDF_TYPE, V.FOAF_PERSON))
            q(_q(lang, V.PERSONDATA, subj, V.DC_DESCRIPTION, f.occupation, RDF_LANGSTRING))
            q(_q(lang, V.PERSONDATA, subj, V.BIRTH_DATE, date_str_iso, XSD_DATE))
            q(_q(lang, V.PERSONDATA, subj, V.BIRTH_PLACE, iri(t[5])))
            q(_q(lang, V.PND, subj, V.INDIVIDUALISED_PND, f.pnd, XSD_STRING))
        # the bare cite URL inside the template is an ExternalLinkNode
        q(_q(lang, V.EXTERNAL_LINKS, subj, V.WIKI_PAGE_EXTERNAL_LINK, f.cite_url))
        # CitationExtractor (cite web outside <ref>)
        cite = V.citation_iri([("url", f.cite_url), ("title", f.cite_title)])
        q(_q(lang, V.CITATION_LINKS, cite, pb + "isCitedBy", subj))
        q(_q(lang, V.CITATION_DATA, cite, pb + "url", f.cite_url))
        q(_q(lang, V.CITATION_DATA, cite, pb + "title", f.cite_title, RDF_LANGSTRING))
        # mapping engine: Infobox person → dbo:Person
        q(_q(lang, V.INSTANCE_TYPES, subj, RDF_TYPE, DBO + "Person"))
        for sup in (DBO + "Agent", OWL_THING):
            q(_q(lang, V.INSTANCE_TYPES_TRANSITIVE, subj, RDF_TYPE, sup))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "birthDate", date_str_iso, XSD_DATE))
        # EnumerationParser: gender_code m/f -> canonical value, xsd:string
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "genderCode",
             "male" if i % 2 else "female", XSD_STRING))
        # CombineDateMapping: death_year (gYear) + death_day_month (gMonthDay)
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "deathDate",
             f"{f.year + 61:04d}-{(f.month % 12) + 1:02d}-{(f.day % 28) + 1:02d}", XSD_DATE))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, V.FOAF_NAME, nm, RDF_LANGSTRING))
        # entity links from plain text (t0/t3 labels)
        for mt in sorted({t[0], t[3]}):
            if mt != f.title:
                q(_q(lang, V.ENTITY_LINKS, subj, "http://dbpedia.org/ontology/mentions", iri(mt)))
        cat = f.cat_idx
        if cat is not None:
            n_links += 1
            cat_iri = iri(title_of(cat), CATEGORY)
            q(_q(lang, V.ARTICLE_CATEGORIES, subj, V.DCT_SUBJECT, cat_iri))
            q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, cat_iri))
        q(_q(lang, V.OUT_DEGREE, subj, V.WIKI_PAGE_OUT_DEGREE, str(n_links), XSD_NONNEG_INT))
        return out

    # --- regular article ---
    t = f.targets
    n_links = 0

    def plant_link(title: str, anchor: str | None = None, ns: int = MAIN):
        nonlocal n_links
        n_links += 1
        q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, iri(title, ns)))
        if ns == MAIN:
            q(_q(lang, V.ANCHOR_TEXT, iri(title), V.WIKI_PAGE_WIKI_LINK_TEXT, anchor or title, RDF_LANGSTRING))

    plant_link(t[0])
    abstract = f"{name_words(i)} is a {f.kind_noun} in {t[0]}."
    q(_q(lang, V.ABSTRACTS, subj, V.ABSTRACT_PROP, abstract, RDF_LANGSTRING))

    if i % 100 == 21:
        # GalleryExtractor: planted <gallery> (captions stripped to plain;
        # gallery bodies are skip regions — NOT links, NOT plain text)
        for gname in (f"Gallery view {f.title} A{i}.png",
                      f"Gallery view {f.title} B{i}.jpg"):
            g_enc = wiki_encode(gname)
            g_url = "http://commons.wikimedia.org/wiki/Special:FilePath/" + g_enc
            g_thumb = g_url + "?width=300"
            g_wiki = f"http://{lang}.wikipedia.org/wiki/File:{g_enc}"
            q(_q(lang, V.IMAGES, subj, V.FOAF_DEPICTION, g_url))
            q(_q(lang, V.IMAGES, g_url, V.FOAF_THUMBNAIL, g_thumb))
            q(_q(lang, V.IMAGES, g_url, RDF_TYPE, V.DBO_IMAGE))
            q(_q(lang, V.IMAGES, g_thumb, RDF_TYPE, V.DBO_IMAGE))
            q(_q(lang, V.IMAGES, g_url, V.DC_RIGHTS, g_wiki))
            q(_q(lang, V.IMAGES, g_thumb, V.DC_RIGHTS, g_wiki))

    if has_infobox(i):
        plant_link(t[1])
        plant_link(t[2])
        tpl_iri = iri("Infobox settlement", TEMPLATE)
        q(_q(lang, V.ARTICLE_TEMPLATES, subj, pb + "wikiPageUsesTemplate", tpl_iri))
        q(_q(lang, V.ARTICLE_TEMPLATES, subj, pb + "wikiPageUsesTemplate", iri("Coord", TEMPLATE)))
        q(_q(lang, V.ARTICLE_TEMPLATES_NESTED, subj, pb + "wikiPageUsesTemplate", iri("Coord", TEMPLATE)))
        q(_q(lang, V.ARTICLE_TEMPLATES_NESTED, subj, pb + "wikiPageUsesTemplate", iri("Flagicon", TEMPLATE)))
        # infobox_properties (typing cascade, InfoboxExtractor.scala:179-197)
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "name", name_words(i), RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "population", str(f.pop), XSD_INTEGER))
        # InfoboxReferencesExtractor: the <ref> on the population line
        q(_q(lang, V.INFOBOX_REFERENCES, subj, pb + "population",
             f"Census {f.year}", RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "areaKm",
             fmt_double(float(str(f.area)) * 1_000_000.0), DT_SQUARE_METRE))
        land, water = (i % 37) + 5, (i % 11) + 1
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "areaLand",
             fmt_double(land * 1e6), DT_SQUARE_METRE))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "areaWater",
             fmt_double(water * 1e6), DT_SQUARE_METRE))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "elevationM", fmt_double(float(f.elev)), DT_METRE))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "established", f.date_iso, XSD_DATE))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "homepage", f.homepage_url))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "successor", iri(t[1])))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "leaderName", iri(t[2])))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "motto", f.motto, RDF_LANGSTRING))
        # <br>-split multi-value (splitPropertyNode, NodeUtil.scala:102-181):
        # one quad per part; parenthesized suffix stripped (removeParentheses)
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "twinPlaces", iri(t[6])))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "twinPlaces", iri(t[7])))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "nickname", f"The {NOUN[(i * 17) % 43]}", RDF_LANGSTRING))
        plant_link(t[6])
        plant_link(t[7])
        # ImageExtractor (link-based core; ImageExtractorNew.scala:54-94)
        img_name = f"View of {f.title} V{i}.png"
        plant_link(img_name, ns=FILE)
        enc = wiki_encode(img_name)
        img_url = "http://commons.wikimedia.org/wiki/Special:FilePath/" + enc
        img_thumb = img_url + "?width=300"
        img_wiki = f"http://{lang}.wikipedia.org/wiki/File:{enc}"
        q(_q(lang, V.IMAGES, subj, V.FOAF_DEPICTION, img_url))
        q(_q(lang, V.IMAGES, subj, V.DBO_THUMBNAIL, img_thumb))
        q(_q(lang, V.IMAGES, img_url, V.FOAF_THUMBNAIL, img_thumb))
        q(_q(lang, V.IMAGES, img_url, RDF_TYPE, V.DBO_IMAGE))
        q(_q(lang, V.IMAGES, img_thumb, RDF_TYPE, V.DBO_IMAGE))
        q(_q(lang, V.IMAGES, img_url, V.DC_RIGHTS, img_wiki))
        q(_q(lang, V.IMAGES, img_thumb, V.DC_RIGHTS, img_wiki))
        # homepages (HomepageExtractor.scala:40-130)
        q(_q(lang, V.HOMEPAGES, subj, V.FOAF_HOMEPAGE, f.homepage_url))
        # geo from the top-level {{coord}} (GeoExtractor.scala:26-58)
        q(_q(lang, V.GEO_COORDINATES, subj, RDF_TYPE, V.GEO_SPATIAL_THING))
        q(_q(lang, V.GEO_COORDINATES, subj, V.GEO_LAT, fmt_double(f.lat), "http://www.w3.org/2001/XMLSchema#float"))
        q(_q(lang, V.GEO_COORDINATES, subj, V.GEO_LONG, fmt_double(f.lon), "http://www.w3.org/2001/XMLSchema#float"))
        q(_q(lang, V.GEO_COORDINATES, subj, V.GEORSS_POINT, f"{fmt_double(f.lat)} {fmt_double(f.lon)}", XSD_STRING))
        # external links: homepage URL appears as an ExternalLinkNode
        q(_q(lang, V.EXTERNAL_LINKS, subj, V.WIKI_PAGE_EXTERNAL_LINK, f.homepage_url))
        # --- mapping-based datasets (MappingExtractor fixture:
        #     "Infobox settlement" → dbo:Settlement, kgforge/mapping_engine.py)
        if i % 4 == 0:
            # ConditionalMapping: settlement_type == City → dbo:City
            q(_q(lang, V.INSTANCE_TYPES, subj, RDF_TYPE, DBO + "City"))
            for sup in (DBO + "Settlement", DBO + "PopulatedPlace", DBO + "Place", OWL_THING):
                q(_q(lang, V.INSTANCE_TYPES_TRANSITIVE, subj, RDF_TYPE, sup))
            q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "settlementType", "City", RDF_LANGSTRING))
        else:
            q(_q(lang, V.INSTANCE_TYPES, subj, RDF_TYPE, DBO + "Settlement"))
            for sup in (DBO + "PopulatedPlace", DBO + "Place", OWL_THING):
                q(_q(lang, V.INSTANCE_TYPES_TRANSITIVE, subj, RDF_TYPE, sup))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "populationTotal", str(f.pop), XSD_NONNEG_INT))
        si_area = float(str(f.area)) * 1_000_000.0
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "areaTotal", fmt_double(si_area), XSD_DOUBLE))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "foundingDate", f.date_iso, XSD_DATE))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "motto", f.motto, RDF_LANGSTRING))
        q(_q(lang, V.MAPPINGBASED_OBJECTS, subj, DBO + "successor", iri(t[1])))
        q(_q(lang, V.MAPPINGBASED_OBJECTS, subj, DBO + "leader", iri(t[2])))
        # FlagTemplateParser object path: {{flagicon|GER}} -> Germany
        q(_q(lang, V.MAPPINGBASED_OBJECTS, subj, DBO + "twinCountry", iri("Germany")))
        q(_q(lang, V.SPECIFIC_MAPPINGBASED, subj, DBO + "Settlement/areaTotal",
             fmt_double(si_area * (1.0 / 1e6)), DBPEDIA_DT + "squareKilometre"))
        # CalculateMapping: areaTotal = area_land + area_water (add)
        si_calc = (land + water) * 1e6
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "areaTotal", fmt_double(si_calc), XSD_DOUBLE))
        q(_q(lang, V.SPECIFIC_MAPPINGBASED, subj, DBO + "Settlement/areaTotal",
             fmt_double(si_calc * (1.0 / 1e6)), DBPEDIA_DT + "squareKilometre"))
        # GeoCoordinatesMapping over the coords property
        q(_q(lang, V.GEO_COORDINATES_MAPPED, subj, RDF_TYPE, V.GEO_SPATIAL_THING))
        q(_q(lang, V.GEO_COORDINATES_MAPPED, subj, V.GEO_LAT, fmt_double(f.lat),
             "http://www.w3.org/2001/XMLSchema#float"))
        q(_q(lang, V.GEO_COORDINATES_MAPPED, subj, V.GEO_LONG, fmt_double(f.lon),
             "http://www.w3.org/2001/XMLSchema#float"))
        q(_q(lang, V.GEO_COORDINATES_MAPPED, subj, V.GEORSS_POINT,
             f"{fmt_double(f.lat)} {fmt_double(f.lon)}", XSD_STRING))
        # ConstantMapping / DateIntervalMapping / IntermediateNodeMapping
        XSD_GYEAR = "http://www.w3.org/2001/XMLSchema#gYear"
        q(_q(lang, V.MAPPINGBASED_OBJECTS, subj, DBO + "country",
             "http://dbpedia.org/resource/Example_Land"))
        q(_q(lang, "mappingbased_objects", subj, DBO + "country",
             "http://dbpedia.org/resource/Example_Land"))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "activeYearsStartYear", str(f.year), XSD_GYEAR))
        q(_q(lang, V.MAPPINGBASED_LITERALS, subj, DBO + "activeYearsEndYear", str(f.year + 8), XSD_GYEAR))
        node = f"{subj}__Government__1"
        q(_q(lang, V.MAPPINGBASED_OBJECTS, subj, DBO + "government", node))
        q(_q(lang, "mappingbased_objects", subj, DBO + "government", node))
        q(_q(lang, V.INSTANCE_TYPES, node, RDF_TYPE, DBO + "Government"))
        q(_q(lang, V.MAPPINGBASED_LITERALS, node, DBO + "governmentType", "Council", RDF_LANGSTRING))
        q(_q(lang, V.MAPPINGBASED_OBJECTS, node, DBO + "seat", iri(t[5])))
        q(_q(lang, "mappingbased_objects", node, DBO + "seat", iri(t[5])))
        # raw infobox harvest of the new params
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "mayorTerm", f"{f.year}-{f.year + 8}", RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "govType", "Council", RDF_LANGSTRING))
        q(_q(lang, V.INFOBOX_PROPERTIES, subj, pb + "govSeat", iri(t[5])))
        plant_link(t[5])
        # TypeConsistencyCheck routing (scripts/TypeConsistencyCheck.scala:171-179):
        # successor range owl:Thing → always cleaned; leader range dbo:Person —
        # a Settlement-typed object is disjoint (Place vs Agent), untyped → cleaned
        q(_q(lang, "mappingbased_objects", subj, DBO + "successor", iri(t[1])))
        t2_idx = article_near(i, n, salt=5)
        leader_ds = (
            "mappingbased_objects_disjoint_range" if has_infobox(t2_idx) else "mappingbased_objects"
        )
        q(_q(lang, leader_ds, subj, DBO + "leader", iri(t[2])))

    plant_link(t[3])
    plant_link(t[4], anchor=f.alias)
    q(_q(lang, V.EXTERNAL_LINKS, subj, V.WIKI_PAGE_EXTERNAL_LINK, f.ext_url))
    q(_q(lang, V.EXTERNAL_LINKS, subj, V.WIKI_PAGE_EXTERNAL_LINK, f.bare_url))

    for gt in f.giant_targets:
        plant_link(gt)

    # entity linking: capitalized title strings in the plain text — link
    # labels of [[t0]]/[[t3]], the planted mention sentence, giant-page labels
    mentioned = {t[0], t[3], f.mention_title} | set(f.giant_targets)
    for mt in sorted(mentioned):
        if mt != f.title:
            q(_q(lang, V.ENTITY_LINKS, subj, "http://dbpedia.org/ontology/mentions", iri(mt)))

    cat = f.cat_idx
    if cat is not None:
        n_links += 1  # category link counts toward out-degree
        cat_iri = iri(title_of(cat), CATEGORY)
        q(_q(lang, V.ARTICLE_CATEGORIES, subj, V.DCT_SUBJECT, cat_iri))
        q(_q(lang, V.PAGE_LINKS, subj, V.WIKI_PAGE_WIKI_LINK, cat_iri))
    if i % 100 == 95:
        # TableMapping over the planted wikitable (Year/Value header matches
        # the "Table yearly facts" rule): one typed instance per data row
        XSD_GYEAR_IRI = "http://www.w3.org/2001/XMLSchema#gYear"
        for row_idx, (yr, val) in enumerate((("2001", "10"), ("2002", "20")), start=1):
            inst = f"{subj}__{yr}__{row_idx}"
            q(_q(lang, V.INSTANCE_TYPES, inst, RDF_TYPE, DBO + "Work"))
            q(_q(lang, V.INSTANCE_TYPES_TRANSITIVE, inst, RDF_TYPE, OWL_THING))
            q(_q(lang, V.MAPPINGBASED_LITERALS, inst, DBO + "activeYearsStartYear", yr, XSD_GYEAR_IRI))
            q(_q(lang, V.MAPPINGBASED_LITERALS, inst, DBO + "populationTotal", val, XSD_NONNEG_INT))
    if f.interlang:
        q(_q(lang, V.INTERLANGUAGE_LINKS, subj, V.WIKI_PAGE_INTER_LANGUAGE_LINK,
             resource_iri(f.other_lang, MAIN, f.title)))
    q(_q(lang, V.OUT_DEGREE, subj, V.WIKI_PAGE_OUT_DEGREE, str(n_links), XSD_NONNEG_INT))
    return out


def golden_property_definitions(n: int) -> list[dict]:
    """infobox_property_definitions: distinct per (lang, property IRI) type
    quads + per (lang, property, label) label quads
    (InfoboxExtractor.scala:160-169 seenProperties → distinct aggregation)."""
    per_lang: dict[str, set] = {}
    for i in range(n):
        k = kind_of(i)
        lang = lang_of(i, n)
        s = per_lang.setdefault(lang, set())
        if k == K_ARTICLE and has_infobox(i):
            s.update((loc, lab) for _k, loc, lab in _INFOBOX_KEYS)
            if i % 4 == 0:
                s.add(("settlementType", "settlement type"))
        elif k == K_PERSON:
            s.update([("name", "name"), ("birthDate", "birth date"), ("occupation", "occupation"),
                      ("deathYear", "death year"), ("deathDayMonth", "death day month"),
                      ("genderCode", "gender code")])
            if lang == "en":
                s.update([
                    ("name", "NAME"),
                    ("shortDescription", "SHORT DESCRIPTION"),
                    ("dateOfBirth", "DATE OF BIRTH"),
                    ("placeOfBirth", "PLACE OF BIRTH"),
                ])
    out = []
    for lang in sorted(per_lang):
        pairs = per_lang[lang]
        pb = "http://dbpedia.org/property/" if lang == "en" else f"http://{lang}.dbpedia.org/property/"
        for loc in sorted({loc for loc, _ in pairs}):
            out.append(_q(lang, V.INFOBOX_PROPERTY_DEFINITIONS, pb + loc, RDF_TYPE, V.RDF_PROPERTY))
        for loc, lab in sorted(pairs):
            out.append(_q(lang, V.INFOBOX_PROPERTY_DEFINITIONS, pb + loc, RDFS_LABEL, lab, RDF_LANGSTRING))
    return out


def golden_quads(n: int) -> list[dict]:
    out: list[dict] = []
    for i in range(n):
        out.extend(golden_quads_for(i, n))
    out.extend(golden_property_definitions(n))
    return out


# ---------------------------------------------------------------------------
# Spark-facing constructors
# ---------------------------------------------------------------------------

def corpus_pdf(lo: int, hi: int, n: int):
    import pandas as pd

    return pd.DataFrame([corpus_row(i, n) for i in range(lo, hi)])


def generate_corpus_df(spark, n: int, partitions: int | None = None):
    """Distributed deterministic generation: every page is a pure function of
    its index, so executors generate their own slices — no driver bottleneck,
    which is what lets bench corpora scale."""
    from pyspark.sql import functions as F

    from .schema import CORPUS_SCHEMA

    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    rng_df = spark.range(0, n, 1, parts)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame([corpus_row(int(i), n) for i in pdf["id"]])

    return rng_df.mapInPandas(gen, schema=CORPUS_SCHEMA)


def golden_df(spark, n: int):
    from .schema import QUAD_SCHEMA

    return spark.createDataFrame(golden_quads(n), schema=QUAD_SCHEMA)
