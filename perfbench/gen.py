"""Seeded harvest inputs and their known answers.

Pure Python with no import of ``gleaner_spark``: every JSON-LD document
is built from a template whose post-fixup bytes and SHA-1 UniqueId are
known by construction, so the benchmark's checks never reuse the
program's extraction or fixups as their own oracle.

The same ``(spec, seed)`` always yields the same inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import zlib
from dataclasses import dataclass, field

HTTPS_VOCAB = '{"@vocab":"https://schema.org/"}'

# The 16-prefix map an array @context is replaced with, as the
# reference marshals it (Go sorts map keys).
STANDARD_CONTEXT = (
    '{"@vocab":"https://schema.org/","adms":"https://www.w3.org/ns/adms#",'
    '"dcat":"https://www.w3.org/ns/dcat#","dct":"https://purl.org/dc/terms/",'
    '"foaf":"https://xmlns.com/foaf/0.1/",'
    '"gsp":"https://www.opengis.net/ont/geosparql#",'
    '"locn":"https://www.w3.org/ns/locn#","owl":"https://www.w3.org/2002/07/owl#",'
    '"rdf":"https://www.w3.org/1999/02/22-rdf-syntax-ns#",'
    '"rdfs":"https://www.w3.org/2000/01/rdf-schema#","schema":"https://schema.org/",'
    '"skos":"https://www.w3.org/2004/02/skos/core#","spdx":"https://spdx.org/rdf/terms#",'
    '"time":"https://www.w3.org/2006/time","vcard":"https://www.w3.org/2006/vcard/ns#",'
    '"xsd":"https://www.w3.org/2001/XMLSchema#"}'
)

# (name, @context as published, @context after the fixups). One pair
# per fixup branch: string → {"@vocab"}, array → standard map, short
# http vocab → https, missing @vocab → appended, and the "www." quirk
# that prepends the canonical context to the sliced suffix.
CONTEXT_VARIANTS = [
    ("canonical", HTTPS_VOCAB, HTTPS_VOCAB),
    ("string", '"http://schema.org/"', HTTPS_VOCAB),
    ("array", '["https://schema.org/",{"NAME":"schema:name"}]', STANDARD_CONTEXT),
    ("http_vocab", '{"@vocab":"http://schema.org"}', HTTPS_VOCAB),
    ("no_vocab", '{"schema":"http://schema.org/"}',
     '{"schema":"https://schema.org/","@vocab":"https://schema.org/"}'),
    ("www_vocab", '{"@vocab":"https://www.schema.org/"}',
     '{"@vocab":"https://schema.org/schema.org/"}'),
]

# Hand-written before/after pairs, one per fixup variant, including a
# relative Dataset @id (rewritten to file://). The self-test feeds the
# "before" side through the program and expects the "after" side.
FIXUP_PAIRS = [
    (
        '{"@context":%s,"@type":"Dataset","@id":"https://a.example/id/1",'
        '"name":"alpha"}' % before,
        '{"@context":%s,"@type":"Dataset","@id":"https://a.example/id/1",'
        '"name":"alpha"}' % after,
    )
    for _, before, after in CONTEXT_VARIANTS
] + [
    (
        '{"@context":{"@vocab":"https://schema.org/"},"@type":"Dataset",'
        '"@id":"rec-7","name":"beta"}',
        '{"@context":{"@vocab":"https://schema.org/"},"@type":"Dataset",'
        '"@id":"file://rec-7","name":"beta"}',
    ),
]

IDENTIFIER_PATH = "$.identifier.value"
EPOCH = dt.datetime(2024, 1, 1)
DAY = dt.timedelta(days=1)

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qui", "dor",
    "fen", "gal", "hir", "jun", "mar", "nol", "per", "ris", "tan", "ul", "wex",
]


def _vocabulary(n: int = 600) -> list[str]:
    rng = random.Random(7)
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocabulary()


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


@dataclass(frozen=True)
class Spec:
    """Shape of one generated crawl."""

    n_sources: int
    n_pages: int
    page_bytes: int = 0          # pad pages with boilerplate to about this size
    doctype_share: float = 0.0   # pages that start with <!DOCTYPE html>
    links_per_page: int = 2
    desc_words: int = 12
    unlisted_share: float = 0.0  # pages in the pages table but in no sitemap
    private_share: float = 0.03  # sitemap URLs under a robots-disallowed path
    near_dup_share: float = 0.0  # documents planted as near-duplicates


@dataclass
class Source:
    name: str
    host: str
    identifier_type: str  # "jsonsha" or "identifiersha"
    robots: str | None

    @property
    def sitemap_url(self) -> str:
        return f"{self.host}/sitemap.xml"


@dataclass
class Doc:
    """One JSON-LD document: its published text and its known answer."""

    raw: str
    fixed: str
    unique_id: str


@dataclass
class Page:
    source: str
    url: str
    listed: bool
    blocked: bool
    doc_specs: list  # (variant, relative_id, identifier, desc words, @id)
    warc_ts: dt.datetime = EPOCH

    def docs(self, src: Source) -> list[Doc]:
        return [_doc(src, *d) for d in self.doc_specs]


def _doc(src: Source, variant: int, rel_id: bool, ident: str,
         desc: str, at_id: str) -> Doc:
    _, ctx_raw, ctx_fixed = CONTEXT_VARIANTS[variant]
    body = (
        ',"@type":"Dataset","@id":"%s","name":"Dataset %s",'
        '"identifier":{"@type":"PropertyValue","value":"%s"},'
        '"description":"%s"}'
    )
    raw = '{"@context":' + ctx_raw + body % (at_id, ident, ident, desc)
    fixed_id = "file://" + at_id if rel_id else at_id
    fixed = '{"@context":' + ctx_fixed + body % (fixed_id, ident, ident, desc)
    uid = sha1_hex(ident) if src.identifier_type == "identifiersha" else sha1_hex(fixed)
    return Doc(raw, fixed, uid)


@dataclass
class Crawl:
    spec: Spec
    seed: int
    sources: list[Source]
    pages: list[Page]
    pad: list[str] = field(default_factory=list)
    links: dict = field(default_factory=dict)  # url -> [href]
    near_pairs: int = 0  # planted near-duplicate document pairs

    def source(self, name: str) -> Source:
        return self._by_name[name]

    def __post_init__(self):
        self._by_name = {s.name: s for s in self.sources}

    # ---- program inputs -------------------------------------------------

    def sitemaps(self) -> dict[str, str]:
        locs: dict[str, list[str]] = {s.name: [] for s in self.sources}
        for p in self.pages:
            if p.listed:
                locs[p.source].append(p.url)
        out = {}
        for s in self.sources:
            entries = "\n".join(
                f"  <url><loc>{u}</loc><lastmod>2024-01-01</lastmod></url>"
                for u in locs[s.name]
            )
            out[s.sitemap_url] = (
                '<?xml version="1.0" encoding="UTF-8"?>\n'
                '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
                f"{entries}\n</urlset>\n"
            )
        return out

    def robots(self) -> dict[str, str]:
        return {s.host: s.robots for s in self.sources if s.robots is not None}

    def html(self, page: Page) -> str:
        src = self.source(page.source)
        rng = random.Random(zlib.crc32(f"{self.seed}:{page.url}".encode()))
        parts = []
        if rng.random() < self.spec.doctype_share:
            parts.append("<!DOCTYPE html>")
        parts.append(f"<html><head><title>{page.url}</title></head><body>")
        for href in self.links.get(page.url, ()):
            parts.append(f'<a href="{href}">{rng.choice(VOCAB)} {rng.choice(VOCAB)}</a>')
        scripts = [
            f'<script type="application/ld+json">{d.raw}</script>'
            for d in page.docs(src)
        ]
        if self.pad:
            target = self.spec.page_bytes
            size = sum(len(x) for x in parts) + sum(len(x) for x in scripts)
            k = rng.randrange(len(self.pad))
            while size < target:
                para = self.pad[k % len(self.pad)]
                parts.append(para)
                size += len(para)
                k += 1
                if scripts and rng.random() < 0.3:
                    parts.append(scripts.pop())
        parts.extend(scripts)
        parts.append("</body></html>")
        return "".join(parts)

    def page_rows(self, pages: list[Page] | None = None) -> dict[str, list]:
        """Columns of the ``pages`` table (url, warc_ts, html, text,
        lang, content_type)."""
        pages = self.pages if pages is None else pages
        cols = {"url": [], "warc_ts": [], "html": [], "text": [],
                "lang": [], "content_type": []}
        for p in pages:
            cols["url"].append(p.url)
            cols["warc_ts"].append(p.warc_ts)
            cols["html"].append(self.html(p).encode("utf-8"))
            cols["text"].append(f"page {p.url}")
            cols["lang"].append("en")
            cols["content_type"].append("text/html; charset=utf-8")
        return cols

    # ---- known answers --------------------------------------------------

    def fetched_pages(self) -> list[Page]:
        return [p for p in self.pages if p.listed and not p.blocked]

    def expected_docs(self, pages: list[Page] | None = None) -> dict:
        """(source_name, unique_id) -> fixed JSON-LD over fetched pages."""
        pages = self.fetched_pages() if pages is None else pages
        out = {}
        for p in pages:
            for d in p.docs(self.source(p.source)):
                out.setdefault((p.source, d.unique_id), d.fixed)
        return out

    def extracted_docs(self, pages: list[Page] | None = None) -> list[Doc]:
        pages = self.fetched_pages() if pages is None else pages
        return [d for p in pages for d in p.docs(self.source(p.source))]


def _source_sizes(n_sources: int, n_pages: int) -> list[int]:
    """``n_pages`` spread evenly over ``n_sources``."""
    base = [n_pages // n_sources] * n_sources
    for i in range(n_pages - sum(base)):
        base[i] += 1
    return base


def _desc(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _composition(rng: random.Random, n: int, shares: list[tuple]) -> list:
    """``n`` values in a seeded order, with each value's count fixed by
    its share (the first value takes the remainder), so every seed
    yields the same amount of each kind of work."""
    out = []
    for value, share in shares[1:]:
        out += [value] * round(n * share)
    out += [shares[0][0]] * (n - len(out))
    rng.shuffle(out)
    return out


def generate(spec: Spec, seed: int) -> Crawl:
    """The first capture of a crawl of ``spec`` drawn from ``seed``."""
    rng = random.Random(seed)
    sources = []
    for k in range(spec.n_sources):
        host = f"https://s{k:03d}.bench.example"
        robots = None
        if k % 3 != 2:  # every third host serves no robots.txt
            robots = "User-agent: *\nDisallow: /private/\nDisallow: /cgi-bin\n"
        sources.append(Source(
            name=f"s{k:03d}", host=host,
            identifier_type="identifiersha" if k % 4 == 1 else "jsonsha",
            robots=robots,
        ))
    pages: list[Page] = []
    n = 0
    for src, size in zip(sources, _source_sizes(spec.n_sources, spec.n_pages)):
        listed = _composition(rng, size, [(True, 0), (False, spec.unlisted_share)])
        private = _composition(
            rng, size, [(False, 0), (True, spec.private_share if src.robots else 0)])
        n_docs = _composition(rng, size, [(1, 0), (0, 0.1), (2, 0.2)])
        for i in range(size):
            url = f"{src.host}/{'private' if private[i] else 'd'}/{n}"
            pages.append(Page(src.name, url, listed[i], private[i], [n_docs[i]],
                              EPOCH + dt.timedelta(seconds=n)))
            n += 1
    n_total = sum(p.doc_specs[0] for p in pages)
    variants = _composition(rng, n_total, [(k, 1 / len(CONTEXT_VARIANTS))
                                           for k in range(len(CONTEXT_VARIANTS))])
    relative = _composition(rng, n_total, [(False, 0), (True, 0.15)])
    k = 0
    for i, p in enumerate(pages):
        specs = []
        for j in range(p.doc_specs[0]):
            ident = f"b{seed}-{i}-{j}"
            host = p.url.split("/")[2]
            at_id = f"rec-{i}-{j}" if relative[k] else f"https://{host}/id/{i}-{j}"
            specs.append((variants[k], relative[k], ident, _desc(rng, spec.desc_words), at_id))
            k += 1
        p.doc_specs = specs
    crawl = Crawl(spec, seed, sources, pages)
    if spec.near_dup_share > 0:
        _plant_near_dups(crawl, rng)
    if spec.page_bytes:
        crawl.pad = [
            "<p>" + _desc(rng, rng.randint(40, 160)) + "</p>" for _ in range(256)
        ]
    hosts = [s.host for s in sources]
    for p in pages:
        crawl.links[p.url] = [
            f"{rng.choice(hosts)}/d/{rng.randrange(n)}"
            for _ in range(spec.links_per_page)
        ]
    return crawl


def _plant_near_dups(crawl: Crawl, rng: random.Random) -> None:
    """Copy a share of jsonsha documents onto other jsonsha pages of the
    same crawl with only their @id changed: one leading token differs,
    so word-3-shingle Jaccard stays far above any dedup threshold while
    the content SHA-1 (and so the UniqueId) differs."""
    donors = [p for p in crawl.fetched_pages()
              if len(p.doc_specs) == 1
              and crawl.source(p.source).identifier_type == "jsonsha"]
    rng.shuffle(donors)
    n_pairs = int(len(donors) * crawl.spec.near_dup_share)
    for a, b in zip(donors[:n_pairs], donors[n_pairs:2 * n_pairs]):
        variant, _, ident, desc, _ = a.doc_specs[0]
        b_id = f"{crawl.source(b.source).host}/id/near-{b.url.rsplit('/', 1)[1]}"
        b.doc_specs = [(variant, False, ident, desc, b_id)]
    crawl.near_pairs = n_pairs


def recapture(crawl: Crawl, seed: int, change_share: float, days: int = 30) -> Crawl:
    """A later capture of the same URLs: ``change_share`` of documents
    get a new description (a new payload), the rest are unchanged."""
    rng = random.Random(seed * 7919 + days)
    pages = []
    for p in crawl.pages:
        specs = []
        for (v, rel, ident, desc, at_id) in p.doc_specs:
            if rng.random() < change_share:
                desc = _desc(rng, len(desc.split()))
            specs.append((v, rel, ident, desc, at_id))
        pages.append(Page(p.source, p.url, p.listed, p.blocked, specs,
                          p.warc_ts + days * DAY))
    out = Crawl(crawl.spec, crawl.seed, crawl.sources, pages,
                pad=crawl.pad, links=crawl.links)
    return out


def new_pages(crawl: Crawl, seed: int, n: int, start: int, days: int) -> list[Page]:
    """``n`` pages at URLs the crawl has not seen, spread evenly over its
    sources, captured ``days`` after the first capture; a fixed share of
    them hold zero, one and two documents."""
    rng = random.Random(seed * 104729 + start)
    n_docs = _composition(rng, n, [(1, 0), (0, 0.1), (2, 0.2)])
    out = []
    for k, i in enumerate(range(start, start + n)):
        src = crawl.sources[i % len(crawl.sources)]
        specs = [
            (rng.randrange(len(CONTEXT_VARIANTS)), False, f"b{seed}-n{i}-{j}",
             _desc(rng, crawl.spec.desc_words), f"{src.host}/id/n{i}-{j}")
            for j in range(n_docs[k])
        ]
        out.append(Page(src.name, f"{src.host}/d/n{i}", True, False, specs,
                        EPOCH + days * DAY + dt.timedelta(seconds=i)))
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set of a text, split on whitespace."""
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_pairs(docs: dict, threshold_pct: int = 80, n: int = 3) -> set[tuple]:
    """Exact set of ``(id_a, id_b, inter, union)`` for document pairs
    whose word-shingle Jaccard is at or above ``threshold_pct``, with
    ``id_a < id_b``; ``docs`` maps id -> text. Found through an
    inverted index over shingles."""
    ids = sorted(docs)
    sets = [shingles(docs[i], n) for i in ids]
    index: dict[str, list[int]] = {}
    for k, s in enumerate(sets):
        for sh in s:
            index.setdefault(sh, []).append(k)
    inter: dict[tuple[int, int], int] = {}
    for posting in index.values():
        for x in range(len(posting)):
            for y in range(x + 1, len(posting)):
                key = (posting[x], posting[y])
                inter[key] = inter.get(key, 0) + 1
    out = set()
    for (a, b), k in inter.items():
        union = len(sets[a]) + len(sets[b]) - k
        if k * 100 >= threshold_pct * union:
            out.add((ids[a], ids[b], k, union))
    return out


def cluster_keepers(ids, pairs) -> set:
    """The smallest id of every connected component of the graph whose
    edges are ``pairs`` (``(id_a, id_b, ...)`` tuples) over ``ids``."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b, *_ in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if root(i) == i}
