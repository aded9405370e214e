"""Seeded page generator for the benchmark.

The seed decides page order, entity ids and the seeAlso chain grouping;
the format mix is fixed. A class cycles through its templates before the
page list is shuffled, so every template appears once the class holds as
many pages as it has templates: from 875 pages, for the 70 W3C fixtures
at their 8% share.

Each page carries its expected outcome (format, error stage, triple
count), taken from a single-document ``formats.parse_rdf_document`` call
per template, and the generator knows the connected components its
seeAlso chains form. The program only ever sees the written pages.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from parser_rdf_spark import formats, htmldata, nquads
from parser_rdf_spark import w3c_fixtures as w3c
from parser_rdf_spark.fixtures import FEATURE_DOCS, FILLER_TEXT
from parser_rdf_spark.html_text import html_bytes_to_text

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
DCT = "http://purl.org/dc/terms/"
XSD = "http://www.w3.org/2001/XMLSchema#"
DATA = "http://data.example.org/"
SEE_ALSO = RDFS + "seeAlso"
SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
KINDS = 16  # entity classes ex:Kind0..15, so constant-type queries stay selective
ENTITIES_PER_DOC = 4
MAX_GROUP = 3  # nt documents chained into one seeAlso component: 1..MAX_GROUP

# (class, share of pages); the n-triples filler takes the rounding rest
MIX = (("html", 0.10), ("feature", 0.10), ("quartet", 0.10),
       ("w3c", 0.08), ("filler", 0.06), ("nt", None))

STATIC = {
    "feature": sorted(FEATURE_DOCS.items()),
    "quartet": sorted(w3c.SAMPLES.items()),
    "w3c": [(n, w3c.FIXTURES[n]) for n in w3c.POSITIVE + w3c.NEGATIVE],
}


@dataclass(frozen=True)
class Expected:
    format: str | None
    error_stage: str | None
    n_triples: int


@dataclass
class Corpus:
    dir: str  # the parquet files of the pages
    n_pages: int
    input_bytes: int
    expected: dict[str, Expected]  # url -> outcome
    triples: int
    errors_by_stage: dict[str, int]
    components: int
    formats: dict[str, int]
    chain_start: int  # first entity of a two-page seeAlso chain, if there is one


def _wrap(payload: str) -> bytes:
    return f"<html><body><pre>{payload}</pre></body></html>".encode()


def expected_outcome(text: str | None, html: bytes | None) -> Expected:
    """The page contract of the fused parse stage, one document at a time:
    extract text from html when text is absent; detect and parse; a page
    whose text is not RDF falls back to the raw html's structured data;
    an N-Triples document with four-term lines is retried as N-Quads."""
    doc = text if text is not None else html_bytes_to_text(html)
    res = formats.parse_rdf_document(doc or "")
    if res.error_stage == "format_detection" and html is not None:
        raw = html.decode("utf-8", errors="replace")
        if htmldata.can_handle(raw):
            res = formats.parse_rdf_document(raw, "html")
    elif not res.ok and res.format == "n-triples" and nquads.can_handle(doc):
        res = formats.parse_rdf_document(doc, "n-quads")
    return Expected(res.format, res.error_stage, len(res.triples) if res.ok else 0)


def nt_doc(ids: list[int], kinds: list[int], link_to: int | None) -> str:
    """N-Triples page: ``ids`` chained by seeAlso, the last one linked to
    the next page of its group (``link_to``), if any."""
    lines = []
    for j, e in enumerate(ids):
        s = f"<{DATA}e{e}>"
        lines += [
            f"{s} <{RDF}type> <{DATA}Kind{kinds[j]}> .",
            f'{s} <{RDFS}label> "Entity {e}"@en .',
            f"{s} <{RDFS}subClassOf> <{DATA}base> .",
            f'{s} <{DCT}created> "2026-01-{1 + e % 28:02d}T00:00:00Z"^^<{XSD}dateTime> .',
        ]
        nxt = ids[j + 1] if j + 1 < len(ids) else link_to
        if nxt is not None:
            lines.append(f"{s} <{SEE_ALSO}> <{DATA}e{nxt}> .")
    return "\n".join(lines) + "\n"


def html_doc(e: int) -> str:
    """Structured-data page (embedded JSON-LD, microdata, RDFa Lite) with
    no <pre> block, so only the raw-html fallback yields triples."""
    return f"""<!DOCTYPE html><html><head><title>Page {e}</title>
<script type="application/ld+json">
{{"@context":"https://schema.org","@id":"https://data.example.org/prod{e}","@type":"Product","name":"Product {e}","offers":{{"@type":"Offer","price":"{e % 90 + 10}.99","priceCurrency":"USD"}}}}
</script></head>
<body vocab="https://schema.org/">
<nav><a href="/">home</a> <a href="/about">about</a></nav>
<div itemscope itemtype="https://schema.org/Person" itemid="https://data.example.org/person{e}">
  <span itemprop="name">Person {e}</span>
  <meta itemprop="birthDate" content="19{50 + e % 50:02d}-01-01">
</div>
<div about="https://data.example.org/org{e}" typeof="Organization">
  <span property="name">Org {e}</span>
  <span property="numberOfEmployees" content="{e % 5000}"></span>
</div>
<footer>{FILLER_TEXT}</footer>
</body></html>"""


class _UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        self.parent[self.find(a)] = self.find(b)

    def roots(self) -> int:
        return len({self.find(x) for x in self.parent})


def _class_counts(n: int) -> dict[str, int]:
    counts = {c: int(n * share) for c, share in MIX if share is not None}
    counts["nt"] = n - sum(counts.values())
    return counts


def generate(out_dir: str, n_pages: int, seed: int, with_text: bool,
             files: int = 8) -> Corpus:
    """Write ``n_pages`` pages as ``files`` parquet files under ``out_dir``.

    ``with_text`` gives pages carrying both ``text`` and ``html``;
    otherwise ``text`` is null, the shape a web crawl capture has.
    """
    rng = random.Random(seed)
    counts = _class_counts(n_pages)
    uf = _UnionFind()
    cache: dict[tuple, Expected] = {}
    # (url path, payload, raw html or b"" to wrap the payload, template key)
    specs: list[tuple[str, str, bytes, tuple]] = []
    next_id = rng.randrange(10**6, 10**9)

    def fresh(k: int) -> list[int]:
        nonlocal next_id
        ids = list(range(next_id, next_id + k))
        next_id += k + rng.randrange(1, 50)
        return ids

    # n-triples filler: documents in seeAlso groups of 1..MAX_GROUP pages
    left = counts["nt"]
    heads: dict[int, int] = {}  # group size -> first entity of the first such group
    while left:
        size = min(left, rng.randint(1, MAX_GROUP))
        group = [fresh(ENTITIES_PER_DOC) for _ in range(size)]
        heads.setdefault(size, group[0][0])
        for g, ids in enumerate(group):
            link = group[g + 1][0] if g + 1 < size else None
            kinds = [rng.randrange(KINDS) for _ in ids]
            payload = nt_doc(ids, kinds, link)
            chain = ids + ([link] if link is not None else [])
            for a, b in zip(chain, chain[1:]):
                uf.union(f"{DATA}e{a}", f"{DATA}e{b}")
            specs.append((f"nt/{ids[0]}", payload, b"", ("nt", link is not None)))
        left -= size
    for _ in range(counts["html"]):
        (e,) = fresh(1)
        payload = html_doc(e)
        specs.append((f"html/{e}", payload, payload.encode(), ("html",)))
    for _ in range(counts["filler"]):
        (e,) = fresh(1)
        specs.append((f"filler/{e}", f"{FILLER_TEXT} doc {e}", b"", ("filler",)))
    for cls in ("feature", "quartet", "w3c"):
        items = STATIC[cls]
        for j in range(counts[cls]):
            name, payload = items[j % len(items)]
            specs.append((f"{cls}/{name}/{j}", payload, b"", (cls, name)))
            if cls == "feature":
                for t in formats.parse_rdf_document(payload).triples:
                    if t.pred in (SEE_ALSO, SAME_AS) and t.obj_kind == "iri":
                        uf.union(t.subj, t.obj_value)

    rng.shuffle(specs)
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    expected: dict[str, Expected] = {}
    for i, (tag, payload, html, key) in enumerate(specs):
        html = html or _wrap(payload)
        text = html_bytes_to_text(html) if with_text else None
        url = f"https://host{rng.randrange(97)}.example.org/{tag}"
        # one parse per template: pages of a template differ only in ids
        if key not in cache:
            cache[key] = expected_outcome(text, html)
        expected[url] = cache[key]
        cols["url"].append(url)
        cols["warc_ts"].append(t0 + timedelta(minutes=i))
        cols["html"].append(html)
        cols["text"].append(text)
        cols["lang"].append(("en", "nl", "es", "zh", "de")[i % 5])

    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    table = pa.table(cols, schema=schema)
    step = -(-n_pages // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:03d}.parquet"))

    return Corpus(
        dir=out_dir,
        n_pages=n_pages,
        input_bytes=sum(len(h) for h in cols["html"])
        + sum(len(t.encode()) for t in cols["text"] if t is not None),
        expected=expected,
        triples=sum(e.n_triples for e in expected.values()),
        errors_by_stage=dict(Counter(e.error_stage for e in expected.values()
                                     if e.error_stage is not None)),
        components=uf.roots(),
        formats=dict(Counter(str(e.format) for e in expected.values())),
        chain_start=heads.get(2, next(iter(heads.values()))),
    )
