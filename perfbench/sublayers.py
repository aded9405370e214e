"""Python sub-layers of the parse stage, timed by direct single-process
calls on a fixed page sample (seed 0), outside Spark."""

from __future__ import annotations

import statistics
import time

import pyarrow.parquet as pq

import gen
from parser_rdf_spark import formats
from parser_rdf_spark.html_text import html_bytes_to_text
from parser_rdf_spark.parse import doc_hash

SAMPLE_PAGES = 600
REPEATS = 3
PARSE_FORMATS = {"n-triples": "n-triples", "turtle": "turtle", "json-ld": "json-ld",
                 "rdf/xml": "rdf-xml", "html": "html"}


def _timed(fn, items) -> float:
    """Median over REPEATS of the seconds one pass over ``items`` takes."""
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for item in items:
            fn(item)
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def measure(sample_dir: str) -> dict[str, float]:
    corpus = gen.generate(sample_dir, SAMPLE_PAGES, seed=0, with_text=True, files=1)
    table = pq.read_table(corpus.dir).to_pydict()
    pages = list(zip(table["url"], table["text"], table["html"]))
    out = {}

    htmls = [h for _, _, h in pages]
    mb = sum(map(len, htmls)) / 1e6
    out["html_text.s_per_mb"] = _timed(html_bytes_to_text, htmls) / mb

    texts = [t for _, t, _ in pages]
    out["formats.detect_us_per_doc"] = _timed(formats.detect_format, texts) / len(texts) * 1e6

    parsed = []
    for fmt, name in PARSE_FORMATS.items():
        docs = [(u, h.decode("utf-8", errors="replace") if fmt == "html" else t)
                for u, t, h in pages if corpus.expected[u].format == fmt]
        out[f"formats.parse_us_per_doc.{name}"] = (
            _timed(lambda d, f=fmt: formats.parse_rdf_document(d[1], f), docs)
            / len(docs) * 1e6)
        parsed += [(formats.parse_rdf_document(d, fmt).triples, doc_hash(u)) for u, d in docs]
    parsed = [p for p in parsed if p[0]]
    out["formats.scope_bnodes_us_per_doc"] = (
        _timed(lambda p: formats.scope_bnodes(*p), parsed) / len(parsed) * 1e6)
    return out
