"""Characterization port for detection / lifecycle decisions
(reference: tests/Characterization/RdfParserTest.php and
NTriplesHandlerTest.php) — pure-Python, no Spark session needed."""

import pytest

from parser_rdf_spark import formats
from parser_rdf_spark.formats import (
    FormatDetectionError,
    FormatHandler,
    can_parse,
    detect_format,
    parse_rdf_document,
    register_format,
    reset_formats,
    supported_formats,
)

NT_LINE = "<http://example.org/s> <http://example.org/p> <http://example.org/o> ."


@pytest.fixture(autouse=True)
def _clean_registry():
    yield
    reset_formats()


# ---------------------------------------------------------------------------
# canParse decisions (RdfParserTest.php:20-72)
# ---------------------------------------------------------------------------

def test_can_parse_turtle_at_prefix_start():
    assert can_parse("@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .")


def test_can_parse_turtle_prefix_after_comment():
    # :25-29 — @prefix NOT at start, preceded by a comment line
    assert can_parse("# This is a comment\n@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .")


def test_can_parse_rdfxml_xml_decl_and_mid_document_rdf_tag():
    xml = '<?xml version="1.0"?><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"></rdf:RDF>'
    assert can_parse(xml)
    # :35-39 — <rdf:RDF appearing without the <?xml prologue also matches
    assert can_parse('<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"></rdf:RDF>')


def test_can_parse_jsonld_brace_plus_context():
    assert can_parse('{"@context": {"ex": "http://example.org/"}, "@id": "http://example.org/x"}')


def test_can_parse_rejects_plain_text_and_empty_and_whitespace():
    assert not can_parse("just some plain text about nothing")
    assert not can_parse("")
    assert not can_parse("   \n\t  ")


def test_can_parse_ntriples_line():
    assert can_parse(NT_LINE)


def test_detection_trims_before_checking():
    # :68-74 — leading/trailing whitespace around the doc doesn't matter
    assert can_parse("   \n" + NT_LINE + "\n  ")


# ---------------------------------------------------------------------------
# NTriplesHandler.canHandle decisions (NTriplesHandlerTest.php:17-105)
# ---------------------------------------------------------------------------

def test_ntriples_sniffer_decisions():
    from parser_rdf_spark.ntriples import can_handle

    assert can_handle(NT_LINE)
    assert can_handle(NT_LINE + "\n" + NT_LINE)
    assert can_handle("# comment\n" + NT_LINE)
    assert can_handle("\n\n" + NT_LINE)
    assert can_handle("   " + NT_LINE)  # leading whitespace before '<'
    assert can_handle('<http://e/s> <http://e/p> "value" .')
    assert can_handle('<http://e/s> <http://e/p> "value"@en .')
    assert can_handle('<http://e/s> <http://e/p> "25"^^<http://www.w3.org/2001/XMLSchema#integer> .')
    assert not can_handle("")
    assert not can_handle("@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .")
    assert not can_handle('{"@context": {}}')
    assert not can_handle('<?xml version="1.0"?>')
    assert not can_handle("plain text")
    assert not can_handle("# just comments\n# more comments")


# ---------------------------------------------------------------------------
# supported formats & priority (RdfParserTest.php:76-97, 245-251)
# ---------------------------------------------------------------------------

def test_supported_formats_reference_four_in_priority_order():
    fmts = supported_formats()
    # the reference's 4, in its registration (detection-priority) order
    # (reference src/RdfParser.php:219-227); our new-engine handlers
    # (n-quads, trig, html) append AFTER so reference priorities are
    # unchanged
    assert fmts[:4] == ["json-ld", "turtle", "n-triples", "rdf/xml"]
    assert set(fmts[4:]) == {"n-quads", "trig", "html", "ntriples-star", "nquads-star"}


def test_turtle_wins_over_ntriples_for_ambiguous_content():
    # :245-251 — doc with an @prefix line AND a pure triple line
    content = (
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
        "<http://example.org/s> <http://example.org/p> <http://example.org/o> ."
    )
    assert detect_format(content) == "turtle"
    assert parse_rdf_document(content).format == "turtle"


def test_custom_handler_prepended_checked_first():
    # :255-279 — registered handler beats defaults for content both match
    register_format(
        FormatHandler(
            "custom-turtle",
            lambda c: "@prefix" in c,
            lambda c: ([], {}),
        )
    )
    content = "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ."
    assert detect_format(content) == "custom-turtle"
    assert parse_rdf_document(content).format == "custom-turtle"


def test_custom_handler_used_when_defaults_do_not_match():
    # :281-305
    register_format(
        FormatHandler("special", lambda c: "##SPECIAL##" in c, lambda c: ([], {}))
    )
    assert detect_format("##SPECIAL## payload") == "special"


def test_throwing_custom_handler_never_breaks_detection():
    # D4 canParse never-throws (reference src/RdfParser.php:79-92)
    def boom(c):
        raise RuntimeError("hostile sniffer")

    register_format(FormatHandler("boomfmt", boom, lambda c: ([], {})))
    assert detect_format(NT_LINE) == "n-triples"


def test_common_prefix_layer_matches_per_namespace_scan():
    # E14 layer 4 matches each resource once; the map (key order included)
    # must equal the reference's scan of every namespace over every resource
    import random

    common = formats.COMMON_PREFIXES
    stems = list(common.values()) + [ns[:-1] for ns in common.values()] + [
        "http://example.org/", "_:b"]

    def reference(declared, resources):
        out = dict(declared)
        for p, ns in common.items():
            if p not in out and any(r.startswith(ns) for r in resources):
                out[p] = ns
        return out

    rng = random.Random(7)
    for _ in range(1000):
        resources = {rng.choice(stems) + rng.choice(("", "x", "y/z"))
                     for _ in range(rng.randint(0, 8))}
        declared = {p: "http://declared.example/"
                    for p in rng.sample(sorted(common), rng.randint(0, 3))}
        got = formats._extract_prefixes("", "n-triples", declared, resources)
        assert list(got.items()) == list(reference(declared, resources).items())


# ---------------------------------------------------------------------------
# parse lifecycle (RdfParserTest.php:100-211)
# ---------------------------------------------------------------------------

def test_parse_result_carries_format_and_triples():
    res = parse_rdf_document(NT_LINE)
    assert res.ok and res.format == "n-triples"
    assert len(res.triples) == 1
    assert res.triples[0].subj == "http://example.org/s"


def test_resource_count_subjects_and_object_resources():
    # metadata resource_count = distinct subjects ∪ non-literal objects
    res = parse_rdf_document(NT_LINE)
    assert res.resource_count == 2  # http://example.org/s, http://example.org/o


def test_explicit_unknown_format_raises_format_error():
    # :173-177 — caller error raises (before any job), not an error row
    with pytest.raises(FormatDetectionError, match="No handler registered"):
        parse_rdf_document(NT_LINE, fmt="not-a-format")


def test_unrecognized_content_is_error_channel_not_exception():
    # :179-183 — data error → error channel (web-scale never-throw rule)
    res = parse_rdf_document("plain text that is not rdf")
    assert not res.ok and res.error_stage == "format_detection"


def test_empty_content_error_channel():
    res = parse_rdf_document("")
    assert not res.ok and res.error_stage == "empty"
    assert res.error_message == "Cannot parse empty content"


def test_parse_failure_wrapped_with_line_info():
    # :182-198 — parse failures carry context (stage + line)
    res = parse_rdf_document('<http://e/s> <http://e/p> """bad""" .', fmt="n-triples")
    assert not res.ok and res.error_stage in ("validate", "parse")
    assert res.error_line == 1


def test_prefix_only_turtle_doc_parses_to_zero_triples():
    # :191-202 — declaration-only doc: zero triples, zero resources, OK
    res = parse_rdf_document("@prefix ex: <http://example.org/> .")
    assert res.ok and res.format == "turtle"
    assert res.triples == [] and res.resource_count == 0


def test_bare_html_rejected_by_all_four_reference_handlers():
    """Reference RdfParserTest: canParse('<html>...') is false for every
    reference handler (reference tests/Characterization/RdfParserTest.php:50-53).
    The engine's own html handler (new surface, appended last) does claim
    it — but yields zero triples when the page carries no structured
    data, so the reference-visible behavior (no RDF parsed from bare
    HTML) is preserved."""
    from parser_rdf_spark import jsonld, ntriples, rdfxml, turtle
    from parser_rdf_spark.formats import detect_format, parse_rdf_document

    bare = "<html><head><title>t</title></head><body><p>no data</p></body></html>"
    assert not turtle.can_handle(bare)
    assert not ntriples.can_handle(bare)
    assert not jsonld.can_handle(bare)
    assert not rdfxml.can_handle(bare)
    assert detect_format(bare) == "html"  # engine extension, documented
    res = parse_rdf_document(bare)
    assert res.ok and res.triples == []


def test_extract_all_returns_reference_section_keys(spark):
    """Reference parse() returns classes/properties/prefixes/shapes/
    restrictions sections (RdfParserTest.php:100-111,308-315); the engine's
    extract_all mirrors the extractor sections, with restrictions a typed
    ALWAYS-empty frame (E20, reference src/RdfParser.php:214-217).
    Prefixes ride on the parse result itself (DocResult.prefixes)."""
    from parser_rdf_spark.extract import extract_all
    from parser_rdf_spark.parse import parse_pages, triples_of

    ttl = (
        "@prefix ex: <http://example.org/> .\n"
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
        "ex:Person a rdfs:Class ; rdfs:label \"Person\" .\n"
        "ex:name a <http://www.w3.org/1999/02/22-rdf-syntax-ns#Property> ; "
        "rdfs:label \"name\" .\n"
        "ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person .\n"
    )
    pages = spark.createDataFrame([("http://x/doc.ttl", ttl)], "url string, text string")
    parsed = parse_pages(pages)
    triples = triples_of(parsed)
    out = extract_all(triples)
    assert set(out) == {"classes", "properties", "shapes", "restrictions", "_res"}
    # full pipeline with Turtle content: every section populated
    # (RdfParserTest.php:317-352), restrictions constant-empty
    assert out["classes"].count() == 1
    assert out["properties"].count() == 1
    assert out["shapes"].count() == 1
    assert out["restrictions"].count() == 0
    assert {f.name for f in out["restrictions"].schema.fields} >= {"doc_url", "uri"}
    out["_res"].unpersist()
