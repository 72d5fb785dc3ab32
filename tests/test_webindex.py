"""webindex.shex (FIXTURES.md §7): the reference's realistic 7-shape
schema — refs, value sets, inline OneOf, CLOSED EXTRA — must parse
into the shape dictionary. (Validation of webindex data stays outside
the flat fragment: the schema repeats the rdf:type property, which the
reference's own flattener rejects — FlatShapeConversion.scala:27-87.)"""

from __future__ import annotations

from shaclex_spark.shexc2j import parse_shexc

from conftest import needs_corpus

WEBINDEX = "/root/reference/examples/webindex/webindex.shex"


@needs_corpus(WEBINDEX)
def test_webindex_parses():
    schema, prefixes = parse_shexc(open(WEBINDEX).read())
    labels = {lbl.rsplit("/", 1)[-1] for lbl in schema.shapes}
    assert labels == {"Country", "DataSet", "Slice", "Observation",
                      "Computation", "Indicator", "Organization"}
    EX = "http://example.org/"
    obs = schema.shapes[EX + "Observation"]
    # inline OneOf: computation @:Computation | source IRI
    assert len(obs.one_of) == 2
    org = schema.shapes[EX + "Organization"]
    assert org.closed
    assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#type" in org.ignored
    ds = schema.shapes[EX + "DataSet"]
    refs = {r for r, _ in ds.refs()}
    assert EX + "Slice" in refs and EX + "Organization" in refs
    # value set with two members (Indicator type)
    ind = schema.shapes[EX + "Indicator"]
    type_pc = [p for p in ind.properties
               if p.path.iri.endswith("#type") or p.path.iri.endswith("ns#type")]
    assert type_pc and len(type_pc[0].node.values) == 2
