"""Schema conversion round-trips: ShExC ↔ SchemaDict ↔ SHACL Turtle."""

from __future__ import annotations

from shaclex_spark.convert import (
    schema_to_shacl_turtle,
    schema_to_shexc,
    shacl_to_shex,
    shex_to_shacl,
)
from shaclex_spark.shacl_reader import schema_from_turtle
from shaclex_spark.shexc2j import parse_shexc

from conftest import needs_corpus

PAPER = "/root/reference/examples/clingo/paper.shex"
pytestmark = needs_corpus(PAPER)


def test_shex_to_shacl_roundtrip():
    text = open(PAPER).read()
    schema, _ = parse_shexc(text)
    ttl = schema_to_shacl_turtle(schema)
    back = schema_from_turtle(ttl)
    assert set(back.shapes) == set(schema.shapes)
    for lbl in schema.shapes:
        orig, conv = schema.shapes[lbl], back.shapes[lbl]
        opaths = {(p.path.describe(), p.min_count, p.max_count)
                  for p in orig.properties}
        cpaths = {(p.path.describe(), p.min_count, p.max_count)
                  for p in conv.properties}
        assert opaths == cpaths, lbl


def test_shacl_to_shex():
    ttl = open("/root/reference/examples/shacl/good1.ttl").read()
    shex = shacl_to_shex(ttl)
    assert "<http://example.org/p>" in shex
    # re-parse the produced ShExC
    schema, _ = parse_shexc(shex)
    assert len(schema.shapes) >= 1


def test_shexc_reserialization():
    text = open(PAPER).read()
    schema, _ = parse_shexc(text)
    out = schema_to_shexc(schema)
    schema2, _ = parse_shexc(out)
    assert set(schema2.shapes) == set(schema.shapes)
    u1 = {(p.path.describe(), p.min_count, p.max_count)
          for p in schema.shapes["User"].properties}
    u2 = {(p.path.describe(), p.min_count, p.max_count)
          for p in schema2.shapes["User"].properties}
    assert u1 == u2
