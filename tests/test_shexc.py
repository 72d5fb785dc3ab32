"""ShExC parser + paper.{shex,ttl,sm} golden test (FIXTURES.md §7
'paper-user-course': known statuses :alice@User ✓, :bob@User ✗)."""

from __future__ import annotations

from shaclex_spark.shexc2j import parse_shexc
from shaclex_spark.sources.turtle import turtle_to_rows
from shaclex_spark.triggers import parse_shape_map, shape_map_focus
from shaclex_spark.validation import ValidationEngine

from conftest import needs_corpus, triples_df

REF = "/root/reference/examples/clingo"
pytestmark = needs_corpus(REF)


def test_parse_paper_shex(spark):
    schema, prefixes = parse_shexc(open(f"{REF}/paper.shex").read())
    assert set(schema.shapes) == {"User", "Course"}
    user = schema.shapes["User"]
    assert user.node_constraints[0].kind == "nodeKind"
    paths = {p.path.describe(): (p.min_count, p.max_count)
             for p in user.properties}
    assert paths["http://example.org/age"] == (0, 1)          # ?
    assert paths["http://example.org/enrolledIn"] == (1, None)  # +
    assert paths["http://example.org/knows"] == (0, None)       # *
    course = schema.shapes["Course"]
    cpaths = {p.path.describe(): (p.min_count, p.max_count)
              for p in course.properties}
    assert cpaths["http://example.org/students"] == (1, 20)


def test_paper_golden_statuses(spark):
    """Reference golden: alice conforms to <User>, bob does not (age
    'None' is not an integer) — /root/reference/examples/clingo/."""
    schema, prefixes = parse_shexc(open(f"{REF}/paper.shex").read())
    rows = turtle_to_rows(open(f"{REF}/paper.ttl").read())
    triples = triples_df(spark, rows)
    assoc = parse_shape_map(open(f"{REF}/paper.sm").read(), prefixes)
    focus = shape_map_focus(spark, triples, assoc)
    engine = ValidationEngine(spark, schema, triples)
    res = engine.validate(focus)
    conf = {(r.node, r.shape): r.conforms for r in res.conformance.collect()}
    EX = "http://example.org/"
    assert conf[(EX + "alice", "User")] is True
    assert conf[(EX + "bob", "User")] is False
