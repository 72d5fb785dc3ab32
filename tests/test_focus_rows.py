"""The focus is a row source, not a second evaluator: validating the
schema's own targets (engine.validate(), marker rows read from the
target declarations) and validating the same pairs as an explicit
candidate relation (engine.validate(target_focus(...))) must give equal
conformance and report multisets."""

from __future__ import annotations

from collections import Counter

import pytest

from shaclex_spark import queries as Q
from shaclex_spark.shapes import SchemaDict
from shaclex_spark.triggers import target_focus
from shaclex_spark.validation import ValidationEngine

from test_oracle_parity import SF_DIR


def _assert_sources_agree(spark, shapes, triples):
    schema = SchemaDict.from_json(shapes)
    by_targets = ValidationEngine(spark, schema, triples)
    by_cand = ValidationEngine(spark, schema, triples)
    a = by_targets.validate()
    b = by_cand.validate(target_focus(spark, schema, triples))
    try:
        conf_a = Counter(a.conformance.collect())
        assert conf_a, "no focus nodes: the comparison would be vacuous"
        assert conf_a == Counter(b.conformance.collect())
        assert Counter(a.report.collect()) == Counter(b.report.collect())
    finally:
        by_targets.scope.close()
        by_cand.scope.close()


@pytest.mark.parametrize("name", ["CUSTOMER_SHAPES", "ORDER_REGION",
                                  "ACTIVE_CUSTOMER", "CLOSED_NATION",
                                  "ORDER_REF_SHAPES"])
def test_registry_shapes(spark, name):
    _assert_sources_agree(spark, getattr(Q, name),
                          Q.SESSION.graph(spark, SF_DIR))


def test_pipeline_default_shapes(spark):
    from shaclex_spark import pipeline
    from shaclex_spark.transcripts import synth_transcripts

    transcripts, _ = synth_transcripts(spark, 30)
    kg, _ = pipeline.build_kg(spark, transcripts)
    plain = kg.select("subj", "pred", "obj_kind", "obj_value", "obj_dt",
                      "obj_lang")
    _assert_sources_agree(spark, pipeline.DEFAULT_SHAPES, plain)


def test_term_keyed_targets(spark):
    """Targets whose focus terms are not the arc subjects' own rows:
    subclass-closed targetClass, targetObjectsOf (literal objects
    too) and targetNode, on every evaluator, a closed shape included."""
    from shaclex_spark.model import RDF_TYPE, RDFS, XSD_STRING

    from conftest import triples_df

    ex = "http://example.org/"
    rows = [
        (ex + "Child", RDFS + "subClassOf", "iri", ex + "Parent", None, None),
        (ex + "a", RDF_TYPE, "iri", ex + "Child", None, None),
        (ex + "a", ex + "name", "literal", "A", XSD_STRING, None),
        (ex + "b", RDF_TYPE, "iri", ex + "Parent", None, None),
        (ex + "c", ex + "knows", "iri", ex + "d", None, None),
        (ex + "c", ex + "knows", "literal", "lit", XSD_STRING, None),
        (ex + "d", ex + "name", "literal", "D", XSD_STRING, None),
        (ex + "d", ex + "age", "literal", "9", XSD_STRING, None),
    ]
    name = {"path": ex + "name", "minCount": 1}
    shapes = [
        {"label": "ByClass",
         "targets": [{"kind": "targetClass", "value": ex + "Parent"}],
         "constraints": [name]},
        {"label": "ByObject",
         "targets": [{"kind": "targetObjectsOf", "value": ex + "knows"}],
         "constraints": [name]},
        {"label": "ByNode",
         "targets": [{"kind": "targetNode", "value": ex + "d"},
                     {"kind": "targetNode", "value": ex + "c"}],
         "closed": True, "ignored": [ex + "knows"],
         "constraints": [name]},
        {"label": "Inverse",
         "targets": [{"kind": "targetObjectsOf", "value": ex + "knows"}],
         "constraints": [{"path": {"kind": "inverse", "iri": ex + "knows"},
                          "minCount": 1, "maxCount": 1}]},
    ]
    triples = triples_df(spark, rows)
    _assert_sources_agree(spark, shapes, triples)
    res = ValidationEngine(spark, SchemaDict.from_json(shapes),
                           triples).validate()
    got = {(r["node"], r["shape"]): r["conforms"]
           for r in res.conformance.collect()}
    expected = {
        (ex + "a", "ByClass"): True, (ex + "b", "ByClass"): False,
        (ex + "d", "ByObject"): True, ("lit", "ByObject"): False,
        (ex + "d", "ByNode"): False,            # ex:age is not allowed
        (ex + "c", "ByNode"): False,            # no ex:name
        (ex + "d", "Inverse"): True,
        # a literal focus starts no path, so ^knows reaches nothing from
        # it (SHACL would count ex:c): a recorded deviation, COVERAGE.md
        ("lit", "Inverse"): False,
    }
    assert len(got) == len(expected)
    assert {k: got[k] for k in expected} == expected


EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
LIT = {"kind": "targetNode", "value": "lit", "term_kind": "literal",
       "dt": XSD + "string"}


def _member(s, cls=EX + "C", alias=None, start="1", end="5", y=True,
            tags=(("1", "integer"), ("t", "string"))):
    """An ex:C member that passes every family of FAMILY_SHAPES'
    Person shape unless an argument breaks one."""
    label = s.rsplit("/", 1)[-1]
    rows = [(s, RDF_TYPE, "iri", cls, None, None)]
    rows += [(s, EX + p, "literal", v, XSD + dt, None) for p, v, dt in (
        ("name", label, "string"), ("alias", alias or label, "string"),
        ("start", start, "integer"), ("end", end, "integer"),
        ("email", "e", "string"), ("x", "1", "string"))]
    if y:
        rows.append((s, EX + "y", "literal", "2", XSD + "string", None))
    rows += [(s, EX + "tag", "literal", v, XSD + dt, None) for v, dt in tags]
    return rows


FAMILY_ROWS = (
    [(EX + "Sub", "http://www.w3.org/2000/01/rdf-schema#subClassOf", "iri",
      EX + "C", None, None),
     (EX + "d", EX + "knows", "iri", EX + "f", None, None)]
    + _member(EX + "a", cls=EX + "Sub")
    + _member("_:b", tags=(("1", "integer"), ("2", "integer")))
    + _member(EX + "e", y=False)
    + _member(EX + "f")
    + _member(EX + "g", alias="other")
    + _member(EX + "h", start="9", end="3")
    + _member(EX + "i", cls=EX + "Other"))

# Every constraint family, a closed and a deactivated shape, over an
# IRI, a bnode and a literal focus term. Each ex:C member but ex:a
# breaks exactly one of Person's families; ex:d knows ex:f, so ex:f
# matches both OneOf groups.
FAMILY_SHAPES = [
    {"label": "Person",
     "targets": [{"kind": "targetClass", "value": EX + "C"},
                 {"kind": "targetNode", "value": EX + "i"}, LIT],
     "nodeConstraints": [{"kind": "class", "iri": EX + "C"},
                         {"kind": "ref", "label": "Named"}],
     "constraints": [{"path": EX + "name", "minCount": 1,
                      "equals": EX + "alias"},
                     {"path": EX + "start", "lessThan": EX + "end"}],
     "oneOf": [[{"path": EX + "email", "minCount": 1}],
               [{"path": {"kind": "inverse", "iri": EX + "knows"},
                 "minCount": 1}]],
     "groupBlocks": [{"kind": "eachOf", "minCount": 1, "maxCount": 1,
                      "members": [{"path": EX + p, "minCount": 1,
                                   "maxCount": 1} for p in ("x", "y")]}],
     "repeatAlts": {"mentioned": [EX + "tag"], "alts": [[
         {"path": EX + "tag", "minCount": 1, "maxCount": 1,
          "node": {"kind": "datatype", "iri": XSD + dt}}
         for dt in ("integer", "string")]]}},
    {"label": "Named", "constraints": [{"path": EX + "name",
                                        "minCount": 1}]},
    {"label": "ClosedNamed",
     "targets": [{"kind": "targetNode", "value": EX + "a"},
                 {"kind": "targetNode", "value": EX + "d"}, LIT],
     "closed": True,
     "ignored": [RDF_TYPE] + [EX + p for p in ("alias", "start", "end",
                                                "email", "x", "y", "tag")],
     "constraints": [{"path": EX + "name", "minCount": 1}]},
    {"label": "Off", "targets": [{"kind": "targetClass", "value": EX + "C"}],
     "deactivated": True,
     "constraints": [{"path": EX + "name", "minCount": 5}]},
]


def family_shapes(with_ref: bool) -> list[dict]:
    """FAMILY_SHAPES, or without Person's ref to Named: a ref-free
    schema reads its focus from the target declarations."""
    if with_ref:
        return FAMILY_SHAPES
    person = dict(FAMILY_SHAPES[0],
                  nodeConstraints=FAMILY_SHAPES[0]["nodeConstraints"][:1])
    return [person] + FAMILY_SHAPES[1:]


@pytest.mark.parametrize("with_ref", [True, False])
def test_every_family(spark, with_ref):
    """Both row sources agree on every constraint family, and each
    family reports its own component on the focus term that breaks it."""
    from conftest import triples_df

    shapes = family_shapes(with_ref)
    triples = triples_df(spark, FAMILY_ROWS)
    _assert_sources_agree(spark, shapes, triples)
    res = ValidationEngine(spark, SchemaDict.from_json(shapes),
                           triples).validate()
    got = {(r["node"], r["shape"]): r["conforms"]
           for r in res.conformance.collect()}
    members = [EX + "a", "_:b", EX + "e", EX + "f", EX + "g", EX + "h"]
    expected = {(n, "Person"): n == EX + "a" for n in members}
    expected.update({(EX + "i", "Person"): False, ("lit", "Person"): False,
                     (EX + "a", "ClosedNamed"): True,
                     (EX + "d", "ClosedNamed"): False,
                     ("lit", "ClosedNamed"): False})
    expected.update({(n, "Off"): True for n in members})
    assert got == expected
    report = Counter((r.focus_node, r.source_shape,
                      r.component.replace("ConstraintComponent", ""))
                     for r in res.report.collect())
    lit = ["Class", "MinCount", "OneOf", "GroupCardinality", "Partition"]
    assert report == Counter(
        [("_:b", "Person", "Partition"),
         (EX + "e", "Person", "GroupCardinality"),
         (EX + "f", "Person", "OneOf"),
         (EX + "g", "Person", "Equals"), (EX + "g", "Person", "Equals"),
         (EX + "h", "Person", "LessThan"), (EX + "i", "Person", "Class"),
         (EX + "d", "ClosedNamed", "MinCount"),
         (EX + "d", "ClosedNamed", "Closed"),
         ("lit", "ClosedNamed", "MinCount")]
        + [("lit", "Person", c) for c in lit + ["Node"] * with_ref])


def test_asked_transparent_shape_reports_once(spark):
    """A transparent (nested sh:property) shape reports on the values
    it reaches whether or not it is asked for. A shape map that asks
    for one of its pairs adds the pair to the conformance; the pair's
    violations still appear once in the report."""
    from shaclex_spark.pipeline import validate_kg

    from conftest import triples_df

    ex = "http://example.org/"
    triples = triples_df(spark, [(ex + "a", ex + "knows", "iri", ex + "b",
                                  None, None)])
    shapes = [
        {"label": "Outer",
         "targets": [{"kind": "targetNode", "value": ex + "a"}],
         "constraints": [{"path": ex + "knows",
                          "node": {"kind": "ref", "label": "Inner"}}]},
        {"label": "Inner", "targets": [], "transparent": True,
         "constraints": [{"path": ex + "name", "minCount": 1}]},
    ]
    outer = {"node": ex + "a", "shape": "Outer"}
    inner = {"node": ex + "b", "shape": "Inner"}
    for shape_map in (None, [outer], [outer, inner]):
        res = validate_kg(spark, triples, shapes, shape_map=shape_map)
        asked = {(a["node"], a["shape"]) for a in shape_map or [outer]}
        assert {(r.node, r.shape) for r in res.conformance.collect()} \
            == asked, shape_map
        report = Counter((r.focus_node, r.source_shape, r.component)
                         for r in res.report.collect())
        assert report == Counter({(ex + "b", "Inner",
                                   "MinCountConstraintComponent"): 1}), \
            (shape_map, report)
