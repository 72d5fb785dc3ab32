"""Golden tests for the core constraint compiler, re-encoded from the
reference corpora (see FIXTURES.md §7 for the case ↔ reference mapping).

Each case: triples + shapes JSON + focus rows → expected conformance
statuses (and sometimes expected report components).
"""

from __future__ import annotations

from shaclex_spark.model import XSD_INTEGER, XSD_STRING, RDF_TYPE
from shaclex_spark.shapes import SchemaDict
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, triples_df

EX = "http://example.org/"


def lit(v, dt=XSD_STRING, lang=None):
    return ("literal", v, "rdf:langString" if lang else dt, lang)


def run(spark, rows, shapes, focus_rows):
    t = triples_df(spark, rows)
    schema = SchemaDict.from_json(shapes)
    engine = ValidationEngine(spark, schema, t)
    res = engine.validate(focus_df(spark, focus_rows))
    conf = {(r["node"], r["shape"]): r["conforms"] for r in res.conformance.collect()}
    report = res.report.collect()
    return conf, report


def test_datatype_cardinality(spark):
    """good1-datatype-card: sh:datatype + min/maxCount pass & fail
    (reference: /root/reference/examples/shacl/good1.ttl)."""
    rows = [
        (EX + "alice", EX + "name", *lit("Alice")),
        (EX + "bob", EX + "name", *lit("Bob")),
        (EX + "bob", EX + "name", *lit("Robert")),          # maxCount=1 violated
        (EX + "carol", EX + "age", *lit("x", XSD_INTEGER)),  # no name: minCount
        (EX + "dave", EX + "name", ("iri", EX + "Dave", None, None)[0],
         EX + "Dave", None, None),                           # iri not literal
    ]
    shapes = [{
        "label": "PersonShape",
        "constraints": [{
            "path": EX + "name", "minCount": 1, "maxCount": 1,
            "node": {"kind": "datatype", "iri": XSD_STRING},
        }],
    }]
    focus = [(EX + p, "PersonShape") for p in ("alice", "bob", "carol", "dave")]
    conf, report = run(spark, rows, shapes, focus)
    assert conf[(EX + "alice", "PersonShape")] is True
    assert conf[(EX + "bob", "PersonShape")] is False
    assert conf[(EX + "carol", "PersonShape")] is False
    assert conf[(EX + "dave", "PersonShape")] is False
    comps = {(r.focus_node, r.component) for r in report}
    assert (EX + "bob", "MaxCountConstraintComponent") in comps
    assert (EX + "carol", "MinCountConstraintComponent") in comps
    assert (EX + "dave", "DatatypeConstraintComponent") in comps


def test_ill_typed_literal_violates(spark):
    """datatype-001: ill-formed integer literal ⇒ violation
    (reference: shacl/tests/core/node/datatype-001.ttl)."""
    rows = [
        (EX + "a", EX + "age", *lit("23", XSD_INTEGER)),
        (EX + "b", EX + "age", *lit("aldi", XSD_INTEGER)),  # ill-formed
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "age",
                         "node": {"kind": "datatype", "iri": XSD_INTEGER}}],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "a", "S"), (EX + "b", "S")])
    assert conf[(EX + "a", "S")] is True
    assert conf[(EX + "b", "S")] is False


def test_closed_shape(spark):
    """closed-001: predicates outside declared+ignored ⇒ violation."""
    rows = [
        (EX + "ok", EX + "name", *lit("A")),
        (EX + "bad", EX + "name", *lit("B")),
        (EX + "bad", EX + "other", *lit("zzz")),
    ]
    shapes = [{
        "label": "S", "closed": True, "extra": [RDF_TYPE],
        "constraints": [{"path": EX + "name"}],
    }]
    conf, report = run(spark, rows, shapes, [(EX + "ok", "S"), (EX + "bad", "S")])
    assert conf[(EX + "ok", "S")] is True
    assert conf[(EX + "bad", "S")] is False
    assert any(r.component == "ClosedConstraintComponent" and r.path == EX + "other"
               for r in report)


def test_node_kind_in_hasvalue_pattern(spark):
    rows = [
        (EX + "x", EX + "ref", "iri", EX + "tgt", None, None),
        (EX + "x", EX + "color", *lit("red")),
        (EX + "x", EX + "code", *lit("AB-12")),
        (EX + "y", EX + "ref", *lit("notiri")),
        (EX + "y", EX + "color", *lit("purple")),
        (EX + "y", EX + "code", *lit("nope")),
    ]
    shapes = [{
        "label": "S",
        "constraints": [
            {"path": EX + "ref", "node": {"kind": "nodeKind", "value": "IRI"}},
            {"path": EX + "color",
             "node": {"kind": "in", "values": [
                 {"kind": "literal", "value": "red"},
                 {"kind": "literal", "value": "blue"}]}},
            {"path": EX + "code", "node": {"kind": "pattern", "pattern": "^[A-Z]{2}-\\d+$"}},
        ],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf[(EX + "x", "S")] is True
    assert conf[(EX + "y", "S")] is False


def test_has_value_existential(spark):
    """hasValue-001: at least one value equals v (per focus, not per value)."""
    rows = [
        (EX + "x", EX + "tag", *lit("a")),
        (EX + "x", EX + "tag", *lit("wanted")),
        (EX + "y", EX + "tag", *lit("a")),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "tag",
                         "node": {"kind": "hasValue",
                                  "value": {"kind": "literal", "value": "wanted"}}}],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf[(EX + "x", "S")] is True
    assert conf[(EX + "y", "S")] is False


def test_class_constraint(spark):
    """class-001: value must have rdf:type → C arc."""
    rows = [
        (EX + "x", EX + "pet", "iri", EX + "rex", None, None),
        (EX + "rex", RDF_TYPE, "iri", EX + "Dog", None, None),
        (EX + "y", EX + "pet", "iri", EX + "tom", None, None),
        (EX + "tom", RDF_TYPE, "iri", EX + "Cat", None, None),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "pet", "node": {"kind": "class", "iri": EX + "Dog"}}],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf[(EX + "x", "S")] is True
    assert conf[(EX + "y", "S")] is False


def test_subclass_closure(spark):
    """Class membership closes rdfs:subClassOf over any depth and
    through cycles; a bnode parent is neither a class nor traversed."""
    from shaclex_spark.model import RDFS
    from shaclex_spark.validation import Graph

    sub = RDFS + "subClassOf"
    rows = [(EX + a, sub, "iri", EX + b, None, None) for a, b in (
        ("A", "B"), ("B", "C"), ("C", "D"), ("X", "Y"), ("Y", "X"))]
    rows += [(EX + "Z", sub, "bnode", "_:anon", None, None),
             ("_:anon", sub, "iri", EX + "W", None, None)]
    rows += [(EX + i, RDF_TYPE, "iri", EX + c, None, None)
             for i, c in (("a", "A"), ("x", "X"), ("z", "Z"))]
    got = {(r.inst, r.cls) for r in
           Graph(triples_df(spark, rows)).membership.collect()}
    assert got == {(EX + "a", EX + c) for c in "ABCD"} \
        | {(EX + "x", EX + "X"), (EX + "x", EX + "Y"), (EX + "z", EX + "Z")}


def test_logical_combinators(spark):
    """and-002 / or / xone / not over node constraints."""
    rows = [
        (EX + "a", EX + "v", *lit("5", XSD_INTEGER)),
        (EX + "b", EX + "v", *lit("50", XSD_INTEGER)),
        (EX + "c", EX + "v", *lit("nope")),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "v",
            "node": {"kind": "and", "exprs": [
                {"kind": "datatype", "iri": XSD_INTEGER},
                {"kind": "or", "exprs": [
                    {"kind": "maxInclusive", "value": "10"},
                    {"kind": "minInclusive", "value": "100"}]},
            ]},
        }],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + x, "S") for x in ("a", "b", "c")])
    assert conf[(EX + "a", "S")] is True
    assert conf[(EX + "b", "S")] is False
    assert conf[(EX + "c", "S")] is False


def test_xone(spark):
    """xone-001: exactly one member conforms."""
    rows = [
        (EX + "both", EX + "v", *lit("5", XSD_INTEGER)),     # int AND <=10: both
        (EX + "one", EX + "v", *lit("50", XSD_INTEGER)),     # int only
        (EX + "none", EX + "v", *lit("x")),                  # neither
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "v",
            "node": {"kind": "xone", "exprs": [
                {"kind": "datatype", "iri": XSD_INTEGER},
                {"kind": "maxInclusive", "value": "10"}]},
        }],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + x, "S") for x in ("both", "one", "none")])
    assert conf[(EX + "both", "S")] is False
    assert conf[(EX + "one", "S")] is True
    assert conf[(EX + "none", "S")] is False


def test_shape_ref_acyclic(spark):
    """node-001 / ShapeRef: value conforms to referenced shape."""
    rows = [
        (EX + "o1", EX + "cust", "iri", EX + "good", None, None),
        (EX + "good", EX + "name", *lit("G")),
        (EX + "o2", EX + "cust", "iri", EX + "bad", None, None),
        # bad has no name → fails CustShape
    ]
    shapes = [
        {"label": "OrderShape",
         "constraints": [{"path": EX + "cust", "minCount": 1,
                          "node": {"kind": "ref", "label": "CustShape"}}]},
        {"label": "CustShape",
         "constraints": [{"path": EX + "name", "minCount": 1}]},
    ]
    conf, report = run(spark, rows, shapes,
                       [(EX + "o1", "OrderShape"), (EX + "o2", "OrderShape")])
    assert conf[(EX + "o1", "OrderShape")] is True
    assert conf[(EX + "o2", "OrderShape")] is False
    assert any(r.component == "NodeConstraintComponent" for r in report)


def test_recursion_coinductive(spark):
    """recursion-simple (002-recursion.ttl): cyclic ref, greatest
    fixpoint — a self-referential cycle where all local constraints
    hold must CONFORM (Unknown counts as ok, ShapesMap.scala:19-23)."""
    rows = [
        (EX + "a", EX + "knows", "iri", EX + "b", None, None),
        (EX + "b", EX + "knows", "iri", EX + "a", None, None),
        (EX + "a", EX + "name", *lit("A")),
        (EX + "b", EX + "name", *lit("B")),
        # c -> d, d has no name → d fails → c fails through the ref
        (EX + "c", EX + "knows", "iri", EX + "d", None, None),
        (EX + "c", EX + "name", *lit("C")),
        (EX + "d", EX + "knows", "iri", EX + "c", None, None),
    ]
    shapes = [{
        "label": "P",
        "constraints": [
            {"path": EX + "name", "minCount": 1},
            {"path": EX + "knows", "node": {"kind": "ref", "label": "P"}},
        ],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + x, "P") for x in ("a", "b", "c", "d")])
    assert conf[(EX + "a", "P")] is True
    assert conf[(EX + "b", "P")] is True
    assert conf[(EX + "c", "P")] is False  # knows d, d lacks name
    assert conf[(EX + "d", "P")] is False


def test_shex_exclusive_counts(spark):
    """paper-user-course: ShEx TripleConstraint two-count semantics —
    right count of conforming values AND no non-conforming value
    (ShEx2SLang.scala:103-113)."""
    rows = [
        (EX + "alice", EX + "age", *lit("30", XSD_INTEGER)),
        (EX + "bob", EX + "age", *lit("None")),  # not an integer
    ]
    shapes = [{
        "label": "User",
        "constraints": [{
            "path": EX + "age", "minCount": 1, "maxCount": 1, "exclusive": True,
            "node": {"kind": "datatype", "iri": XSD_INTEGER},
        }],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + "alice", "User"), (EX + "bob", "User")])
    assert conf[(EX + "alice", "User")] is True
    assert conf[(EX + "bob", "User")] is False


def test_qualified_value_shape(spark):
    """qualifiedValueShape: count-conforming-only semantics; extra
    non-conforming values tolerated."""
    rows = [
        (EX + "x", EX + "member", "iri", EX + "m1", None, None),
        (EX + "m1", RDF_TYPE, "iri", EX + "Dog", None, None),
        (EX + "x", EX + "member", "iri", EX + "m2", None, None),  # not a Dog: fine
        (EX + "y", EX + "member", "iri", EX + "m3", None, None),  # no Dog at all
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "member", "minCount": 1, "qualified": True,
            "node": {"kind": "class", "iri": EX + "Dog"},
        }],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf[(EX + "x", "S")] is True
    assert conf[(EX + "y", "S")] is False


def test_unique_lang(spark):
    rows = [
        (EX + "x", EX + "label", *lit("hi", None, "en")),
        (EX + "x", EX + "label", *lit("hola", None, "es")),
        (EX + "y", EX + "label", *lit("hi", None, "en")),
        (EX + "y", EX + "label", *lit("hello", None, "en")),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "label", "uniqueLang": True}],
    }]
    conf, report = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf[(EX + "x", "S")] is True
    assert conf[(EX + "y", "S")] is False
    assert any(r.component == "UniqueLangConstraintComponent" for r in report)


def test_unique_lang_over_sequence_path(spark):
    """uniqueLang counts the values a complex path reaches as it counts
    a predicate's."""
    rows = [
        (EX + "x", EX + "b", "iri", EX + "bx", None, None),
        (EX + "bx", EX + "label", *lit("one", None, "en")),
        (EX + "bx", EX + "label", *lit("two", None, "en")),
        (EX + "y", EX + "b", "iri", EX + "by", None, None),
        (EX + "by", EX + "label", *lit("one", None, "en")),
        (EX + "by", EX + "label", *lit("uno", None, "es")),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": {"kind": "sequence",
                                  "steps": [EX + "b", EX + "label"]},
                         "uniqueLang": True}],
    }]
    conf, report = run(spark, rows, shapes, [(EX + "x", "S"), (EX + "y", "S")])
    assert conf == {(EX + "x", "S"): False, (EX + "y", "S"): True}
    assert [(r.focus_node, r.component, r.path) for r in report] == [
        (EX + "x", "UniqueLangConstraintComponent",
         f"{EX}b/{EX}label")]


def test_qualified_disjoint_sibling_on_inverse_path(spark):
    """qualifiedValueShapesDisjoint: a value that conforms to a
    sibling's qualified shape does not count, whatever the sibling's
    path; here the sibling walks ^q (or q, for comparison)."""
    rows = [
        (EX + "x", EX + "p", "iri", EX + "v", None, None),
        (EX + "v", RDF_TYPE, "iri", EX + "A", None, None),
        (EX + "v", RDF_TYPE, "iri", EX + "B", None, None),
        (EX + "y", EX + "p", "iri", EX + "w", None, None),
        (EX + "w", RDF_TYPE, "iri", EX + "A", None, None),
    ]
    for sibling in ({"kind": "inverse", "iri": EX + "q"}, EX + "q"):
        shapes = [{
            "label": "S",
            "constraints": [
                {"path": EX + "p", "minCount": 1, "qualified": True,
                 "qualifiedDisjoint": True,
                 "node": {"kind": "class", "iri": EX + "A"}},
                {"path": sibling, "qualified": True,
                 "qualifiedDisjoint": True,
                 "node": {"kind": "class", "iri": EX + "B"}},
            ],
        }]
        conf, report = run(spark, rows, shapes,
                           [(EX + "x", "S"), (EX + "y", "S")])
        assert conf == {(EX + "x", "S"): False, (EX + "y", "S"): True}, \
            sibling
        assert [(r.focus_node, r.component) for r in report] == [
            (EX + "x", "QualifiedMinCountConstraintComponent")], sibling


def pairwise_fixture():
    """(rows, shapes) covering every pairwise component: equals both
    ways, a language-tagged twin, node-level ``self``, disjoint,
    lessThan against two sibling values, equal values, dateTime and a
    non-numeric value, an inverse and a sequence path, a literal focus
    term spelled like a failing IRI, a closed shape, duplicated arcs on
    both sides, and a hub with 2,000 values and no sibling value."""
    dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    iri = lambda n: ("iri", EX + n, None, None)  # noqa: E731
    arcs = {
        "e1": [("a", lit("v")), ("b", lit("v"))],
        "e2": [("a", lit("v")), ("b", lit("w"))],
        "e3": [("a", lit("v", lang="en")), ("b", lit("v"))],
        "e4": [("a", lit("v")), ("a", lit("v")), ("b", lit("w")),
               ("b", lit("w"))],
        "e5": [("a", lit("v")), ("a", lit("v")), ("b", lit("v"))],
        "n1": [("same", iri("n1"))],
        "n2": [("same", iri("n1"))],
        "d1": [("a", lit("x")), ("b", lit("y"))],
        "d2": [("a", lit("x")), ("b", lit("x"))],
        "d3": [("a", lit("x")), ("a", lit("x")), ("b", lit("x")),
               ("b", lit("x"))],
        "l1": [("lo", lit("1", XSD_INTEGER)), ("hi", lit("2", XSD_INTEGER))],
        "l2": [("lo", lit("5", XSD_INTEGER)), ("hi", lit("2", XSD_INTEGER)),
               ("hi", lit("7", XSD_INTEGER))],
        "l3": [("lo", lit("3", XSD_INTEGER)), ("hi", lit("3", XSD_INTEGER))],
        "l4": [("lo", lit("2020-01-01T00:00:00", dt)),
               ("hi", lit("2021-01-01T00:00:00", dt))],
        "l5": [("lo", lit("2021-01-01T00:00:00", dt)),
               ("hi", lit("2020-01-01T00:00:00", dt))],
        "l6": [("lo", lit("abc")), ("hi", lit("2", XSD_INTEGER))],
        "s1": [("r", iri("t1")), ("r", iri("t2"))],
        "s2": [("r", iri("t2"))],
        "t1": [("q", iri("s1"))],
        "t2": [("q", iri("s1"))],
        "q1": [("p1", iri("m1")), ("hi", lit("2", XSD_INTEGER))],
        "m1": [("p2", lit("1", XSD_INTEGER))],
        "q2": [("p1", iri("m2")), ("hi", lit("2", XSD_INTEGER))],
        "m2": [("p2", lit("9", XSD_INTEGER))],
        "hub": [("a", lit(f"h{i}")) for i in range(2000)],
    }
    rows = [(EX + s, EX + p, *o) for s, pos in arcs.items() for p, o in pos]

    def shape(label, nodes, path, key, sibling, **extra):
        return {"label": label,
                "targets": [{"kind": "targetNode", "value": EX + n}
                            for n in nodes] + extra.pop("targets", []),
                "constraints": [{"path": path, key: EX + sibling}], **extra}

    literal_e2 = {"kind": "targetNode", "value": EX + "e2",
                  "term_kind": "literal", "dt": XSD_STRING}
    shapes = [
        shape("Eq", ["e1", "e2", "e3", "e4", "e5", "hub"], EX + "a",
              "equals", "b", targets=[literal_e2]),
        shape("EqSelf", ["n1", "n2"], {"kind": "self"}, "equals", "same"),
        shape("Disj", ["d1", "d2", "d3"], EX + "a", "disjoint", "b"),
        shape("Lt", ["l1", "l2", "l3", "l4", "l5", "l6"], EX + "lo",
              "lessThan", "hi"),
        shape("Lte", ["l1", "l2", "l3"], EX + "lo", "lessThanOrEquals", "hi"),
        shape("InvEq", ["t1", "t2"], {"kind": "inverse", "iri": EX + "r"},
              "equals", "q"),
        shape("SeqLt", ["q1", "q2"],
              {"kind": "sequence", "steps": [EX + "p1", EX + "p2"]},
              "lessThan", "hi"),
        shape("ClosedEq", ["e1", "e2"], EX + "a", "equals", "b", closed=True),
    ]
    return rows, shapes


def test_equals_disjoint_lessthan(spark):
    """Conformance and the report multiset of every pairwise component
    (pairwise_fixture), validated by the shapes' targets and by an
    explicit focus relation. A predicate's duplicate arcs report once
    per arc; the hub reports each of its 2,000 values without a
    sibling. The expected rows were taken from the engine that
    evaluated pairwise constraints as joins of their own, before they
    became aggregates of the grouped pass."""
    from collections import Counter

    from shaclex_spark.triggers import target_focus

    rows, shapes = pairwise_fixture()
    t = triples_df(spark, rows)
    schema = SchemaDict.from_json(shapes)
    lt, lte = "LessThanConstraintComponent", \
        "LessThanOrEqualsConstraintComponent"
    eq, dj = "EqualsConstraintComponent", "DisjointConstraintComponent"
    closed = "ClosedConstraintComponent"
    expected = Counter(
        [("e2", "Eq", eq, "v", "a"), ("e2", "Eq", eq, "w", "a"),
         ("e3", "Eq", eq, "v", "a"), ("e3", "Eq", eq, "v", "a"),
         ("e4", "Eq", eq, "v", "a"), ("e4", "Eq", eq, "v", "a"),
         ("e4", "Eq", eq, "w", "a"), ("e4", "Eq", eq, "w", "a"),
         ("n2", "EqSelf", eq, EX + "n2", "."),
         ("n2", "EqSelf", eq, EX + "n1", "."),
         ("d2", "Disj", dj, "x", "a")] + [("d3", "Disj", dj, "x", "a")] * 4
        + [("l2", "Lt", lt, "5", "lo"), ("l3", "Lt", lt, "3", "lo"),
           ("l5", "Lt", lt, "2021-01-01T00:00:00", "lo"),
           ("l6", "Lt", lt, "abc", "lo"), ("l2", "Lte", lte, "5", "lo"),
           ("t2", "InvEq", eq, EX + "s2", "^" + EX + "r"),
           ("q2", "SeqLt", lt, "9", "p1/p2"),
           ("e1", "ClosedEq", closed, "v", "b"),
           ("e2", "ClosedEq", closed, "w", "b"),
           ("e2", "ClosedEq", eq, "v", "a"), ("e2", "ClosedEq", eq, "w", "a")]
        + [("hub", "Eq", eq, f"h{i}", "a") for i in range(2000)])
    failing = {(n, s) for n, s, *_ in expected}
    want_conf = Counter(
        (tgt["value"], sh["label"],
         tgt.get("term_kind") == "literal"
         or (tgt["value"].removeprefix(EX), sh["label"]) not in failing)
        for sh in shapes for tgt in sh["targets"])
    for focus in (None, target_focus(spark, schema, t)):
        res = ValidationEngine(spark, schema, t).validate(focus)
        assert Counter((r.node, r.shape, r.conforms)
                       for r in res.conformance.collect()) == want_conf
        report = Counter(
            (r.focus_node.removeprefix(EX), r.source_shape, r.component,
             r.value, r.path.removeprefix(EX).replace("/" + EX, "/"))
            for r in res.report.collect())
        assert report == expected, focus


def test_deactivated_shape(spark):
    rows = [(EX + "x", EX + "other", *lit("v"))]
    shapes = [{"label": "S", "deactivated": True, "closed": True,
               "constraints": [{"path": EX + "name", "minCount": 1}]}]
    conf, report = run(spark, rows, shapes, [(EX + "x", "S")])
    assert conf[(EX + "x", "S")] is True
    assert report == []


def test_literal_focus_has_no_arcs(spark):
    """A literal focus term never inherits the arcs of an IRI subject
    with the same spelling: a literal has no outgoing arcs. Checked for
    each constraint family, over target rows (validate_kg) and over
    candidate rows (the focus_filter path)."""
    from shaclex_spark.pipeline import validate_kg

    a = "http://ex/a"
    t = triples_df(spark, [(a, EX + "p", *lit("x"))])
    lit_tgt = {"kind": "targetNode", "value": a, "term_kind": "literal",
               "dt": XSD_STRING}
    only_literal = [{"label": "S", "targets": [lit_tgt],
                     "constraints": [{"path": EX + "p", "minCount": 1}]}]
    assert validate_kg(spark, t, only_literal).finish().conforms is False

    both = [lit_tgt, {"kind": "targetNode", "value": a}]
    shapes = [
        {"label": "Simple", "targets": both,
         "constraints": [{"path": EX + "p", "minCount": 1}]},
        {"label": "Path", "targets": both,
         "constraints": [{"path": {"kind": "alternative",
                                   "steps": [EX + "p", EX + "q"]},
                          "minCount": 1}]},
        {"label": "Equals", "targets": both,
         "constraints": [{"path": EX + "p", "equals": EX + "q"}]},
        {"label": "Group", "targets": both,
         "groupBlocks": [{"members": [{"path": EX + "p", "minCount": 1,
                                       "maxCount": 1}]}]},
    ]
    # one IRI row and one literal row per shape; the literal's verdict
    # is the opposite of the IRI's in every family (Equals: the IRI has
    # p={"x"}, q={} and fails; the literal has neither and conforms)
    focus_filter = spark.createDataFrame([(a,)], "node string")
    for ff in (None, focus_filter):
        res = validate_kg(spark, t, shapes, focus_filter=ff)
        got: dict[str, list[bool]] = {}
        for r in res.conformance.collect():
            got.setdefault(r["shape"], []).append(r["conforms"])
        assert {k: sorted(v) for k, v in got.items()} == {
            lbl: [False, True] for lbl in ("Simple", "Path", "Equals",
                                          "Group")}, (ff is None, got)
