"""Repeated-predicate partition semantics (shapes.RepeatAlts /
validation._partition_check — VERDICT r2 'Next round' #4).

Same predicate in multiple TripleConstraints means the focus node's
arcs must be PARTITIONED among the TC slots, each consuming a count
within its bounds (declarative/exhaustive reading; suite families
PstarT / P2T2 / nPlus1 / false-lead-excluding-value-shape). The
engine decides feasibility per (alternative, predicate) with the
Gale-Hoffman subset conditions as pure conditional aggregates — no
search, one groupBy.
"""

from __future__ import annotations

from shaclex_spark.shapes import SchemaDict
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, triples_df

EX = "http://a.example/"


def run_shape(spark, schema_json, rows, node, shape):
    t = triples_df(spark, rows)
    engine = ValidationEngine(spark, SchemaDict.from_json(schema_json), t,
                              cache=False)
    res = engine.validate(focus_df(spark, [(node, shape)]))
    got = {r["node"]: r["conforms"] for r in res.conformance.collect()}
    return got[node]


def _pstar_schema(s1_bounds, s2_bounds):
    """{:a @P s1_bounds; :a @T s2_bounds} with P=[p pt1 pt2],
    T=[t pt1 pt2] (the suite's Pstar.shex shapes)."""
    def vs(*names):
        return {"kind": "in", "values": [
            {"kind": "iri", "value": EX + n} for n in names]}

    (m1, x1), (m2, x2) = s1_bounds, s2_bounds
    return [
        {"label": "P", "nodeConstraints": [vs("p", "pt1", "pt2")]},
        {"label": "T", "nodeConstraints": [vs("t", "pt1", "pt2")]},
        {"label": "S", "repeatAlts": {
            "mentioned": [EX + "a"],
            "alts": [[
                {"path": EX + "a", "minCount": m1, "maxCount": x1,
                 "node": {"kind": "ref", "label": "P"}},
                {"path": EX + "a", "minCount": m2, "maxCount": x2,
                 "node": {"kind": "ref", "label": "T"}},
            ]]}},
    ]


PSTAR_ROWS = [
    (EX + "n", EX + "a", "iri", EX + "pt1", None, None),
    (EX + "n", EX + "a", "iri", EX + "pt2", None, None),
    (EX + "n", EX + "a", "iri", EX + "t", None, None),
    (EX + "n", EX + "a", "iri", EX + "p", None, None),
]


def test_pstar_t_exactly_one(spark):
    # {:a @P*; :a @T}: T consumes exactly one of {pt1,pt2,t}, P* the rest
    assert run_shape(spark, _pstar_schema((0, None), (1, 1)),
                     PSTAR_ROWS, EX + "n", "S") is True


def test_p2_t2_exact_split(spark):
    # {:a @P{2}; :a @T{2}}: P={p,one pt}, T={t,other pt}
    assert run_shape(spark, _pstar_schema((2, 2), (2, 2)),
                     PSTAR_ROWS, EX + "n", "S") is True


def test_infeasible_overcommitted(spark):
    # {:a @P{1,1}; :a @T{1,1}}: four arcs, capacity two — the two
    # surplus arcs cannot be consumed
    assert run_shape(spark, _pstar_schema((1, 1), (1, 1)),
                     PSTAR_ROWS, EX + "n", "S") is False


def test_infeasible_unsatisfiable_arc(spark):
    # an arc satisfying NEITHER P nor T is an unmatched matchable
    rows = PSTAR_ROWS + [(EX + "n", EX + "a", "iri", EX + "zz", None, None)]
    assert run_shape(spark, _pstar_schema((0, None), (0, None)),
                     rows, EX + "n", "S") is False


def test_hall_lower_bound_violation(spark):
    # {:a @P{3}; :a @T*} over {p, t}: P can reach only {p} (1 < 3)
    rows = [
        (EX + "n", EX + "a", "iri", EX + "p", None, None),
        (EX + "n", EX + "a", "iri", EX + "t", None, None),
    ]
    assert run_shape(spark, _pstar_schema((3, 3), (0, None)),
                     rows, EX + "n", "S") is False


def test_oneof_alternative_with_shared_pred(spark):
    # nPlus1-greedy-rewrite shape: { :a [1]; (:a [2]+ | :a [3]); :a [4]* }
    def lit_in(v):
        return {"kind": "in", "values": [{"kind": "literal", "value": v,
                                          "dt": "http://www.w3.org/2001/XMLSchema#integer"}]}

    schema = [{"label": "S", "repeatAlts": {
        "mentioned": [EX + "a"],
        "alts": [
            [{"path": EX + "a", "minCount": 1, "maxCount": 1, "node": lit_in("1")},
             {"path": EX + "a", "minCount": 1, "maxCount": None, "node": lit_in("2")},
             {"path": EX + "a", "minCount": 0, "maxCount": None, "node": lit_in("4")}],
            [{"path": EX + "a", "minCount": 1, "maxCount": 1, "node": lit_in("1")},
             {"path": EX + "a", "minCount": 1, "maxCount": 1, "node": lit_in("3")},
             {"path": EX + "a", "minCount": 0, "maxCount": None, "node": lit_in("4")}],
        ]}}]
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (EX + "x", EX + "a", "literal", "1", xsd_int, None),
        (EX + "x", EX + "a", "literal", "3", xsd_int, None),
    ]
    # alternative 1 strands the "3" arc; alternative 2 consumes both
    assert run_shape(spark, schema, rows, EX + "x", "S") is True
    # removing alternative 2 must fail
    schema_one = [{"label": "S", "repeatAlts": {
        "mentioned": [EX + "a"],
        "alts": [schema[0]["repeatAlts"]["alts"][0]]}}]
    assert run_shape(spark, schema_one, rows, EX + "x", "S") is False


def test_shexj_compiles_repeats_to_repeat_alts():
    from shaclex_spark.shexj import parse_shexj

    doc = {
        "type": "Schema",
        "shapes": [{
            "id": "http://a.example/S",
            "type": "Shape",
            "expression": {"type": "EachOf", "expressions": [
                {"type": "TripleConstraint", "predicate": EX + "a",
                 "min": 0, "max": -1},
                {"type": "TripleConstraint", "predicate": EX + "a"},
            ]}}],
    }
    schema, _ = parse_shexj(doc)
    sh = schema.shapes["http://a.example/S"]
    assert sh.repeat_alts is not None
    assert sh.repeat_alts.mentioned == (EX + "a",)
    assert len(sh.repeat_alts.alts[0]) == 2
    assert sh.properties == []


def test_turtle_base_does_not_mangle_absolute_prefix():
    from shaclex_spark.sources.turtle import parse_turtle

    triples, _ = parse_turtle(
        "BASE <http://a.example/base/>\n"
        "PREFIX : <http://a.example/>\n"
        "<n> :a <pt1> .\n")
    (s, p, o) = triples[0]
    assert s[1] == "http://a.example/base/n"
    assert p == "http://a.example/a"            # NOT base-prefixed
    assert o[1] == "http://a.example/base/pt1"
