"""The ShExC front end (shexc2j): ShExJ output vs the suite's twins,
and parse_shexc's SchemaDict.

The 408 `.shex` schemas in the vendored W3C suite that have a `.json`
twin (shex.js-converted ShExJ — the reference's own parity target,
ShExSchema.scala:29-41 lists ShExC first) must translate to the SAME
AST modulo two serialization-only differences: resolved vs relative
import IRIs and the min=max=1 cardinality default."""

from __future__ import annotations

import glob
import json
import os

import pytest

from shaclex_spark.convert import schema_to_shexc
from shaclex_spark.shapes import SchemaDict
from shaclex_spark.shexc2j import ShExCError, parse_shexc, shexc_to_shexj
from shaclex_spark.sources.turtle import turtle_to_rows
from shaclex_spark.triggers import parse_shape_map, shape_map_focus
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, needs_corpus, triples_df

SCHEMAS = "/root/reference/src/test/resources/shexTest/schemas"
BASE = "https://raw.githubusercontent.com/shexSpec/shexTest/master/schemas/"


def _norm(x):
    if isinstance(x, dict):
        d = {k: _norm(v) for k, v in x.items() if k != "@context"}
        if "imports" in d:
            # twins keep import IRIs relative; the parser resolves them
            d["imports"] = [i.rsplit("/", 1)[-1] for i in d["imports"]]
        if d.get("min") == 1 and d.get("max") == 1:
            d.pop("min"), d.pop("max")
        return {k: v for k, v in d.items() if v != []}
    if isinstance(x, list):
        return [_norm(v) for v in x]
    return x


@needs_corpus(SCHEMAS)
def test_every_suite_schema_parses():
    files = sorted(glob.glob(os.path.join(SCHEMAS, "*.shex")))
    assert len(files) >= 410
    for f in files:
        shexc_to_shexj(open(f, encoding="utf-8").read(),
                       base=BASE + os.path.basename(f))


@needs_corpus(SCHEMAS)
def test_twin_parity_all_408():
    files = [f for f in sorted(glob.glob(os.path.join(SCHEMAS, "*.shex")))
             if os.path.exists(f[:-5] + ".json")]
    assert len(files) >= 405
    bad = []
    for f in files:
        got = shexc_to_shexj(open(f, encoding="utf-8").read(),
                             base=BASE + os.path.basename(f))
        want = json.load(open(f[:-5] + ".json", encoding="utf-8"))
        if _norm(got) != _norm(want):
            bad.append(os.path.basename(f))
    assert not bad, f"{len(bad)} twin mismatches: {bad[:10]}"


def test_code_uchar_escapes_decoded():
    j = shexc_to_shexj(
        "<http://a.example/S1> { <http://a.example/p1> . \n"
        "  %<http://shex.io/extensions/Test/>"
        "{ print\\u0028\\u0022\\%{\\\\\\\\\\%}\\u0022\\u0029 %} }")
    code = j["shapes"][0]["expression"]["semActs"][0]["code"]
    assert code == ' print("%{\\\\%}") '


def test_paren_and_keeps_nesting():
    j = shexc_to_shexj(
        "<http://a.example/S1> { <http://a.example/p1> . } AND "
        "({ <http://a.example/p2> . } AND { <http://a.example/p3> . })")
    top = j["shapes"][0]
    assert top["type"] == "ShapeAnd"
    assert len(top["shapeExprs"]) == 2
    assert top["shapeExprs"][1]["type"] == "ShapeAnd"  # group survives
    assert "_paren" not in json.dumps(j)


def test_literal_exclusions_are_bare_strings():
    j = shexc_to_shexj(
        '<http://a.example/S1> { <http://a.example/p1> '
        '[. - "v1" - "v2"~] }')
    vs = j["shapes"][0]["expression"]["valueExpr"]["values"][0]
    assert vs["type"] == "LiteralStemRange"
    assert vs["exclusions"] == ["v1", {"type": "LiteralStem", "stem": "v2"}]


def test_trailing_garbage_rejected():
    import pytest
    with pytest.raises(ShExCError):
        shexc_to_shexj("<http://a.example/S1> { <http://a.example/p1> . } }")


# ------------------------------------------------ repeat range after a kind

@pytest.mark.parametrize("kind,card,mn,mx", [
    ("IRI", "{2}", 2, 2), ("BNODE", "{2,}", 2, -1),
    ("NONLITERAL", "{1,3}", 1, 3)])
def test_repeat_range_after_nonliteral_kind(kind, card, mn, mx):
    """`{m}`, `{m,}` and `{m,n}` are one REPEAT_RANGE terminal: after a
    non-literal node kind they are a cardinality, not an inline shape."""
    j = shexc_to_shexj(f"<http://e/S> {{ <http://e/q> {kind} {card} }}")
    tc = j["shapes"][0]["expression"]
    assert tc["valueExpr"] == {"type": "NodeConstraint",
                               "nodeKind": kind.lower()}
    assert (tc["min"], tc["max"]) == (mn, mx)


def test_kind_then_braces_is_still_a_shape():
    j = shexc_to_shexj("<http://e/S> { <http://e/q> IRI { } ; "
                       "<http://e/r> IRI { <http://e/p> . } }")
    q, r = j["shapes"][0]["expression"]["expressions"]
    assert [m["type"] for m in q["valueExpr"]["shapeExprs"]] == \
        ["NodeConstraint", "Shape"]
    assert r["valueExpr"]["shapeExprs"][1]["expression"]["predicate"] == \
        "http://e/p"
    assert "min" not in q and "min" not in r


# --------------------------------------------- parse_shexc: SLang reading

E = "http://e/"
XSD = "http://www.w3.org/2001/XMLSchema#"
P = f"prefix : <{E}>\nprefix xsd: <{XSD}>\n"
TRUE = {"kind": "true"}


def _kind(k):
    return {"kind": "nodeKind", "value": k}


def _ref(label):
    return {"kind": "ref", "label": label}


def _tc(pred, node=TRUE, card=(1, 1)):
    """An exclusive (two-count) triple constraint; '^p' is inverse."""
    iri = pred if "://" in pred else E + pred.lstrip("^")
    path = {"kind": "inverse", "iri": iri} if pred[0] == "^" else iri
    return {"path": path, "minCount": card[0], "maxCount": card[1],
            "node": node, "exclusive": True}


def _shape(label, *constraints, extra=(), **more):
    """A shape closed over its mentioned predicates."""
    return {"label": label, "constraints": list(constraints), **more,
            "closed": True, "extra": [E + p for p in extra]}


# Each construct the earlier SLang-only ShExC parser handled, with the
# SchemaDict JSON that parser produced for it.
PARITY = {
    "node-kinds": (
        "<S> IRI { :p IRI ; :q BNODE ; :r LITERAL ; :s NONLITERAL }",
        [_shape("S", _tc("p", _kind("IRI")), _tc("q", _kind("BlankNode")),
                _tc("r", _kind("Literal")), _tc("s", _kind("BlankNodeOrIRI")),
                nodeConstraints=[_kind("IRI")])]),
    "shape-kind-closed": (
        "<S> BNODE { :p . }\n<T> NONLITERAL CLOSED { :p . }",
        [_shape("S", _tc("p"), nodeConstraints=[_kind("BlankNode")]),
         _shape("T", _tc("p"), nodeConstraints=[_kind("BlankNodeOrIRI")])]),
    "cardinalities": (
        "<S> { :a . ? ; :b . + ; :c . * ; :d . {2} ; :e . {1,3} ; "
        ":f . {2,} ; :g . {0,*} }",
        [_shape("S", _tc("a", card=(0, 1)), _tc("b", card=(1, None)),
                _tc("c", card=(0, None)), _tc("d", card=(2, 2)),
                _tc("e", card=(1, 3)), _tc("f", card=(2, None)),
                _tc("g", card=(0, None)))]),
    "inverse-datatype": (
        "<S> { ^:p @<T> ; :q xsd:string }\n<T> { }",
        [_shape("S", _tc("^p", _ref("T")),
                _tc("q", {"kind": "datatype", "iri": XSD + "string"})),
         _shape("T")]),
    "rdf-type": (
        "<S> { a [:C :D] }",
        [_shape("S", _tc("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                         {"kind": "in", "values": [
                             {"kind": "iri", "value": E + "C"},
                             {"kind": "iri", "value": E + "D"}]}))]),
    "refs": (
        "<S> { :p @<T> * }\n<T> { :q xsd:integer }",
        [_shape("S", _tc("p", _ref("T"), (0, None))),
         _shape("T", _tc("q", {"kind": "datatype", "iri": XSD + "integer"}))]),
    "value-set": (
        '<S> { :p ["a" "b"@en "1"^^xsd:int "x\\"y"^^<http://e/dt> '
        ':v <http://e/w>] }',
        [_shape("S", _tc("p", {"kind": "in", "values": [
            {"kind": "literal", "value": "a"},
            {"kind": "literal", "value": "b", "lang": "en"},
            {"kind": "literal", "value": "1", "dt": XSD + "int"},
            {"kind": "literal", "value": 'x"y', "dt": E + "dt"},
            {"kind": "iri", "value": E + "v"},
            {"kind": "iri", "value": E + "w"}]}))]),
    "and-or-not": (
        "<S> { :p IRI AND @<T> ; :q xsd:string OR xsd:integer ; "
        ":r NOT @<T> }\n<T> { }",
        [_shape("S",
                _tc("p", {"kind": "and", "exprs": [_kind("IRI"), _ref("T")]}),
                _tc("q", {"kind": "or", "exprs": [
                    {"kind": "datatype", "iri": XSD + "string"},
                    {"kind": "datatype", "iri": XSD + "integer"}]}),
                _tc("r", {"kind": "not", "expr": _ref("T")})),
         _shape("T")]),
    "top-level-oneof": (
        "<S> { :a . ; :b . | :c . }",
        [_shape("S", oneOf=[[_tc("a"), _tc("b")], [_tc("c")]])]),
    "inline-oneof": (
        "<S> { :a . ; ( :b . | :c . ; :d . ) }",
        [_shape("S", _tc("a"), oneOf=[[_tc("b")], [_tc("c"), _tc("d")]])]),
    "group-eachof": (
        "<S> { ( :a . ; :b . ){2,3} }",
        [_shape("S", groupBlocks=[{"kind": "eachOf", "minCount": 2,
                                   "maxCount": 3,
                                   "members": [_tc("a"), _tc("b")]}])]),
    "group-oneof": (
        "<S> { ( :p . | :q . ){2} ; :r . ? }",
        [_shape("S", _tc("r", card=(0, 1)),
                groupBlocks=[{"kind": "oneOf", "minCount": 2, "maxCount": 2,
                              "members": [_tc("p"), _tc("q")]}])]),
    "group-optional": (
        "<S> { ( :a . ; :b . )? }",
        [_shape("S", groupBlocks=[{"kind": "eachOf", "minCount": 0,
                                   "maxCount": 1,
                                   "members": [_tc("a"), _tc("b")]}])]),
    "closed": (
        "<S> CLOSED { :p . }", [_shape("S", _tc("p"))]),
    "prefixed-labels-comments": (
        "# a comment\n:S { :p . } # tail\n:T { :p @:S }",
        [_shape(E + "S", _tc("p")), _shape(E + "T", _tc("p", _ref(E + "S")))]),
}

# Where the earlier parser departed from the reference's compilation,
# the shared ShExJ mapping wins; these are the new values.
DEVIATIONS = {
    # EXTRA p: p's TC is qualified (SURVEY §2.4 row EXTRA); it was
    # exclusive
    "extra-qualifies": (
        "<S> EXTRA :p { :p @<T> ; :q . }\n<T> { }",
        [_shape("S", {"path": E + "p", "minCount": 1, "maxCount": 1,
                      "node": _ref("T"), "qualified": True}, _tc("q"),
                extra=["p"]),
         _shape("T")]),
    # a repeated predicate is one partition; it was two exclusive TCs
    "repeat-partition": (
        "<S> { :p [:a] ; :p [:b] }",
        [_shape("S", repeatAlts={"mentioned": [E + "p"], "alts": [[
            _tc("p", {"kind": "in", "values": [{"kind": "iri",
                                                "value": E + "a"}]}),
            _tc("p", {"kind": "in", "values": [{"kind": "iri",
                                                "value": E + "b"}]})]]})]),
    # a bare ( a ; b ) is EachOf members; it was a one-group OneOf
    "bare-group": (
        "<S> { ( :a . ; :b . ) ; :c . }",
        [_shape("S", _tc("a"), _tc("b"), _tc("c"))]),
    # relative IRIs resolve against BASE; BASE was ignored
    "base": (
        "BASE <http://b/>\n<S> { :p @<T> }\n<T> { <q> . }",
        [_shape("http://b/S", _tc("p", _ref("http://b/T"))),
         _shape("http://b/T", _tc("http://b/q"))]),
    # language tags are lowercased (the ShExJ form; value-set matching
    # compares tags case-insensitively, so verdicts are unchanged)
    "language-tag-case": (
        '<S> { :p ["b"@EN-us] }',
        [_shape("S", _tc("p", {"kind": "in", "values": [
            {"kind": "literal", "value": "b", "lang": "en-us"}]}))]),
    # AND binds tighter than OR, and chains are flat; both were read
    # left to right into nested pairs
    "and-or-precedence": (
        "<S> { :p xsd:string OR xsd:int AND xsd:long ; "
        ":q IRI AND @<T> AND NOT @<T> }\n<T> { }",
        [_shape("S",
                _tc("p", {"kind": "or", "exprs": [
                    {"kind": "datatype", "iri": XSD + "string"},
                    {"kind": "and", "exprs": [
                        {"kind": "datatype", "iri": XSD + "int"},
                        {"kind": "datatype", "iri": XSD + "long"}]}]}),
                _tc("q", {"kind": "and", "exprs": [
                    _kind("IRI"), _ref("T"),
                    {"kind": "not", "expr": _ref("T")}]})),
         _shape("T")]),
}


@pytest.mark.parametrize("case", sorted(PARITY) + sorted(DEVIATIONS))
def test_parse_shexc_schema(case):
    text, want = PARITY.get(case) or DEVIATIONS[case]
    schema, prefixes = parse_shexc(P + text)
    assert schema == SchemaDict.from_json(want)
    assert prefixes == {"": E, "xsd": XSD}


def test_deviation_verdicts(spark):
    """The EXTRA and repeated-predicate readings change verdicts: each
    node below conforms, and each failed under the earlier parser's
    exclusive TCs."""
    schema, _ = parse_shexc(P + """
<S> EXTRA :p { :p @<T> }
<T> { :r . }
<R> { :p [:a] ; :p [:b] }
""")
    rows = [(E + "n", E + "p", "iri", E + "t", None, None),  # matches T
            (E + "t", E + "r", "iri", E + "x", None, None),
            (E + "n", E + "p", "iri", E + "u", None, None),  # an EXTRA arc
            (E + "m", E + "p", "iri", E + "a", None, None),
            (E + "m", E + "p", "iri", E + "b", None, None)]
    engine = ValidationEngine(spark, schema, triples_df(spark, rows))
    res = engine.validate(focus_df(spark, [(E + "n", "S"), (E + "m", "R")]))
    conf = {r.shape: r.conforms for r in res.conformance.collect()}
    assert conf == {"S": True, "R": True}


@pytest.mark.parametrize("text", [
    "a { <http://e/p> . }",                              # shapename-a
    "<http://e/S> { <http://e/p> a }",                   # 'a' as a value
    "<http://e/S> { <http://e/p> . // <http://e/q> a }",  # 'a' as annot
    "<http://e/S> { <http://e/p> . <http://e/q> . }",    # no separator
    "<http://e/S> { <http://e/p q> . }",                 # IRIREF space
    "<http://e/S> { <http://e/p\\nq> . }",               # IRIREF \n
    "<http://e/S> { <http://e/p\\/q> . }",               # IRIREF \/
    "<http://e/S> { ex:p . }",                           # undeclared
    P + "<S> { ( :a . | :b . ) ; ( :c . | :d . ) }",     # two OneOfs
    P + "<S> { ( :a . ; :b . | :c . ){2} }",             # mixed group
    P + "<S> { :p @:T }",                                # dangling ref
], ids=["shapename-a", "1dotAnnot_AIRIREF-value", "1dotAnnot_AIRIREF-object",
        "group-no-COMMA-separators", "IRIREF-with-space", "IRIREF-with-ECHAR",
        "IRIREF-with-PN_LOCAL_ESC", "undeclared-prefix", "two-oneofs",
        "mixed-group-cardinality", "dangling-ref"])
def test_parse_shexc_rejects(text):
    with pytest.raises(ValueError) as exc:
        parse_shexc(text)
    assert type(exc.value).__name__ in ("ShExCError", "SchemaError"), \
        exc.value


def test_schema_to_shexc_round_trip():
    """schema_to_shexc writes `<q> IRI {2}`; parse_shexc reads it back
    to the same SchemaDict."""
    schema, _ = parse_shexc(P + """
<S> IRI { :q IRI {2} ; ^:r @<T> * ; :s xsd:string ? ; :t [:a "b"@en] {1,3} }
<T> { :u NONLITERAL {2,} ; :v BNODE + }
""")
    text = schema_to_shexc(schema)
    assert "<http://e/q> IRI {2}" in text
    assert parse_shexc(text)[0] == schema


# FIXTURES §7 paper-user-course re-encoded inline: the shapes and
# cardinalities test_shexc.py asserts of the corpus paper.shex, and
# data with one conforming and one nonconforming user
PAPER_SHEX = """
prefix : <http://example.org/>
prefix xsd: <http://www.w3.org/2001/XMLSchema#>
<User> IRI {
  :name xsd:string ;
  :age xsd:integer ? ;
  :enrolledIn @<Course> + ;
  :knows @<User> *
}
<Course> { :students @<User> {1,20} }
"""
PAPER_TTL = """
@prefix : <http://example.org/> .
:alice :name "Alice" ; :age 23 ; :enrolledIn :cs101 ; :knows :carol .
:carol :name "Carol" ; :enrolledIn :cs101 .
:bob :name "Bob" ; :age "None" ; :enrolledIn :cs102 .
:cs101 :students :alice, :carol .
:cs102 :students :bob .
"""


def test_paper_user_course_inline(spark):
    schema, prefixes = parse_shexc(PAPER_SHEX)
    assert set(schema.shapes) == {"User", "Course"}
    user = schema.shapes["User"]
    assert user.node_constraints[0].kind == "nodeKind"
    ex = "http://example.org/"
    assert {p.path.describe(): (p.min_count, p.max_count)
            for p in user.properties} == {
        ex + "name": (1, 1), ex + "age": (0, 1),
        ex + "enrolledIn": (1, None), ex + "knows": (0, None)}
    assert [(p.path.describe(), p.min_count, p.max_count)
            for p in schema.shapes["Course"].properties] == \
        [(ex + "students", 1, 20)]
    triples = triples_df(spark, turtle_to_rows(PAPER_TTL))
    focus = shape_map_focus(spark, triples, parse_shape_map(
        ":alice@<User>, :bob@<User>", prefixes))
    res = ValidationEngine(spark, schema, triples).validate(focus)
    conf = {(r.node, r.shape): r.conforms for r in res.conformance.collect()}
    assert conf == {(ex + "alice", "User"): True, (ex + "bob", "User"): False}
    # bob's age fails, and with it his course, whose only student he is
    assert {r.path for r in res.report.collect()
            if r.focus_node == ex + "bob"} == {ex + "age", ex + "enrolledIn"}
