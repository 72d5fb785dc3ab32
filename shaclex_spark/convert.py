"""Schema conversion & serialization: SchemaDict ↔ ShExC / SHACL Turtle.

Reference parity (SURVEY.md §2.6 'Schema conversion'): shaclex converts
ShEx→SHACL and SHACL→ShEx via converter cores
(/root/reference/modules/converter/src/main/scala/es/weso/shacl/
converter/ShEx2Shacl.scala:171-180, Shacl2ShEx.scala:112-123). Our
unified SchemaDict makes conversion a pair of serializers: any parsed
schema (from ShExC via shexc2j.parse_shexc or SHACL Turtle via
shacl_reader.py) can be re-emitted in either language. Driver-side,
pure Python.
"""

from __future__ import annotations

from .model import RDF_TYPE, SH
from .shapes import NodeExpr, Path, PropertyConstraint, SchemaDict, Shape, ValueSpec

_KIND_TO_SHEX = {"IRI": "IRI", "BlankNode": "BNODE", "Literal": "LITERAL",
                 "BlankNodeOrIRI": "NONLITERAL"}


def _iri(x: str) -> str:
    return f"<{x}>"


# --------------------------------------------------------------- ShExC


def _value_shex(v: ValueSpec) -> str:
    if v.kind == "iri":
        return _iri(v.value)
    s = '"' + v.value.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if v.lang:
        return s + "@" + v.lang
    if v.dt:
        return s + "^^" + _iri(v.dt)
    return s


def _expr_shex(e: NodeExpr) -> str:
    k = e.kind
    if k == "true":
        return "."
    if k == "datatype":
        return _iri(e.iri)
    if k == "nodeKind":
        return _KIND_TO_SHEX.get(e.enum, "IRI")
    if k == "ref":
        return "@" + _iri(e.label)
    if k == "in":
        return "[" + " ".join(_value_shex(v) for v in e.values) + "]"
    if k == "not":
        return "NOT " + _expr_shex(e.exprs[0])
    if k in ("and", "allOf"):
        return " AND ".join(_expr_shex(s) for s in e.exprs)
    if k == "or":
        return " OR ".join(_expr_shex(s) for s in e.exprs)
    # facets/other components have no flat ShExC rendering in the
    # reference's fragment either — emit wildcard with a comment
    return "."


def _card_shex(mn: int, mx: int | None) -> str:
    if (mn, mx) == (1, 1):
        return ""
    if (mn, mx) == (0, 1):
        return " ?"
    if mn == 0 and mx is None:
        return " *"
    if mn == 1 and mx is None:
        return " +"
    if mx is None:
        return f" {{{mn},}}"
    if mn == mx:
        return f" {{{mn}}}"
    return f" {{{mn},{mx}}}"


def schema_to_shexc(schema: SchemaDict) -> str:
    """Serialize to ShExC (the flat fragment; SHACL-only components
    degrade to '.')."""
    out = []
    for lbl, sh in schema.shapes.items():
        head = _iri(lbl)
        for ne in sh.node_constraints:
            if ne.kind == "nodeKind":
                head += " " + _KIND_TO_SHEX.get(ne.enum, "IRI")
        if sh.ignored:
            head += " EXTRA " + " ".join(_iri(p) for p in sh.ignored)
        lines = []
        for pc in sh.properties:
            if pc.path.kind == "pred":
                pred = _iri(pc.path.iri)
            elif pc.path.kind == "inverse" and pc.path.iri:
                pred = "^" + _iri(pc.path.iri)
            else:
                continue  # complex paths are SHACL-only
            lines.append(f"  {pred} {_expr_shex(pc.node)}"
                         f"{_card_shex(pc.min_count, pc.max_count)}")
        body = " ;\n".join(lines)
        out.append(f"{head} {{\n{body}\n}}")
    return "\n".join(out) + "\n"


# --------------------------------------------------------- SHACL Turtle


def _term_ttl(v: ValueSpec) -> str:
    if v.kind == "iri":
        return _iri(v.value)
    if v.kind == "bnode":
        return v.value
    s = '"' + v.value.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if v.lang:
        return s + "@" + v.lang
    if v.dt:
        return s + "^^" + _iri(v.dt)
    return s


def _path_ttl(p: Path) -> str:
    if p.kind == "pred":
        return _iri(p.iri)
    if p.kind == "inverse":
        inner = _iri(p.iri) if p.iri else _path_ttl(p.steps[0])
        return f"[ sh:inversePath {inner} ]"
    if p.kind == "sequence":
        return "( " + " ".join(_path_ttl(s) for s in p.steps) + " )"
    if p.kind == "alternative":
        return ("[ sh:alternativePath ( "
                + " ".join(_path_ttl(s) for s in p.steps) + " ) ]")
    marker = {"zeroOrMore": "sh:zeroOrMorePath",
              "oneOrMore": "sh:oneOrMorePath",
              "zeroOrOne": "sh:zeroOrOnePath"}[p.kind]
    return f"[ {marker} {_path_ttl(p.steps[0])} ]"


def _expr_ttl(e: NodeExpr, lines: list[str]) -> None:
    """Append sh: component statements for one node expr."""
    k = e.kind
    if k == "true":
        return
    if k == "datatype":
        lines.append(f"sh:datatype {_iri(e.iri)}")
    elif k == "class":
        lines.append(f"sh:class {_iri(e.iri)}")
    elif k == "nodeKind":
        lines.append(f"sh:nodeKind sh:{e.enum}")
    elif k == "ref":
        lines.append(f"sh:node {_iri(e.label)}")
    elif k == "in":
        lines.append("sh:in ( " + " ".join(_term_ttl(v) for v in e.values) + " )")
    elif k == "hasValue":
        lines.append(f"sh:hasValue {_term_ttl(e.values[0])}")
    elif k == "pattern":
        lines.append(f'sh:pattern "{e.pattern}"')
        if e.flags:
            lines.append(f'sh:flags "{e.flags}"')
    elif k in ("minLength", "maxLength"):
        lines.append(f"sh:{k} {e.num}")
    elif k in ("minInclusive", "maxInclusive", "minExclusive", "maxExclusive"):
        lines.append(f'sh:{k} "{e.value}"^^<http://www.w3.org/2001/XMLSchema#decimal>'
                     if e.dt is None else f'sh:{k} "{e.value}"^^{_iri(e.dt)}')
    elif k == "languageIn":
        lines.append("sh:languageIn ( " + " ".join(f'"{l}"' for l in e.langs) + " )")
    elif k == "not":
        sub: list[str] = []
        _expr_ttl(e.exprs[0], sub)
        lines.append("sh:not [ " + " ; ".join(sub) + " ]")
    elif k in ("and", "or", "xone"):
        subs = []
        for s in e.exprs:
            sl: list[str] = []
            _expr_ttl(s, sl)
            subs.append("[ " + " ; ".join(sl) + " ]")
        lines.append(f"sh:{k} ( " + " ".join(subs) + " )")
    elif k == "allOf":
        for s in e.exprs:
            _expr_ttl(s, lines)


def _prop_ttl(pc: PropertyConstraint) -> str:
    lines = [f"sh:path {_path_ttl(pc.path)}"]
    if pc.min_count:
        lines.append(f"sh:{'qualifiedMinCount' if pc.qualified else 'minCount'} "
                     f"{pc.min_count}")
    if pc.max_count is not None:
        lines.append(f"sh:{'qualifiedMaxCount' if pc.qualified else 'maxCount'} "
                     f"{pc.max_count}")
    if pc.qualified:
        sub: list[str] = []
        _expr_ttl(pc.node, sub)
        lines.append("sh:qualifiedValueShape [ " + " ; ".join(sub) + " ]")
    else:
        _expr_ttl(pc.node, lines)
    if pc.unique_lang:
        lines.append("sh:uniqueLang true")
    for key, pred in (("equals", "sh:equals"), ("disjoint", "sh:disjoint"),
                      ("less_than", "sh:lessThan"),
                      ("less_than_or_equals", "sh:lessThanOrEquals")):
        v = getattr(pc, key)
        if v:
            lines.append(f"{pred} {_iri(v)}")
    if pc.severity != "Violation":
        lines.append(f"sh:severity sh:{pc.severity}")
    if pc.message:
        lines.append(f'sh:message "{pc.message}"')
    return "[ " + " ;\n      ".join(lines) + " ]"


def schema_to_shacl_turtle(schema: SchemaDict) -> str:
    """Serialize to a SHACL shapes graph (Turtle) readable back by
    shacl_reader.schema_from_turtle."""
    out = ["@prefix sh: <http://www.w3.org/ns/shacl#> ."]
    for lbl, sh in schema.shapes.items():
        subj = _iri(lbl) if not lbl.startswith("_:") else lbl
        lines = ["a sh:NodeShape"]
        for t in sh.targets:
            if t.kind == "targetNode" and t.term_kind == "literal":
                v = ValueSpec("literal", t.value, t.dt, t.lang)
                lines.append(f"sh:targetNode {_term_ttl(v)}")
            else:
                lines.append(f"sh:{t.kind} {_iri(t.value)}")
        if sh.deactivated:
            lines.append("sh:deactivated true")
        if sh.closed:
            lines.append("sh:closed true")
            if sh.ignored:
                lines.append("sh:ignoredProperties ( "
                             + " ".join(_iri(p) for p in sh.ignored) + " )")
        if sh.severity != "Violation":
            lines.append(f"sh:severity sh:{sh.severity}")
        if sh.message:
            lines.append(f'sh:message "{sh.message}"')
        for ne in sh.node_constraints:
            _expr_ttl(ne, lines)
        for pc in sh.properties:
            lines.append("sh:property " + _prop_ttl(pc))
        out.append(subj + "\n  " + " ;\n  ".join(lines) + " .")
    return "\n\n".join(out) + "\n"


def shex_to_shacl(shexc_text: str) -> str:
    """ShExC schema text → SHACL Turtle (ShEx2Shacl analogue)."""
    from .shexc2j import parse_shexc

    schema, _ = parse_shexc(shexc_text)
    return schema_to_shacl_turtle(schema)


def shacl_to_shex(turtle_text: str) -> str:
    """SHACL Turtle shapes graph → ShExC (Shacl2ShEx analogue)."""
    from .shacl_reader import schema_from_turtle

    return schema_to_shexc(schema_from_turtle(turtle_text))
