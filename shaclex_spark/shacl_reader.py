"""SHACL shapes-graph reader: a parsed RDF graph (Turtle) → SchemaDict.

The reference reads SHACL schemas from any RDF serialization
(Schema-from-RDF, SURVEY.md §2.1; ShaclexSchema.fromRDF,
/root/reference/modules/schema/src/main/scala/es/weso/schema/ShaclexSchema.scala:124-147).
Here: driver-side interpretation of the (small) shapes graph into the
engine's shape dictionary — shapes graphs are broadcast-dimension
sized, never data-sized.

Covers SHACL-core components per the W3C corpus vendored in the
reference (src/test/resources/shacl/tests/core/): targets (4 kinds +
implicit class), node/property shapes, value constraints, logical
combinators, paths (predicate/inverse/sequence/alternative/
zeroOrMore/oneOrMore/zeroOrOne), closed/ignoredProperties, qualified
value shapes, pair constraints, severity/message/deactivated.
Anonymous (bnode) operand shapes are hoisted into labeled shapes with
refs.
"""

from __future__ import annotations

import re

from collections import defaultdict

from .model import RDF, RDF_TYPE, RDFS, SH, XSD_STRING
from .shapes import SchemaDict

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

_VALUE_COMPONENTS = {
    SH + "datatype": "datatype",
    SH + "class": "class",
    SH + "nodeKind": "nodeKind",
    SH + "minInclusive": "minInclusive",
    SH + "maxInclusive": "maxInclusive",
    SH + "minExclusive": "minExclusive",
    SH + "maxExclusive": "maxExclusive",
    SH + "minLength": "minLength",
    SH + "maxLength": "maxLength",
    SH + "pattern": "pattern",
    SH + "hasValue": "hasValue",
    SH + "in": "in",
    SH + "languageIn": "languageIn",
    SH + "node": "node",
    SH + "not": "not",
    SH + "and": "and",
    SH + "or": "or",
    SH + "xone": "xone",
}


class ShaclReadError(ValueError):
    pass


class _Graph:
    def __init__(self, triples):
        self.po = defaultdict(lambda: defaultdict(list))
        for s, p, o in triples:
            self.po[s[1]][p].append(o)
        self.subj_term = {s[1]: s for s, _, _ in triples}

    def objs(self, s: str, p: str) -> list:
        return self.po[s].get(p, [])

    def obj(self, s: str, p: str):
        vals = self.objs(s, p)
        return vals[0] if vals else None

    def rdf_list(self, head) -> list:
        out = []
        cur = head
        while cur is not None and cur[1] != RDF_NIL:
            first = self.obj(cur[1], RDF_FIRST)
            if first is None:
                break
            out.append(first)
            cur = self.obj(cur[1], RDF_REST)
        return out


class ShaclReader:
    def __init__(self, triples):
        self.g = _Graph(triples)
        self.specs: dict[str, dict] = {}
        self._anon = 0

    # ---------------------------------------------------------------
    def read(self) -> SchemaDict:
        for sid, preds in list(self.g.po.items()):
            if SH + "path" in preds and self._has_targets(preds):
                self._top_property_shape_spec(sid)
            elif self._is_node_shape(sid, preds):
                self._node_shape_spec(sid)
        return SchemaDict.from_json(list(self.specs.values()))

    @staticmethod
    def _has_targets(preds) -> bool:
        return any(p in preds for p in (
            SH + "targetNode", SH + "targetClass",
            SH + "targetSubjectsOf", SH + "targetObjectsOf"))

    def _top_property_shape_spec(self, sid: str) -> str:
        """Standalone sh:PropertyShape with its own targets (the W3C
        path tests use this form): wrap as a node shape holding one
        property constraint."""
        if sid in self.specs:
            return sid
        spec: dict = {"label": sid, "targets": []}
        self.specs[sid] = spec
        g = self.g
        for kind, pred in (("targetNode", SH + "targetNode"),
                           ("targetClass", SH + "targetClass"),
                           ("targetSubjectsOf", SH + "targetSubjectsOf"),
                           ("targetObjectsOf", SH + "targetObjectsOf")):
            for o in g.objs(sid, pred):
                tgt = {"kind": kind, "value": o[1]}
                if kind == "targetNode":
                    tgt["term_kind"] = o[0]
                    tgt["dt"], tgt["lang"] = o[2], o[3]
                spec["targets"].append(tgt)
        term = g.subj_term.get(sid, ("iri", sid, None, None))
        spec["constraints"] = [self._property_spec(term)]
        return sid

    def _is_node_shape(self, sid: str, preds) -> bool:
        types = {o[1] for o in preds.get(RDF_TYPE, [])}
        if SH + "NodeShape" in types:
            return True
        # implicit: class that is also a shape via target decls
        if any(p.startswith(SH) for p in preds) and not sid.startswith("_:"):
            return any(p in preds for p in (
                SH + "targetNode", SH + "targetClass",
                SH + "targetSubjectsOf", SH + "targetObjectsOf",
                SH + "property", SH + "closed"))
        return False

    # ---------------------------------------------------------------
    def _node_shape_spec(self, sid: str) -> str:
        if sid in self.specs:
            return sid
        spec: dict = {"label": sid, "targets": [], "constraints": [],
                      "nodeConstraints": []}
        self.specs[sid] = spec
        g = self.g
        for kind, pred in (("targetNode", SH + "targetNode"),
                           ("targetClass", SH + "targetClass"),
                           ("targetSubjectsOf", SH + "targetSubjectsOf"),
                           ("targetObjectsOf", SH + "targetObjectsOf")):
            for o in g.objs(sid, pred):
                tgt = {"kind": kind, "value": o[1]}
                if kind == "targetNode":  # may be a literal term
                    tgt["term_kind"] = o[0]
                    tgt["dt"], tgt["lang"] = o[2], o[3]
                spec["targets"].append(tgt)
        # implicit class target: shape itself typed rdfs:Class
        types = {o[1] for o in g.objs(sid, RDF_TYPE)}
        if RDFS + "Class" in types:
            spec["targets"].append({"kind": "targetClass", "value": sid})

        if g.obj(sid, SH + "deactivated") and \
                g.obj(sid, SH + "deactivated")[1] == "true":
            spec["deactivated"] = True
        sev = g.obj(sid, SH + "severity")
        if sev:
            spec["severity"] = sev[1].removeprefix(SH)
        msg = g.obj(sid, SH + "message")
        if msg:
            spec["message"] = msg[1]
        closed = g.obj(sid, SH + "closed")
        if closed and closed[1] == "true":
            spec["closed"] = True
        ign = g.obj(sid, SH + "ignoredProperties")
        if ign:
            spec["extra"] = [t[1] for t in g.rdf_list(ign)]

        for pred, comp in _VALUE_COMPONENTS.items():
            for o in g.objs(sid, pred):
                spec["nodeConstraints"].append(self._value_expr(comp, o))
        # pair components at node level: value nodes = {focus} (self path)
        for pred, key in ((SH + "equals", "equals"),
                          (SH + "disjoint", "disjoint"),
                          (SH + "lessThan", "lessThan"),
                          (SH + "lessThanOrEquals", "lessThanOrEquals")):
            for o in g.objs(sid, pred):
                spec["constraints"].append(
                    {"path": {"kind": "self"}, key: o[1]})
        for o in g.objs(sid, SH + "property"):
            spec["constraints"].append(self._property_spec(o))
        # pattern flags ride alongside sh:pattern
        self._apply_flags(sid, spec["nodeConstraints"])
        if not spec["nodeConstraints"]:
            del spec["nodeConstraints"]
        return sid

    def _apply_flags(self, sid: str, exprs: list[dict]):
        flags = self.g.obj(sid, SH + "flags")
        if flags:
            for e in exprs:
                if e.get("kind") == "pattern":
                    e["flags"] = flags[1]

    # ---------------------------------------------------------------
    def _value_expr(self, comp: str, o) -> dict:
        g = self.g
        if comp == "datatype":
            return {"kind": "datatype", "iri": o[1]}
        if comp == "class":
            return {"kind": "class", "iri": o[1]}
        if comp == "nodeKind":
            return {"kind": "nodeKind", "value": o[1].removeprefix(SH)}
        if comp in ("minInclusive", "maxInclusive", "minExclusive",
                    "maxExclusive"):
            return {"kind": comp, "value": o[1], "dt": o[2]}
        if comp in ("minLength", "maxLength"):
            return {"kind": comp, "value": int(o[1])}
        if comp == "pattern":
            return {"kind": "pattern", "pattern": o[1]}
        if comp == "hasValue":
            return {"kind": "hasValue", "value": self._value_spec(o)}
        if comp == "in":
            return {"kind": "in",
                    "values": [self._value_spec(t) for t in g.rdf_list(o)]}
        if comp == "languageIn":
            return {"kind": "languageIn",
                    "langs": [t[1] for t in g.rdf_list(o)]}
        if comp == "node":
            return {"kind": "ref", "label": self._node_shape_spec(o[1])}
        if comp == "not":
            return {"kind": "not", "expr": self._operand_expr(o)}
        if comp in ("and", "or", "xone"):
            return {"kind": comp,
                    "exprs": [self._operand_expr(t) for t in g.rdf_list(o)]}
        raise ShaclReadError(f"unhandled component {comp}")

    @staticmethod
    def _value_spec(o) -> dict:
        kind, val, dt, lang = o
        if kind == "iri":
            return {"kind": "iri", "value": val}
        if kind == "bnode":
            return {"kind": "bnode", "value": val}
        out = {"kind": "literal", "value": val}
        if lang:
            out["lang"] = lang
        elif dt and dt != XSD_STRING:
            out["dt"] = dt
        return out

    def _operand_expr(self, o) -> dict:
        """A combinator operand: either an inline constraint-only blank
        shape (folded to an expression) or a full shape (hoisted +
        referenced)."""
        sid = o[1]
        preds = self.g.po.get(sid, {})
        has_props = bool(preds.get(SH + "property")) or \
            bool(preds.get(SH + "path"))
        if has_props:
            if preds.get(SH + "path"):
                # property-shape operand: hoist to anon node shape
                # wrapping the property constraint
                self._anon += 1
                label = f"_:anon_ps{self._anon}"
                self.specs[label] = {"label": label, "targets": [],
                                     "constraints": [self._property_spec(o)]}
                return {"kind": "ref", "label": label}
            return {"kind": "ref", "label": self._node_shape_spec(sid)}
        exprs = []
        for pred, comp in _VALUE_COMPONENTS.items():
            for obj in preds.get(pred, []):
                exprs.append(self._value_expr(comp, obj))
        self._apply_flags(sid, exprs)
        if not exprs:
            return {"kind": "true"}
        if len(exprs) == 1:
            return exprs[0]
        return {"kind": "allOf", "exprs": exprs}

    # ---------------------------------------------------------------
    def _path_spec(self, o):
        g = self.g
        if o[0] == "iri" and o[1] not in g.po:
            return o[1]  # plain predicate IRI
        sid = o[1]
        preds = g.po.get(sid, {})
        if not preds:
            return o[1]
        if preds.get(RDF_FIRST):
            # list structure FIRST: a malformed path node carrying BOTH
            # rdf:first/rest and sh:inversePath reads as the sequence
            # (W3C path-strange-001/002 expect the list interpretation)
            items = g.rdf_list(g.subj_term.get(sid, ("bnode", sid, None, None)))
            return {"kind": "sequence",
                    "steps": [self._path_spec(t) for t in items]}
        if preds.get(SH + "inversePath"):
            inner = self._path_spec(g.obj(sid, SH + "inversePath"))
            if isinstance(inner, str):
                return {"kind": "inverse", "iri": inner}
            return {"kind": "inverse", "step": inner}
        if preds.get(SH + "alternativePath"):
            items = g.rdf_list(g.obj(sid, SH + "alternativePath"))
            return {"kind": "alternative",
                    "steps": [self._path_spec(t) for t in items]}
        for comp, kind in ((SH + "zeroOrMorePath", "zeroOrMore"),
                           (SH + "oneOrMorePath", "oneOrMore"),
                           (SH + "zeroOrOnePath", "zeroOrOne")):
            if preds.get(comp):
                return {"kind": kind, "step": self._path_spec(g.obj(sid, comp))}
        if preds.get(RDF_FIRST):  # sequence = rdf list
            items = g.rdf_list(g.subj_term.get(sid, ("bnode", sid, None, None)))
            return {"kind": "sequence",
                    "steps": [self._path_spec(t) for t in items]}
        return o[1]

    def _property_spec(self, o) -> dict:
        g = self.g
        sid = o[1]
        path = self._path_spec(g.obj(sid, SH + "path"))
        spec: dict = {"path": path}
        mn = g.obj(sid, SH + "minCount")
        mx = g.obj(sid, SH + "maxCount")
        if mn:
            spec["minCount"] = int(mn[1])
        if mx:
            spec["maxCount"] = int(mx[1])
        exprs = []
        for pred, comp in _VALUE_COMPONENTS.items():
            for obj in g.objs(sid, pred):
                exprs.append(self._value_expr(comp, obj))
        self._apply_flags(sid, exprs)
        qvs = g.obj(sid, SH + "qualifiedValueShape")
        if qvs:
            spec["qualified"] = True
            exprs.append(self._operand_expr(qvs))
            qmin = g.obj(sid, SH + "qualifiedMinCount")
            qmax = g.obj(sid, SH + "qualifiedMaxCount")
            if qmin:
                spec["minCount"] = int(qmin[1])
            if qmax:
                spec["maxCount"] = int(qmax[1])
            qd = g.obj(sid, SH + "qualifiedValueShapesDisjoint")
            if qd and qd[1] == "true":
                # sibling exclusion (ShEx2Shacl.scala:374-405): a value
                # counts for this qualified shape only if it does NOT
                # also conform to a sibling qualified value shape
                spec["qualifiedDisjoint"] = True
        if exprs:
            spec["node"] = exprs[0] if len(exprs) == 1 else \
                {"kind": "allOf", "exprs": exprs}
        if g.obj(sid, SH + "uniqueLang") and g.obj(sid, SH + "uniqueLang")[1] == "true":
            spec["uniqueLang"] = True
        for pred, key in ((SH + "equals", "equals"),
                          (SH + "disjoint", "disjoint"),
                          (SH + "lessThan", "lessThan"),
                          (SH + "lessThanOrEquals", "lessThanOrEquals")):
            v = g.obj(sid, pred)
            if v:
                spec[key] = v[1]
        sev = g.obj(sid, SH + "severity")
        if sev:
            spec["severity"] = sev[1].removeprefix(SH)
        msg = g.obj(sid, SH + "message")
        if msg:
            spec["message"] = msg[1]
        # nested sh:property inside a property shape: hoist node shape
        # over the values
        nested = g.objs(sid, SH + "property")
        if nested:
            self._anon += 1
            label = f"_:anon_ns{self._anon}"
            self.specs[label] = {
                "label": label, "targets": [], "transparent": True,
                "constraints": [self._property_spec(n) for n in nested]}
            ref = {"kind": "ref", "label": label}
            if "node" in spec:
                spec["node"] = {"kind": "allOf", "exprs": [spec["node"], ref]}
            else:
                spec["node"] = ref
        return spec


def schema_from_turtle(text: str) -> SchemaDict:
    from .sources.turtle import parse_turtle

    triples, _ = parse_turtle(text)
    return ShaclReader(triples).read()


class ShaclFormatError(ShaclReadError):
    """Unsupported shapes-graph serialization (named, so a user
    bringing JSON-LD/TriG gets a format error, not a parse failure)."""


#: accepted spellings → canonical format key
_FORMATS = {
    "turtle": "turtle", "ttl": "turtle",
    "ntriples": "turtle", "nt": "turtle",  # N-Triples ⊂ Turtle
    "rdfxml": "rdfxml", "xml": "rdfxml", "rdf": "rdfxml",
}


def schema_from_rdf(text: str, fmt: str = "turtle") -> SchemaDict:
    """Shapes graph in the named RDF serialization → SchemaDict.

    Parity: the reference accepts any Jena-supported format
    (DataFormats.scala:8-20). Here: Turtle / N-Triples / RDF/XML are
    parsed driver-side (shapes graphs are broadcast-dimension sized);
    everything else (JSON-LD, TriG, N3, …) raises ShaclFormatError by
    NAME instead of failing mid-parse."""
    key = _FORMATS.get(re.sub(r"[\s/_-]", "", fmt.strip().lower()))
    if key == "turtle":
        return schema_from_turtle(text)
    if key == "rdfxml":
        from .sources.rdfxml import parse_rdfxml

        return ShaclReader(parse_rdfxml(text)).read()
    raise ShaclFormatError(
        f"unsupported shapes-graph format {fmt!r}: supported are "
        "TURTLE, N-TRIPLES, RDF/XML")
