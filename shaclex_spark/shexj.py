"""ShExJ (JSON AST) schema reader → SchemaDict.

The reference accepts ShExC and ShExJ interchangeably
(/root/reference/modules/schema/src/main/scala/es/weso/schema/
ShExSchema.scala:29-41); the vendored suite ships a .json AST next to
almost every .shex schema
(/root/reference/src/test/resources/shexTest/schemas/*.json), and the
JSON form sidesteps ShExC tokenizer edge cases entirely.

Spec-faithful fragment mapping (shexc2j.parse_shexc adds the SLang
reading: every Shape closed over its mentioned predicates):

- Shape { expression } is OPEN over unmentioned predicates (the ShEx
  spec's neighbourhood-partition semantics only constrains arcs whose
  predicate is mentioned); ``"closed": true`` adds the residue check.
- TripleConstraint → PropertyConstraint(exclusive=True): conforming
  count within [min,max] AND zero non-conforming arcs on that
  predicate (ShEx2SLang.scala:103-113). A predicate listed in EXTRA
  relaxes to qualified=True (non-conforming arcs allowed).
- EachOf → constraint list (nested EachOfs flatten); OneOf → the
  shape's one_of groups; a TC valueExpr that is itself a Shape /
  logical combination of Shapes becomes a synthetic referenced shape.

Out-of-fragment constructs raise :class:`UnsupportedShExJ` with the
feature name so the suite runner can classify skips honestly:
imports, external shapes, semantic actions with code, group
(EachOf/OneOf) cardinalities, and repeated predicates inside one
expression (which require the spec's partition-matching semantics).
"""

from __future__ import annotations

import json
import os
from typing import Any

from .model import XSD
from .shapes import SchemaDict

_KIND_MAP = {"iri": "IRI", "bnode": "BlankNode", "literal": "Literal",
             "nonliteral": "BlankNodeOrIRI"}

_FACET_KEYS = {"length", "minlength", "maxlength", "pattern", "flags",
               "mininclusive", "maxinclusive", "minexclusive",
               "maxexclusive", "totaldigits", "fractiondigits"}


class UnsupportedShExJ(ValueError):
    def __init__(self, feature: str):
        super().__init__(feature)
        self.feature = feature


def _merge_imports(j: dict, base_dir: str | None,
                   seen: set[str]) -> list[dict]:
    """Schema imports (ShEx spec / ResolvedSchema.resolve in the
    reference's ShExWrapper.scala:35-53): merge the shape declarations
    of every imported schema document. Import names resolve to
    sibling .json files; circular imports terminate via the seen-set."""
    shapes: list[dict] = []
    for imp in j.get("imports", []) or []:
        if base_dir is None:
            raise UnsupportedShExJ("imports")
        name = imp.split("/")[-1]
        if name in seen:
            continue
        seen.add(name)
        jpath = os.path.join(base_dir, name + ".json")
        cpath = os.path.join(base_dir, name + ".shex")
        if os.path.exists(jpath):
            with open(jpath, encoding="utf-8") as fh:
                sub = json.load(fh)
        elif os.path.exists(cpath):  # bare-ShExC schema directory
            from .shexc2j import shexc_to_shexj
            with open(cpath, encoding="utf-8") as fh:
                sub = shexc_to_shexj(fh.read())
        else:
            raise UnsupportedShExJ("imports")
        shapes.extend(_merge_imports(sub, base_dir, seen))
    shapes.extend(j.get("shapes", []))
    return shapes


def _resolve_extends(all_shapes: list[dict]) -> list[dict]:
    """ShEx 2.1 EXTENDS (reference fixture
    shexLocal/inheritance/simple1.shex: `:A extends :B { … }`): a node
    conforms to the extending shape iff its neighbourhood satisfies the
    parents' triple expressions AND its own — triple expressions
    combine as EachOf (each arc set partitioned between parent and
    child), non-Shape parents (node constraints, ANDs…) conjoin as
    plain shapeExprs. Rewrites every Shape carrying an "extends" key
    into the merged form; cycles are a structure error.

    ABSTRACT (ShEx 2.1): an abstract shape is not directly
    satisfiable by its own body — a node conforms to it iff it
    conforms to some shape that EXTENDS it (virtual dispatch). The
    abstract declaration's body still merges into its extenders (via
    parent_parts below); its OWN standalone declaration is rewritten
    to ShapeOr(extender refs) — or an unsatisfiable expression when
    nothing extends it — so both direct focus and references get the
    dispatch semantics."""
    by_id = {s["id"]: s for s in all_shapes if "id" in s}
    extenders: dict[str, list[str]] = {}
    for s in all_shapes:
        if isinstance(s, dict) and "id" in s:
            for p in s.get("extends") or []:
                extenders.setdefault(p, []).append(s["id"])

    def parent_parts(label: str, stack: tuple) -> tuple[list, list, list]:
        """(each_of_exprs, extra, conjuncts) contributed by parent."""
        if label in stack:
            raise ValueError(f"extends cycle through {label}")
        decl = by_id.get(label)
        if decl is None:
            raise UnsupportedShExJ("extends-unknown-parent")
        body = {k: v for k, v in decl.items() if k not in ("id", "abstract")}
        if body.get("type") == "Shape":
            exprs, extra = [], list(body.get("extra", []) or [])
            for p in body.get("extends", []) or []:
                pe, px, pc = parent_parts(p, stack + (label,))
                exprs.extend(pe)
                extra.extend(px)
                if pc:
                    raise UnsupportedShExJ("extends-non-shape-grandparent")
            if "expression" in body:
                # rewrite: the parent body may itself nest extends
                exprs.append(rewrite(body["expression"]))
            return exprs, extra, []
        # NodeConstraint / ShapeAnd / … parent: conjoin by reference
        return [], [], [label]

    def rewrite(o: Any) -> Any:
        if isinstance(o, list):
            return [rewrite(x) for x in o]
        if not isinstance(o, dict):
            return o
        o = {k: rewrite(v) for k, v in o.items()}
        if o.get("type") == "Shape" and o.get("extends"):
            exprs: list = []
            extra = list(o.get("extra", []) or [])
            conjuncts: list = []
            for p in o["extends"]:
                pe, px, pc = parent_parts(p, (o.get("id"),))
                exprs.extend(pe)
                extra.extend(px)
                conjuncts.extend(pc)
            if "expression" in o:
                exprs.append(o["expression"])
            merged = {k: v for k, v in o.items()
                      if k not in ("extends", "expression", "extra", "id")}
            if len(exprs) == 1:
                merged["expression"] = exprs[0]
            elif exprs:
                merged["expression"] = {"type": "EachOf",
                                        "expressions": exprs}
            if extra:
                merged["extra"] = sorted(set(extra))
            if conjuncts:
                merged = {"type": "ShapeAnd",
                          "shapeExprs": list(conjuncts) + [merged]}
            if "id" in o:
                merged = {"id": o["id"], **merged}
            return merged
        return o

    out: list[dict] = []
    for s in all_shapes:
        if isinstance(s, dict) and s.get("abstract") and "id" in s:
            kids = extenders.get(s["id"], [])
            if kids:
                body: dict = {"type": "ShapeOr", "shapeExprs": list(kids)}
            else:
                # no extender exists: nothing can conform ({} matches
                # every node, so NOT {} matches none)
                body = {"type": "ShapeNot", "shapeExpr": {"type": "Shape"}}
            out.append({"id": s["id"], **body})
        else:
            out.append(rewrite(s))
    return out


def _index_triple_exprs(shapes: list[dict]) -> dict[str, dict]:
    """id → tripleExpr for resolving tripleExprRefs (ShEx inclusion
    `&<label>`: a string in expression position)."""
    index: dict[str, dict] = {}

    def walk(o: Any) -> None:
        if isinstance(o, dict):
            if (o.get("type") in ("TripleConstraint", "EachOf", "OneOf")
                    and "id" in o):
                index[o["id"]] = o
            for v in o.values():
                walk(v)
        elif isinstance(o, list):
            for x in o:
                walk(x)

    for sh in shapes:
        walk(sh)
    return index


class _Conv:
    def __init__(self) -> None:
        self.specs: dict[str, dict] = {}
        self.labels_declared: set[str] = set()
        self.te_index: dict[str, dict] = {}
        self._te_stack: set[str] = set()
        self._n = 0

    def _fresh(self) -> str:
        self._n += 1
        return f"_synth:{self._n}"

    # ---------------------------------------------------------- schema

    def convert(self, j: dict, base_dir: str | None = None
                ) -> tuple[list[dict], str | None]:
        if j.get("startActs"):
            for act in j["startActs"]:
                if act.get("code") is not None:
                    raise UnsupportedShExJ("startActs")
        all_shapes = _merge_imports(j, base_dir, set())
        all_shapes = _resolve_extends(all_shapes)
        self.te_index = _index_triple_exprs(all_shapes)
        for sh in all_shapes:
            self.labels_declared.add(sh["id"])
        start_label = None
        for sh in all_shapes:
            decl = dict(sh)
            label = decl.pop("id")
            if label in self.specs:
                continue  # first declaration wins across imports
            self.shape_decl(decl, label)
        start = j.get("start")
        if start is not None:
            if isinstance(start, str):
                start_label = start
            else:
                start_label = self._fresh()
                self.shape_decl(start, start_label)
        return list(self.specs.values()), start_label

    # ----------------------------------------------------- shape exprs

    def shape_decl(self, expr: Any, label: str) -> str:
        """Register shapeExpr ``expr`` as a shape named ``label``."""
        spec: dict = {"label": label, "constraints": [], "closed": False,
                      "extra": []}
        self.specs[label] = spec
        self._fill(spec, expr)
        return label

    def _fill(self, spec: dict, expr: Any) -> None:
        t = expr.get("type") if isinstance(expr, dict) else None
        if isinstance(expr, str):
            self._ensure_ref(expr)
            spec.setdefault("nodeConstraints", []).append(
                {"kind": "ref", "label": expr})
            return
        if t == "NodeConstraint":
            spec.setdefault("nodeConstraints", []).append(
                self.node_constraint(expr))
            return
        if t == "Shape":
            self._fill_shape(spec, expr)
            return
        if t == "ShapeAnd":
            shape_members = [m for m in expr["shapeExprs"]
                             if isinstance(m, dict) and m.get("type") == "Shape"]
            others = [m for m in expr["shapeExprs"]
                      if not (isinstance(m, dict) and m.get("type") == "Shape")]
            # first Shape member merges into this spec; additional Shape
            # members become synthetic shapes conjoined by ref — ShEx
            # ShapeAnd matches each shape expression INDEPENDENTLY
            # against the neighborhood, so conjunction of memberships is
            # the exact semantics (suite 1dotShapeAND1dot3X).
            for m in shape_members[:1]:
                self._fill_shape(spec, m)
            for m in shape_members[1:]:
                label = self._fresh()
                self.shape_decl(m, label)
                spec.setdefault("nodeConstraints", []).append(
                    {"kind": "ref", "label": label})
            for m in others:
                spec.setdefault("nodeConstraints", []).append(
                    self.node_expr(m))
            return
        if t == "ShapeOr":
            spec.setdefault("nodeConstraints", []).append({
                "kind": "or",
                "exprs": [self.node_expr(m) for m in expr["shapeExprs"]],
            })
            return
        if t == "ShapeNot":
            spec.setdefault("nodeConstraints", []).append(
                {"kind": "not", "expr": self.node_expr(expr["shapeExpr"])})
            return
        if t == "ShapeExternal":
            raise UnsupportedShExJ("ShapeExternal")
        raise UnsupportedShExJ(f"shapeExpr-{t}")

    def _fill_shape(self, spec: dict, sh: dict) -> None:
        if spec.get("_has_triple_expr"):
            raise UnsupportedShExJ("multiple-triple-exprs")
        spec["_has_triple_expr"] = True
        for act in sh.get("semActs", []) or []:
            if act.get("code") is not None:
                raise UnsupportedShExJ("semActs")
        spec["closed"] = bool(sh.get("closed", False))
        extra = list(sh.get("extra", []) or [])
        spec["extra"] = extra
        constraints: list[dict] = []
        one_of: list[list[dict]] = []
        expr = sh.get("expression")
        if expr is not None:
            self._triple_expr(expr, constraints, one_of, extra)
        blocks = [c for c in constraints if c.pop("__group_block__", False)]
        block_ids = {id(b) for b in blocks}
        spec["constraints"] = [c for c in constraints
                               if id(c) not in block_ids]
        if blocks:
            spec["groupBlocks"] = blocks
        if one_of:
            spec["oneOf"] = one_of
        self._check_repeats(spec)

    MAX_REPEAT_TCS = 6  # Gale-Hoffman subset conditions are 2^k per pred

    def _check_repeats(self, spec: dict) -> None:
        """Repeated predicates inside one expression need the spec's
        partition-matching (each arc consumed by exactly one TC slot).
        For the declarative (exhaustive) fragment — simple forward
        predicates, no EXTRA on the repeated predicate — this compiles
        to a ``repeatAlts`` block (shapes.RepeatAlts): one TC list per
        OneOf alternative, decided per focus by transportation
        feasibility (validation._partition_check). Repeats involving
        group-cardinality blocks, inverse paths or EXTRA'd predicates
        stay out of the fragment and raise."""

        def key(c: dict) -> tuple:
            p = c["path"]
            return (p["kind"], p["iri"]) if isinstance(p, dict) \
                else ("pred", p)

        base = spec.get("constraints", [])
        one_of = spec.get("oneOf", [])
        block_keys = [key(m) for blk in spec.get("groupBlocks", [])
                      for m in blk["members"]]
        base_keys = [key(c) for c in base]
        oneof_keys = [[key(c) for c in g] for g in one_of]
        all_oneof = {k for gk in oneof_keys for k in gk}
        # group-cardinality blocks never join a partition group
        if (len(block_keys) != len(set(block_keys))
                or set(block_keys) & (set(base_keys) | all_oneof)):
            raise UnsupportedShExJ("repeated-predicate")
        need_partition = (
            len(set(base_keys)) != len(base_keys)
            or any(set(gk) & set(base_keys) for gk in oneof_keys)
            or any(len(set(gk)) != len(gk) for gk in oneof_keys))
        if not need_partition:
            return

        def simple(c: dict) -> bool:
            return isinstance(c["path"], str) and not c.get("qualified")

        base_simple = [c for c in base if simple(c)]
        base_rest = [c for c in base if not simple(c)]
        # a repeat through an inverse/EXTRA'd TC is outside the fragment
        rest_keys = [key(c) for c in base_rest]
        if (len(set(rest_keys)) != len(rest_keys)
                or set(rest_keys) & (set(k for c in base_simple
                                          for k in [key(c)]) | all_oneof)):
            raise UnsupportedShExJ("repeated-predicate")
        if any(not simple(c) for g in one_of for c in g):
            raise UnsupportedShExJ("repeated-predicate")

        alts = [base_simple + g for g in one_of] or [base_simple]
        mentioned: list[str] = []
        for alt in alts:
            per_pred: dict[str, int] = {}
            for c in alt:
                per_pred[c["path"]] = per_pred.get(c["path"], 0) + 1
                if c["path"] not in mentioned:
                    mentioned.append(c["path"])
            if any(n > self.MAX_REPEAT_TCS for n in per_pred.values()):
                raise UnsupportedShExJ("repeated-predicate")
        spec["repeatAlts"] = {"mentioned": mentioned, "alts": alts}
        spec["constraints"] = base_rest
        spec.pop("oneOf", None)

    # ----------------------------------------------------- triple exprs

    def _triple_expr(self, expr: Any, constraints: list[dict],
                     one_of: list[list[dict]], extra: list[str]) -> None:
        if isinstance(expr, str):  # tripleExprRef (ShEx inclusion &<l>)
            if expr not in self.te_index:
                raise UnsupportedShExJ("tripleExprRef")
            if expr in self._te_stack:
                raise UnsupportedShExJ("tripleExprRef-cycle")
            self._te_stack.add(expr)
            try:
                self._triple_expr(self.te_index[expr], constraints,
                                  one_of, extra)
            finally:
                self._te_stack.discard(expr)
            return
        t = expr.get("type")
        if t == "TripleConstraint":
            constraints.append(self.triple_constraint(expr, extra))
            return
        if t in ("EachOf", "OneOf") and (expr.get("min") is not None
                                         or expr.get("max") is not None):
            # group cardinality ( TC... ){m,n}: supported when every
            # member is a simple {1,1} TC (shapes.GroupBlock semantics)
            self._group_block(expr, constraints, extra)
            return
        if t == "EachOf":
            for sub in expr["expressions"]:
                self._triple_expr(sub, constraints, one_of, extra)
            return
        if t == "OneOf":
            if one_of:
                raise UnsupportedShExJ("multiple-oneofs")
            for alt in expr["expressions"]:
                alt_cs: list[dict] = []
                alt_groups: list[list[dict]] = []
                self._triple_expr(alt, alt_cs, alt_groups, extra)
                if alt_groups:
                    raise UnsupportedShExJ("nested-oneof")
                one_of.append(alt_cs)
            return
        raise UnsupportedShExJ(f"tripleExpr-{t}")

    def _group_block(self, expr: dict, constraints: list[dict],
                     extra: list[str]) -> None:
        members: list[dict] = []
        for sub in expr["expressions"]:
            if isinstance(sub, str):
                sub = self.te_index.get(sub)
                if sub is None:
                    raise UnsupportedShExJ("tripleExprRef")
            if not (isinstance(sub, dict)
                    and sub.get("type") == "TripleConstraint"):
                raise UnsupportedShExJ("group-cardinality")
            tc = self.triple_constraint(sub, extra)
            if (not isinstance(tc["path"], str) or tc["minCount"] != 1
                    or tc["maxCount"] != 1):
                raise UnsupportedShExJ("group-cardinality")
            members.append(tc)
        mn = expr.get("min", 1)
        mx = expr.get("max", 1)
        constraints.append({
            "__group_block__": True,
            "kind": "eachOf" if expr["type"] == "EachOf" else "oneOf",
            "minCount": mn,
            "maxCount": None if mx == -1 else mx,
            "members": members,
        })

    def triple_constraint(self, tc: dict, extra: list[str]) -> dict:
        for act in tc.get("semActs", []) or []:
            if act.get("code") is not None:
                raise UnsupportedShExJ("semActs")
        pred = tc["predicate"]
        mn = tc.get("min", 1)
        mx = tc.get("max", 1)
        out: dict = {
            "path": ({"kind": "inverse", "iri": pred}
                     if tc.get("inverse") else pred),
            "minCount": mn,
            "maxCount": None if mx == -1 else mx,
            "node": self.node_expr(tc.get("valueExpr")),
        }
        if not tc.get("inverse") and pred in extra:
            out["qualified"] = True  # EXTRA: surplus non-matching arcs OK
        else:
            out["exclusive"] = True  # two-count TC semantics
        return out

    # ------------------------------------------------------- node exprs

    def _ensure_ref(self, label: str) -> None:
        if label not in self.labels_declared and label not in self.specs:
            raise UnsupportedShExJ("dangling-ref")

    def node_expr(self, expr: Any) -> dict:
        """shapeExpr in VALUE position → NodeExpr JSON spec."""
        if expr is None:
            return {"kind": "true"}
        if isinstance(expr, str):
            self._ensure_ref(expr)
            return {"kind": "ref", "label": expr}
        t = expr.get("type")
        if t == "NodeConstraint":
            return self.node_constraint(expr)
        if t == "Shape":
            label = self._fresh()
            self.shape_decl(expr, label)
            return {"kind": "ref", "label": label}
        if t == "ShapeAnd":
            return {"kind": "and",
                    "exprs": [self.node_expr(m) for m in expr["shapeExprs"]]}
        if t == "ShapeOr":
            return {"kind": "or",
                    "exprs": [self.node_expr(m) for m in expr["shapeExprs"]]}
        if t == "ShapeNot":
            return {"kind": "not", "expr": self.node_expr(expr["shapeExpr"])}
        raise UnsupportedShExJ(f"valueExpr-{t}")

    def node_constraint(self, nc: dict) -> dict:
        conjs: list[dict] = []
        if "nodeKind" in nc:
            conjs.append({"kind": "nodeKind", "value": _KIND_MAP[nc["nodeKind"]]})
        if "datatype" in nc:
            conjs.append({"kind": "datatype", "iri": nc["datatype"]})
        if "values" in nc:
            conjs.append(self.value_set(nc["values"]))
        if "pattern" in nc:
            conjs.append({"kind": "pattern", "pattern": nc["pattern"],
                          "flags": nc.get("flags"), "shex": True})
        if "length" in nc:
            conjs.append({"kind": "minLength", "value": nc["length"],
                          "shex": True})
            conjs.append({"kind": "maxLength", "value": nc["length"],
                          "shex": True})
        if "minlength" in nc:
            conjs.append({"kind": "minLength", "value": nc["minlength"],
                          "shex": True})
        if "maxlength" in nc:
            conjs.append({"kind": "maxLength", "value": nc["maxlength"],
                          "shex": True})
        for key, kind in (("mininclusive", "minInclusive"),
                          ("maxinclusive", "maxInclusive"),
                          ("minexclusive", "minExclusive"),
                          ("maxexclusive", "maxExclusive")):
            if key in nc:
                conjs.append({"kind": kind, "value": _num_str(nc[key])})
        if "totaldigits" in nc:
            conjs.append({"kind": "totalDigits", "value": nc["totaldigits"]})
        if "fractiondigits" in nc:
            conjs.append({"kind": "fractionDigits",
                          "value": nc["fractiondigits"]})
        if not conjs:
            return {"kind": "true"}
        if len(conjs) == 1:
            return conjs[0]
        return {"kind": "and", "exprs": conjs}

    def value_set(self, values: list) -> dict:
        """valueSetValue list → disjunction. Simple members fold into
        one 'in'; stem ranges compile to stem-minus-exclusions exprs."""
        plain: list[dict] = []
        complex_exprs: list[dict] = []
        for v in values:
            if isinstance(v, str):
                plain.append({"kind": "iri", "value": v})
                continue
            t = v.get("type")
            if t is None:  # objectValue literal
                m: dict = {"kind": "literal", "value": str(v["value"])}
                if v.get("language"):
                    m["lang"] = v["language"]
                plain.append(m)
            elif t == "Language":
                plain.append({"kind": "language",
                              "value": v["languageTag"]})
            elif t == "IriStem":
                plain.append({"kind": "iriStem", "value": v["stem"]})
            elif t == "LiteralStem":
                plain.append({"kind": "literalStem", "value": v["stem"]})
            elif t == "LanguageStem":
                plain.append({"kind": "languageStem", "value": v["stem"]})
            elif t in ("IriStemRange", "LiteralStemRange",
                       "LanguageStemRange"):
                complex_exprs.append(self._stem_range(t, v))
            else:
                # typed objectValue: {"value": ..., "type": dt-iri}
                plain.append({"kind": "literal", "value": str(v["value"]),
                              "dt": t})
        exprs: list[dict] = []
        if plain:
            exprs.append({"kind": "in", "values": plain})
        exprs.extend(complex_exprs)
        if len(exprs) == 1:
            return exprs[0]
        return {"kind": "or", "exprs": exprs}

    def _stem_range(self, t: str, v: dict) -> dict:
        stem = v["stem"]
        kind_for = {"IriStemRange": ("iriStem", "IRI"),
                    "LiteralStemRange": ("literalStem", "Literal"),
                    "LanguageStemRange": ("languageStem", None)}
        stem_kind, wildcard_nk = kind_for[t]
        if isinstance(stem, dict):  # Wildcard
            if t == "LanguageStemRange":
                # any language-tagged literal
                base: dict = {"kind": "languageStem", "value": ""}
            else:
                base = {"kind": "nodeKind", "value": wildcard_nk}
        else:
            base = {"kind": "in",
                    "values": [{"kind": stem_kind, "value": stem}]}
        excl_members: list[dict] = []
        for ex in v.get("exclusions", []) or []:
            if isinstance(ex, str):
                if t == "LanguageStemRange":
                    excl_members.append({"kind": "language", "value": ex})
                elif t == "LiteralStemRange":
                    excl_members.append({"kind": "literal", "value": ex})
                else:
                    excl_members.append({"kind": "iri", "value": ex})
            else:
                ext = ex.get("type", "")
                sk = {"IriStem": "iriStem", "LiteralStem": "literalStem",
                      "LanguageStem": "languageStem"}.get(ext)
                if sk is None:
                    raise UnsupportedShExJ(f"exclusion-{ext}")
                excl_members.append({"kind": sk, "value": ex["stem"]})
        if not excl_members:
            return base
        return {"kind": "and", "exprs": [
            base,
            {"kind": "not", "expr": {"kind": "in", "values": excl_members}},
        ]}


def _num_str(x: Any) -> str:
    """JSON number → lexical string without float artifacts."""
    if isinstance(x, bool):
        return str(x).lower()
    if isinstance(x, int):
        return str(x)
    if isinstance(x, float) and x == int(x) and abs(x) < 1e15:
        return str(int(x))
    return repr(x)


def parse_shexj(text_or_obj: str | dict,
                base_dir: str | None = None) -> tuple[SchemaDict, str | None]:
    """ShExJ document → (SchemaDict, start shape label or None).
    ``base_dir`` enables resolving `imports` to sibling .json files."""
    j = json.loads(text_or_obj) if isinstance(text_or_obj, str) else text_or_obj
    conv = _Conv()
    specs, start = conv.convert(j, base_dir)
    for s in specs:
        s.pop("_has_triple_expr", None)
    return SchemaDict.from_json(specs), start
