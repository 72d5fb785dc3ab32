"""Shape/schema dictionary: the broadcastable, driver-side shape model.

This is the flat-fragment shape algebra from SURVEY.md §2.3–2.5 —
the union of SLang's 8 operators
(/root/reference/modules/slang/src/main/scala/es/weso/slang/SLang.scala:6-54)
and the SHACL-core constraint components exercised by the vendored W3C
corpus (/root/reference/src/test/resources/shacl/tests/core/).

Shapes are plain dataclasses parsed from the JSON format in FIXTURES.md §3.
They are tiny (KBs) and are compiled on the driver into DataFrame
expressions; nothing here touches Spark.

Stratification mirrors the reference's well-formedness rules: schemas
with negated reference cycles are rejected up front
(/root/reference/modules/schema/src/main/scala/es/weso/schema/ShExSchema.scala:231-242);
positive cycles are evaluated co-inductively (Unknown counts as
conforming — /root/reference/modules/slang/src/main/scala/es/weso/slang/
ShapesMap.scala:19-23) via a greatest-fixpoint loop in validation.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

# ------------------------------------------------------------------ paths

PATH_KINDS = {"pred", "inverse", "sequence", "alternative",
              "zeroOrMore", "oneOrMore", "zeroOrOne", "self"}


@dataclass(frozen=True)
class Path:
    """SHACL property-path algebra (SURVEY.md §2.5 path row).

    kind='pred'/'inverse' carry ``iri``; the rest carry ``steps``
    (sub-paths). Reference: PropPath Pred/Inv/Sequ/Alt/ZeroOrMore
    (/root/reference/modules/slang/src/main/scala/es/weso/slang/PropPath.scala:16-50
    — Sequ/Alt/ZeroOrMore are declared but unimplemented there; we
    implement them per the W3C path test fixtures).
    """

    kind: str
    iri: Optional[str] = None
    steps: tuple["Path", ...] = ()

    def __post_init__(self) -> None:
        if self.kind not in PATH_KINDS:
            raise ValueError(f"unknown path kind: {self.kind}")

    @property
    def is_simple_pred(self) -> bool:
        return self.kind == "pred"

    def describe(self) -> str:
        if self.kind == "self":
            return "."
        if self.kind == "pred":
            return self.iri or ""
        if self.kind == "inverse":
            return f"^{self.iri or self.steps[0].describe()}"
        inner = "/".join(s.describe() for s in self.steps)
        marks = {"sequence": inner, "alternative": "|".join(s.describe() for s in self.steps),
                 "zeroOrMore": f"({inner})*", "oneOrMore": f"({inner})+",
                 "zeroOrOne": f"({inner})?"}
        return marks[self.kind]


def parse_path(spec: Any) -> Path:
    """Parse a path from JSON: a bare string is a predicate IRI."""
    if isinstance(spec, str):
        return Path("pred", iri=spec)
    kind = spec["kind"]
    if kind == "self":
        return Path("self")
    if kind == "pred":
        return Path("pred", iri=spec["iri"])
    if kind == "inverse":
        if "iri" in spec:
            return Path("inverse", iri=spec["iri"])
        return Path("inverse", steps=(parse_path(spec["step"]),))
    steps = tuple(parse_path(s) for s in spec.get("steps", []))
    if not steps and "step" in spec:
        steps = (parse_path(spec["step"]),)
    return Path(kind, steps=steps)


# ------------------------------------------------------------- node exprs

# expression-only kinds: evaluable as a native Column over the value's
# (kind, value, dt, lang) columns — no joins needed.
EXPR_KINDS = {"true", "false", "datatype", "nodeKind", "in", "hasValue",
              "pattern", "minLength", "maxLength", "minInclusive",
              "maxInclusive", "minExclusive", "maxExclusive", "languageIn",
              # ShEx string/numeric facets beyond the SHACL-core set
              # (ShExJ NodeConstraint keys totaldigits/fractiondigits —
              # /root/reference/src/test/resources/shexTest/schemas/*.json)
              "totalDigits", "fractionDigits"}
# join-backed kinds: need class-membership / shape-conformance relations.
JOIN_KINDS = {"class", "ref"}
# combinators: "and"/"or"/"xone"/"not" are the SHACL logical
# components (report as their own constraint component, never
# flattened); "allOf" is the synthetic flattenable conjunction used
# when several independent constraints share one path (each conjunct
# reports under its own component).
COMBINATOR_KINDS = {"and", "or", "not", "xone", "allOf"}

NODE_EXPR_KINDS = EXPR_KINDS | JOIN_KINDS | COMBINATOR_KINDS


@dataclass(frozen=True)
class ValueSpec:
    """One member of an sh:in value list / sh:hasValue: an RDF term,
    or a stem (prefix) match — iriStem / languageStem, the ShEx stem
    forms surfaced by schema inference (InferredShape.scala:127-147)."""

    kind: str  # iri | bnode | literal | iriStem | literalStem
    #            | languageStem | language
    value: str
    dt: Optional[str] = None
    lang: Optional[str] = None


def parse_value(spec: Any) -> ValueSpec:
    if isinstance(spec, str):
        return ValueSpec("iri", spec)
    return ValueSpec(
        kind=spec.get("kind", "literal"),
        value=str(spec["value"]),
        dt=spec.get("dt"),
        lang=spec.get("lang"),
    )


@dataclass(frozen=True)
class NodeExpr:
    """Node-constraint expression tree (SLang + SHACL-core node components).

    kind ∈ NODE_EXPR_KINDS. Parameters used per kind:
      datatype/class: iri; nodeKind: enum name; ref: label;
      in: values; hasValue: values[0]; pattern: pattern/flags;
      min/maxLength: num; min/max(In|Ex)clusive: value+dt;
      languageIn: langs; and/or/xone: exprs; not: exprs[0].
    """

    kind: str
    iri: Optional[str] = None
    label: Optional[str] = None
    enum: Optional[str] = None
    pattern: Optional[str] = None
    flags: Optional[str] = None
    num: Optional[int] = None
    value: Optional[str] = None
    dt: Optional[str] = None
    langs: tuple[str, ...] = ()
    values: tuple[ValueSpec, ...] = ()
    exprs: tuple["NodeExpr", ...] = ()
    # ShEx string-facet semantics: pattern/length facets apply to the
    # bnode LABEL too (suite 1focusBNODELength_dot_pass), whereas SHACL
    # treats a bnode value as a violation of those components.
    shex: bool = False

    def __post_init__(self) -> None:
        if self.kind not in NODE_EXPR_KINDS:
            raise ValueError(f"unknown node-expr kind: {self.kind}")

    def refs(self, negated: bool = False) -> list[tuple[str, bool]]:
        """All shape labels referenced, with negation polarity."""
        out: list[tuple[str, bool]] = []
        if self.kind == "ref":
            out.append((self.label, negated))  # type: ignore[arg-type]
        elif self.kind == "not":
            out.extend(self.exprs[0].refs(not negated))
        elif self.kind == "xone":
            # xone members appear both positively and negatively
            for e in self.exprs:
                out.extend(e.refs(negated))
                out.extend(e.refs(not negated))
        else:
            for e in self.exprs:
                out.extend(e.refs(negated))
        return out

    def classes(self) -> set[str]:
        out: set[str] = set()
        if self.kind == "class":
            out.add(self.iri)  # type: ignore[arg-type]
        for e in self.exprs:
            out |= e.classes()
        return out


TRUE = NodeExpr("true")


def parse_node_expr(spec: Any) -> NodeExpr:
    if spec is None:
        return TRUE
    if isinstance(spec, str):  # bare string = shape ref label
        return NodeExpr("ref", label=spec)
    kind = spec["kind"]
    if kind in ("true", "false"):
        return NodeExpr(kind)
    if kind == "datatype":
        return NodeExpr(kind, iri=spec["iri"])
    if kind == "class":
        return NodeExpr(kind, iri=spec["iri"])
    if kind == "nodeKind":
        return NodeExpr(kind, enum=spec["value"])
    if kind == "ref":
        return NodeExpr(kind, label=spec["label"])
    if kind == "in":
        return NodeExpr(kind, values=tuple(parse_value(v) for v in spec["values"]))
    if kind == "hasValue":
        return NodeExpr(kind, values=(parse_value(spec["value"]),))
    if kind == "pattern":
        return NodeExpr(kind, pattern=spec["pattern"], flags=spec.get("flags"),
                        shex=bool(spec.get("shex", False)))
    if kind in ("minLength", "maxLength", "totalDigits", "fractionDigits"):
        return NodeExpr(kind, num=int(spec["value"]),
                        shex=bool(spec.get("shex", False)))
    if kind in ("minInclusive", "maxInclusive", "minExclusive", "maxExclusive"):
        return NodeExpr(kind, value=str(spec["value"]), dt=spec.get("dt"))
    if kind == "languageIn":
        return NodeExpr(kind, langs=tuple(spec["langs"]))
    if kind == "not":
        return NodeExpr(kind, exprs=(parse_node_expr(spec["expr"]),))
    if kind in ("and", "or", "xone", "allOf"):
        return NodeExpr(kind, exprs=tuple(parse_node_expr(e) for e in spec["exprs"]))
    raise ValueError(f"unknown node expr: {spec}")


# --------------------------------------------------------- property shape


@dataclass(frozen=True)
class PropertyConstraint:
    """One property shape: constraints over the values of ``path``.

    TripleConstraint two-count semantics (ShEx): with ``exclusive=True``
    and a value expr V, conformance requires
      count(values ⊨ V) ∈ [min_count, max_count]  AND  count(values ⊭ V) = 0
    (/root/reference/modules/slang/src/main/scala/es/weso/slang/ShEx2SLang.scala:103-113).
    With ``exclusive=False`` (SHACL default / ShEx EXTRA), every value
    must satisfy V (SHACL semantics) unless ``qualified=True``, where
    only the conforming-count bounds apply
    (qualifiedValueShape, /root/reference/modules/converter/src/main/scala/
    es/weso/shacl/converter/ShEx2Shacl.scala:374-405).
    """

    path: Path
    min_count: int = 0
    max_count: Optional[int] = None  # None = unbounded (Star)
    node: NodeExpr = TRUE
    qualified: bool = False          # count-conforming-only semantics
    # sibling exclusion: a value counts only if it does NOT conform to
    # any sibling qualified value shape of the same parent shape
    # (sh:qualifiedValueShapesDisjoint; ShEx2Shacl.scala:374-405)
    qualified_disjoint: bool = False
    exclusive: bool = False          # ShEx: additionally no non-conforming value
    unique_lang: bool = False
    equals: Optional[str] = None             # sibling predicate IRI
    disjoint: Optional[str] = None
    less_than: Optional[str] = None
    less_than_or_equals: Optional[str] = None
    severity: str = "Violation"
    message: Optional[str] = None

    def refs(self) -> list[tuple[str, bool]]:
        if self.qualified:
            # EXTRA'd (qualified) TC: the value expression is evaluated
            # under the negation EXTRA implies (arcs may notMatch and
            # be ignored), so its refs occur in BOTH polarities — a
            # cycle through one is not stratifiable (ShEx spec negated-
            # reference rule; negativeStructure: Cycle2Extra).
            return self.node.refs() + self.node.refs(True)
        return self.node.refs()

    def classes(self) -> set[str]:
        return self.node.classes()


def parse_property(spec: dict[str, Any]) -> PropertyConstraint:
    mc = spec.get("maxCount")
    return PropertyConstraint(
        path=parse_path(spec["path"]),
        min_count=int(spec.get("minCount", 0)),
        max_count=None if mc in (None, "*") else int(mc),
        node=parse_node_expr(spec.get("node")),
        qualified=bool(spec.get("qualified", False)),
        qualified_disjoint=bool(spec.get("qualifiedDisjoint", False)),
        exclusive=bool(spec.get("exclusive", False)),
        unique_lang=bool(spec.get("uniqueLang", False)),
        equals=spec.get("equals"),
        disjoint=spec.get("disjoint"),
        less_than=spec.get("lessThan"),
        less_than_or_equals=spec.get("lessThanOrEquals"),
        severity=spec.get("severity", "Violation"),
        message=spec.get("message"),
    )


# ----------------------------------------------------------------- shape


@dataclass(frozen=True)
class Target:
    """Validation target (SURVEY.md §2.2): kind ∈
    targetNode | targetClass | targetSubjectsOf | targetObjectsOf.

    For targetNode, the target may be any RDF term (the W3C corpus
    uses literal targets, e.g. `sh:targetNode 42`): term_kind/dt/lang
    carry the full identity."""

    kind: str
    value: str
    term_kind: str = "iri"
    dt: Optional[str] = None
    lang: Optional[str] = None


@dataclass(frozen=True)
class GroupBlock:
    """ShEx group cardinality `( TC... ){m,n}` over simple {1,1} TCs.

    kind='eachOf': the group repeats k times, each repetition consuming
    one arc per member ⇒ all members' matching-arc counts equal k.
    kind='oneOf': each repetition consumes one arc of ANY member ⇒ the
    SUM of matching-arc counts is k. Conformance: min ≤ k ≤ max, plus
    zero non-matching arcs on member predicates (two-count TC
    semantics). A `?` group with zero arcs (shexTest 'skipped') passes
    via min=0.
    """

    kind: str                                # eachOf | oneOf
    min_count: int
    max_count: Optional[int]                 # None = unbounded
    members: tuple[PropertyConstraint, ...]


def parse_group_block(spec: dict[str, Any]) -> GroupBlock:
    mx = spec.get("maxCount")
    members = tuple(parse_property(p) for p in spec["members"])
    for pc in members:
        if not pc.path.is_simple_pred or pc.min_count != 1 or pc.max_count != 1:
            raise SchemaError(
                "group blocks support simple {1,1} triple constraints only")
    return GroupBlock(
        kind=spec.get("kind", "eachOf"),
        min_count=int(spec.get("minCount", 1)),
        max_count=None if mx in (None, "*") else int(mx),
        members=members,
    )


@dataclass(frozen=True)
class RepeatAlts:
    """ShEx partition semantics for repeated predicates
    (spec §'triple expression matching': the focus neighbourhood's
    arcs over the mentioned predicates must be PARTITIONED among the
    triple constraints, each consuming a count within its bounds).

    ``alts`` holds one TC list per OneOf alternative (a single list
    when the expression has no OneOf): the shape matches iff SOME
    alternative admits a feasible partition. Feasibility per predicate
    is a transportation problem — arcs are supplies (grouped by which
    TCs their value satisfies), TCs are sinks with [min,max] bounds —
    decided by the Gale-Hoffman subset conditions (validation.py
    _partition_check), as conditional aggregates in the shape's one
    grouped pass.

    The reference engine reaches these semantics through its external
    shex partition matcher (suite entries PstarT / nPlus1 /
    false-lead-excluding-value-shape et al.); this is the declarative
    (exhaustive) reading, not the greedy strategy."""

    mentioned: tuple[str, ...]                 # all predicates in the expr
    alts: tuple[tuple[PropertyConstraint, ...], ...]


def parse_repeat_alts(spec: dict[str, Any]) -> RepeatAlts:
    alts = tuple(tuple(parse_property(p) for p in alt)
                 for alt in spec["alts"])
    for alt in alts:
        for pc in alt:
            if not pc.path.is_simple_pred:
                raise SchemaError(
                    "repeat partition groups support simple predicate "
                    "paths only")
    return RepeatAlts(mentioned=tuple(spec["mentioned"]), alts=alts)


@dataclass
class Shape:
    label: str
    targets: list[Target] = field(default_factory=list)
    node_constraints: list[NodeExpr] = field(default_factory=list)
    properties: list[PropertyConstraint] = field(default_factory=list)
    # ShEx OneOf in the flat form (SURVEY.md §2.4): exclusive choice
    # among groups of triple constraints — exactly one group must hold.
    one_of: list[list[PropertyConstraint]] = field(default_factory=list)
    # ShEx repeated-predicate partition semantics (see RepeatAlts)
    repeat_alts: Optional[RepeatAlts] = None
    # ShEx group cardinality blocks `( TC... ){m,n}` (see GroupBlock)
    group_blocks: list[GroupBlock] = field(default_factory=list)
    closed: bool = False
    # extra predicates tolerated by CLOSED (sh:ignoredProperties / ShEx EXTRA)
    ignored: list[str] = field(default_factory=list)
    deactivated: bool = False
    severity: str = "Violation"
    message: Optional[str] = None
    # transparent shapes (hoisted from nested sh:property) report their
    # own violations directly instead of bubbling a NodeConstraint
    # failure to the parent (SHACL sh:property nesting semantics)
    transparent: bool = False

    def triple_constraints(self) -> Iterator[tuple[str, PropertyConstraint]]:
        """Every triple constraint with the family it sits in:
        'property', 'oneOf', 'group' (a group block's members) or
        'repeat' (a repeat partition's TCs, once per alternative)."""
        for p in self.properties:
            yield "property", p
        for group in self.one_of:
            for p in group:
                yield "oneOf", p
        for blk in self.group_blocks:
            for p in blk.members:
                yield "group", p
        for alt in self.repeat_alts.alts if self.repeat_alts else ():
            for p in alt:
                yield "repeat", p

    def refs(self) -> list[tuple[str, bool]]:
        return [r for ne in self.node_constraints for r in ne.refs()] + \
            [r for _, p in self.triple_constraints() for r in p.refs()]

    def classes(self) -> set[str]:
        return set().union(*(ne.classes() for ne in self.node_constraints),
                           *(p.classes() for _, p in self.triple_constraints()))

    def declared_preds(self) -> set[str]:
        """Predicates mentioned by simple forward property paths —
        the CLOSED allowance set (SURVEY.md §2.4 CLOSED row); a repeat
        partition contributes the predicates it mentions."""
        out = {p.path.iri for family, p in self.triple_constraints()
               if family != "repeat" and p.path.kind == "pred"}
        if self.repeat_alts:
            out |= set(self.repeat_alts.mentioned)
        return out


def parse_shape(spec: dict[str, Any]) -> Shape:
    node_constraints = [parse_node_expr(n) for n in spec.get("nodeConstraints", [])]
    if "node" in spec:
        node_constraints.append(parse_node_expr(spec["node"]))
    return Shape(
        label=spec["label"],
        targets=[Target(t["kind"], t["value"],
                        t.get("term_kind", "iri"), t.get("dt"), t.get("lang"))
                 for t in spec.get("targets", [])],
        node_constraints=node_constraints,
        properties=[parse_property(p) for p in spec.get("constraints", [])],
        one_of=[[parse_property(p) for p in group]
                for group in spec.get("oneOf", [])],
        group_blocks=[parse_group_block(b)
                      for b in spec.get("groupBlocks", [])],
        repeat_alts=(parse_repeat_alts(spec["repeatAlts"])
                     if spec.get("repeatAlts") else None),
        closed=bool(spec.get("closed", False)),
        ignored=list(spec.get("extra", spec.get("ignored", []))),
        deactivated=bool(spec.get("deactivated", False)),
        severity=spec.get("severity", "Violation"),
        message=spec.get("message"),
        transparent=bool(spec.get("transparent", False)),
    )


# ---------------------------------------------------------------- schema


class SchemaError(ValueError):
    pass


@dataclass
class SchemaDict:
    """label → Shape, plus dependency analysis.

    Mirrors SchemaS(lblMap) (/root/reference/modules/slang/src/main/
    scala/es/weso/slang/SchemaS.scala:3-7) with the well-formedness
    check of ShExSchema.negCycles."""

    shapes: dict[str, Shape]

    @staticmethod
    def from_json(specs: list[dict[str, Any]] | dict[str, Any]) -> "SchemaDict":
        if isinstance(specs, dict):
            specs = specs.get("shapes", [specs])
        shapes = {}
        for s in specs:
            sh = parse_shape(s)
            if sh.label in shapes:
                raise SchemaError(f"duplicate shape label {sh.label}")
            shapes[sh.label] = sh
        sd = SchemaDict(shapes)
        sd.check_well_formed()
        return sd

    # -- dependency graph -------------------------------------------------
    def dep_edges(self) -> list[tuple[str, str, bool]]:
        """(from_shape, to_shape, negated) edges."""
        edges = []
        for lbl, sh in self.shapes.items():
            for ref, neg in sh.refs():
                if ref not in self.shapes:
                    raise SchemaError(f"shape {lbl} references undefined shape {ref}")
                edges.append((lbl, ref, neg))
        return edges

    def check_well_formed(self) -> None:
        """Reject negated cycles (ShExSchema.scala:231-242 analogue)."""
        for scc in self.sccs():
            members = set(scc)
            for a, b, neg in self.dep_edges():
                if neg and a in members and b in members:
                    raise SchemaError(
                        f"negated reference cycle through {a} -> {b}: "
                        "schema is not stratifiable"
                    )

    def sccs(self) -> list[list[str]]:
        """Strongly connected components in reverse-topological order
        (dependencies first) — iterative Tarjan."""
        adj: dict[str, list[str]] = {lbl: [] for lbl in self.shapes}
        for a, b, _ in self.dep_edges():
            adj[a].append(b)
        index: dict[str, int] = {}
        low: dict[str, int] = {}
        on_stack: set[str] = set()
        stack: list[str] = []
        counter = [0]
        out: list[list[str]] = []

        for root in self.shapes:
            if root in index:
                continue
            work = [(root, iter(adj[root]))]
            index[root] = low[root] = counter[0]
            counter[0] += 1
            stack.append(root)
            on_stack.add(root)
            while work:
                node, it = work[-1]
                advanced = False
                for nxt in it:
                    if nxt not in index:
                        index[nxt] = low[nxt] = counter[0]
                        counter[0] += 1
                        stack.append(nxt)
                        on_stack.add(nxt)
                        work.append((nxt, iter(adj[nxt])))
                        advanced = True
                        break
                    if nxt in on_stack:
                        low[node] = min(low[node], index[nxt])
                if advanced:
                    continue
                work.pop()
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[node])
                if low[node] == index[node]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == node:
                            break
                    out.append(comp)
        return out

    def strata(self) -> list[list[str]]:
        """Evaluation order: SCCs, dependencies before dependents.
        Each stratum is one SCC; singleton SCCs without self-loops are
        acyclic (single pass), larger/self-loop ones need a fixpoint."""
        return self.sccs()

    def is_recursive(self, scc: list[str]) -> bool:
        members = set(scc)
        if len(scc) > 1:
            return True
        return any(a == b and a in members for a, b, _ in self.dep_edges())
