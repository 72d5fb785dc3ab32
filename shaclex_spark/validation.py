"""The constraint compiler + validator: shapes × triples → conformance.

Set-at-a-time re-expression of shaclex's node-at-a-time validators
(/root/reference/modules/slang/src/main/scala/es/weso/slang/Validation.scala,
ValidateND.scala). The plan per shape is the datalog program shaclex's
own ASP encoding spells out (SLang2Clingo.scala:148-181):

    arcWithShape(X,P,S,V) :- arc(X,P,V), hasShape(V,S).     -- join
    countPropShape(X,P,S,C) :- #count{V: arcWithShape(...)}  -- groupBy
    hasShape(X, qa(PP,S,Min,Max)) :- Min <= C <= Max.        -- filter

Physical shape (SURVEY.md §4.3): the focus is a ROW SOURCE, not a
second evaluator. Each shape gets focus-marker rows keyed by the full
term — from its own target declarations, or from a candidate relation
(shape map, filtered focus, ref-propagated candidates, closed shapes).
Per shape, ONE union(constraint arcs keyed by subject, each complex
path's (source, value) pairs keyed by source, marker rows) → ONE
groupBy(term) with fused conditional aggregates for every triple
constraint, whatever its path — property constraints, OneOf members,
group blocks, repeat partitions, the CLOSED residue (the FlatShape
constraint-fusion idea, FlatShapeConversion.scala:27-87) →
filter(is-focus), with the node constraints computed on the grouped
row; a marker row alone makes a zero-arc node count 0
(SLang2Clingo.scala:164-168 makes the 0-case explicit, and its
countPropShape counts per (node, path, shape) whatever the path kind).
Pairwise constraints (equals, disjoint, lessThan) collect the value
terms of their path and of its sibling predicate in the same groupBy
and compare the two on the grouped row.

Recursion: stratified SCC order; cyclic strata run a greatest-fixpoint
loop starting from all-conforming — the co-inductive Unknown-counts-
as-ok semantics of ValidateND (ShapesMap.scala:19-23). Negated cycles
are rejected at schema parse (shapes.SchemaDict.check_well_formed).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .model import (
    NODE_KINDS,
    NUMERIC_DATATYPES,
    RDF_TYPE,
    RDFS,
    REPORT_SCHEMA,
    TEMPORAL_DATATYPES,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_INTEGER,
    XSD_STRING,
)
from .fixpoint import FixpointError, cut, semi_naive
from .paths import VAL_COLS, node_kind, path_pairs
from .scope import Scope
from .shapes import (NodeExpr, Path, PropertyConstraint, SchemaDict, Shape,
                     ValueSpec)
from .triggers import target_focus, target_rows

MAX_FIXPOINT_ROUNDS = 50

KEY = "node_key"
FCOLS = ["f_kind", "f_value", "f_dt", "f_lang"]
OBJ_COLS = ["obj_kind", "obj_value", "obj_dt", "obj_lang"]


def node_key_col(kind: Column, value: Column, dt: Column, lang: Column) -> Column:
    """Single string identity key for an RDF term (null-safe on dt/lang).

    Fields join on an ASCII \\x01 separator (an empty separator would
    collide literal "aX"^^<b> with "a"^^<Xb> -- this key is the
    join/dedup identity for candidates, ref joins and sh:equals, so a
    collision silently merges distinct terms). Null dt/lang map to a
    DISTINCT \\x02 marker so an absent datatype cannot collide with an
    empty-string one."""
    return F.concat_ws("", kind, value, F.coalesce(dt, F.lit("")),
                       F.coalesce(lang, F.lit("")))


def focus_to_candidates(focus: DataFrame) -> DataFrame:
    """focus(node, shape, ...) → per-shape candidate rows with term columns.

    If the focus carries full term columns (node_kind/node_dt/
    node_lang — emitted by triggers for literal targetNode terms),
    they are honored; otherwise the kind is inferred from the '_:'
    bnode prefix convention."""
    inferred = node_kind(F.col("node"))
    if "node_kind" in focus.columns:
        kind = F.coalesce(F.col("node_kind"), inferred)
        dt = F.col("node_dt")
        lang = F.col("node_lang")
    else:
        kind, dt, lang = inferred, F.lit(None).cast("string"), \
            F.lit(None).cast("string")
    return _with_key(focus.select(
        F.col("shape"),
        kind.alias("f_kind"),
        F.col("node").alias("f_value"),
        dt.alias("f_dt"),
        lang.alias("f_lang"),
    )).distinct()


def _with_key(df: DataFrame) -> DataFrame:
    return df.withColumn(KEY, node_key_col(F.col("f_kind"), F.col("f_value"),
                                           F.col("f_dt"), F.col("f_lang")))


@dataclass
class FocusRows:
    """Row source of one shape's focus terms:

    targets: the shape's own target declarations (target-driven
             validation) — marker rows come from triggers.target_rows;
             None when the focus is a candidate relation;
    cand:    the candidate relation (KEY, *FCOLS, distinct) — a shape
             map, a filtered focus, ref-propagated candidates; None for
             a target-driven shape, whose focus terms are never gathered
             into a relation of their own.

    Every evaluator reads the focus only as marker rows, so the trigger
    decides WHICH (node, shape) pairs are checked and never HOW."""

    targets: list | None = None
    cand: DataFrame | None = None


# --------------------------------------------------------------------------
# Value-term accessors: evaluate a NodeExpr against some column family.
# --------------------------------------------------------------------------


@dataclass
class TermCols:
    """Column accessors for the term a NodeExpr is applied to, plus the
    join-backed boolean columns (shape refs, class membership)."""

    kind: Column
    value: Column
    dt: Column
    lang: Column
    ref_cols: dict[str, Column]
    cls_cols: dict[str, Column]


def _well_formed(dt_iri: str, value: Column) -> Column:
    """Literal well-formedness vs datatype: ill-formed ⇒ violation, not
    skip (SURVEY.md §7.3 'typed literal comparison'; exercised by
    shacl/tests/core/node/datatype-001.ttl and the ShEx suite's
    sht:ValidLexicalForm entries — e.g. '1E0' is a valid double but an
    invalid integer/decimal). Anchored per-datatype regexes from
    model.LEXICAL_FORMS; unknown datatypes are unconstrained."""
    from .model import INTEGER_RANGES, LEXICAL_FORMS

    pat = LEXICAL_FORMS.get(dt_iri)
    if pat is None:
        return F.lit(True)
    ok = value.rlike(f"^({pat})$")
    rng = INTEGER_RANGES.get(dt_iri)
    if rng is not None:
        # lexically valid but out of the bounded type's value space ⇒
        # ill-formed ("32768"^^xsd:short). decimal(38,0) covers 2^64.
        dec = value.try_cast("decimal(38,0)")
        lo = F.lit(str(rng[0])).cast("decimal(38,0)")
        hi = F.lit(str(rng[1])).cast("decimal(38,0)")
        ok = ok & dec.isNotNull() & (dec >= lo) & (dec <= hi)
    return ok


def _numeric_value(value: Column, dt: Column) -> Column:
    """Typed comparable rendering of a literal for range constraints
    and lessThan."""
    return F.when(dt.isin(sorted(TEMPORAL_DATATYPES)),
                  value.try_cast("timestamp").cast("double")
                  ).otherwise(value.try_cast("double"))


_TZ_RE = r"(Z|[+-]\d\d:\d\d)$"


def _range_check(e: NodeExpr, tc: TermCols) -> Column:
    lit_raw = e.value
    tz_guard = F.lit(True)
    dec_cmp = None
    try:
        bound = F.lit(float(lit_raw))
        val = _numeric_value(tc.value, tc.dt)
        # value comparison is defined on numeric datatypes only: a
        # castable-but-non-numeric literal (e.g. "5"^^xsd:string) is a
        # type error ⇒ violation (SPARQL '<' semantics / ShEx numeric
        # facets). NULL dt never compares.
        tz_guard = F.coalesce(
            tc.dt.isin(sorted(NUMERIC_DATATYPES | TEMPORAL_DATATYPES)),
            F.lit(False))
        # exact decimal comparison when both sides fit decimal(38,15):
        # doubles lose integer precision past 2^53, so
        # "10000000000000000001"^^xsd:decimal vs bound ...000 would
        # compare equal under double math. Falls back to double for
        # exponent forms ("1E0") / overflow (try_cast ⇒ NULL).
        bound_dec = F.lit(lit_raw).try_cast("decimal(38,15)")
        val_dec = tc.value.try_cast("decimal(38,15)")
        dec_cmp = (bound_dec.isNotNull() & val_dec.isNotNull(),
                   val_dec, bound_dec)
    except ValueError:
        # temporal bound. XSD dateTime ordering between zoned and
        # unzoned values is indeterminate ⇒ violation (W3C
        # minInclusive-003): require equal timezone-ness.
        import re as _re

        bound = F.lit(lit_raw).cast("timestamp").cast("double")
        val = tc.value.try_cast("timestamp").cast("double")
        bound_has_tz = bool(_re.search(_TZ_RE, lit_raw))
        tz_guard = ((tc.value.rlike(_TZ_RE) == F.lit(bound_has_tz))
                    & F.coalesce(tc.dt.isin(sorted(TEMPORAL_DATATYPES)),
                                 F.lit(False)))

    def _op(v, b):
        return {
            "minInclusive": v >= b,
            "maxInclusive": v <= b,
            "minExclusive": v > b,
            "maxExclusive": v < b,
        }[e.kind]

    cmp = _op(val, bound)
    if dec_cmp is not None:
        both_dec, val_dec, bound_dec = dec_cmp
        cmp = F.when(both_dec, _op(val_dec, bound_dec)).otherwise(cmp)
    # non-literal or non-comparable value ⇒ violation (never null)
    return (tc.kind == "literal") & val.isNotNull() & tz_guard & cmp


def _value_match(v: ValueSpec, tc: TermCols) -> Column:
    if v.kind == "iriStem":
        return (tc.kind == "iri") & tc.value.startswith(v.value)
    if v.kind == "literalStem":
        return (tc.kind == "literal") & tc.value.startswith(v.value)
    if v.kind == "language":
        # ShExJ Language member: matches any literal carrying exactly
        # this language tag (case-insensitive), regardless of value.
        return F.coalesce((tc.kind == "literal")
                          & (F.lower(tc.lang) == v.value.lower()),
                          F.lit(False))
    if v.kind == "languageStem":
        low = v.value.lower()
        if low == "":  # empty stem = any language-tagged literal
            return (tc.kind == "literal") & tc.lang.isNotNull()
        return ((tc.kind == "literal") & tc.lang.isNotNull()
                & ((F.lower(tc.lang) == low)
                   | F.lower(tc.lang).startswith(low + "-")))
    if v.kind == "iri":
        return (tc.kind == "iri") & (tc.value == v.value)
    if v.kind == "bnode":
        return (tc.kind == "bnode") & (tc.value == v.value)
    dt = v.dt or (None if v.lang else XSD_STRING)
    cond = (tc.kind == "literal") & (tc.value == v.value)
    if v.lang:
        # NULL guard: a plain literal has lang NULL; `lower(NULL) == x`
        # is NULL, which would leak through sh:in/hasValue/xone into
        # conformance as a spurious match (the 'never null' invariant).
        cond = cond & tc.lang.isNotNull() & (F.lower(tc.lang) == v.lang.lower())
    elif dt:
        # RDF 1.1: a simple literal IS an xsd:string — sources that
        # leave dt NULL for plain literals must still match "foo"; and
        # a lang-tagged literal must NOT match a plain/typed value.
        cond = (cond & tc.lang.isNull()
                & (F.coalesce(tc.dt, F.lit(XSD_STRING)) == dt))
    return F.coalesce(cond, F.lit(False))


def _lang_in(langs: tuple[str, ...], lang: Column) -> Column:
    low = F.lower(lang)
    conds = [(low == l.lower()) | low.startswith(l.lower() + "-") for l in langs]
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return lang.isNotNull() & out


def compile_expr(e: NodeExpr, tc: TermCols) -> Column:
    """NodeExpr → boolean Column (never null: every branch is
    null-coalesced so 4-valued gaps can't leak into aggregates)."""
    k = e.kind
    if k == "true":
        return F.lit(True)
    if k == "false":
        return F.lit(False)
    if k == "datatype":
        # NULL-dt literal ⇒ simple literal ⇒ xsd:string (RDF 1.1);
        # coalesce keeps the branch boolean, never NULL.
        return ((tc.kind == "literal")
                & (F.coalesce(tc.dt, F.lit(XSD_STRING)) == e.iri)
                & _well_formed(e.iri, tc.value))
    if k == "nodeKind":
        return tc.kind.isin(sorted(NODE_KINDS[e.enum]))
    if k == "in":
        out = _value_match(e.values[0], tc)
        for v in e.values[1:]:
            out = out | _value_match(v, tc)
        return out
    if k == "hasValue":  # node-position semantics: the term IS the value
        return _value_match(e.values[0], tc)
    if k in ("pattern", "minLength", "maxLength"):
        # ShEx string facets apply to the bnode LABEL (sans '_:');
        # SHACL says a bnode violates these components outright.
        if e.shex:
            sval = F.when(tc.kind == "bnode",
                          tc.value.substr(F.lit(3), F.length(tc.value))
                          ).otherwise(tc.value)
            guard = F.lit(True)
        else:
            sval = tc.value
            guard = tc.kind != "bnode"
        if k == "pattern":
            pat = e.pattern
            if e.flags and "i" in e.flags:
                pat = "(?i)" + pat
            return guard & sval.rlike(pat)
        if k == "minLength":
            return guard & (F.length(sval) >= e.num)
        return guard & (F.length(sval) <= e.num)
    if k in ("minInclusive", "maxInclusive", "minExclusive", "maxExclusive"):
        return _range_check(e, tc)
    if k in ("totalDigits", "fractionDigits"):
        # XSD digit facets constrain the decimal family VALUE: sign,
        # leading integer zeros and trailing fraction zeros don't count
        # (ShExJ keys totaldigits/fractiondigits; suite traits
        # sht:TotalDigitsFacet / sht:FractionDigitsFacet).
        from .model import INTEGER_DATATYPES, XSD_DECIMAL

        decimal_family = INTEGER_DATATYPES | {XSD_DECIMAL}
        # the literal must be well-formed FOR ITS OWN datatype: e.g.
        # "1.2345"^^xsd:integer is malformed, so the facet fails
        # (suite 1literalTotaldigits_fail-malformedxsd_integer-1_2345)
        lex_ok = F.when(
            tc.dt.isin(sorted(INTEGER_DATATYPES)), tc.value.rlike(r"^[+-]?\d+$")
        ).otherwise(tc.value.rlike(r"^[+-]?(\d+(\.\d*)?|\.\d+)$"))
        no_sign = F.regexp_replace(tc.value, r"^[+-]", "")
        int_part = F.regexp_replace(
            F.regexp_extract(no_sign, r"^(\d*)", 1), r"^0+", "")
        frac_part = F.regexp_replace(
            F.regexp_extract(no_sign, r"\.(\d*)$", 1), r"0+$", "")
        if k == "totalDigits":
            cnt = F.length(int_part) + F.length(frac_part)
        else:
            cnt = F.length(frac_part)
        return ((tc.kind == "literal")
                & F.coalesce(tc.dt.isin(sorted(decimal_family)), F.lit(False))
                & lex_ok & (cnt <= e.num))
    if k == "languageIn":
        return _lang_in(e.langs, tc.lang)
    if k == "class":
        return F.coalesce(tc.cls_cols[e.iri], F.lit(False))
    if k == "ref":
        return F.coalesce(tc.ref_cols[e.label], F.lit(False))
    if k == "not":
        return ~compile_expr(e.exprs[0], tc)
    if k in ("and", "allOf"):
        out = compile_expr(e.exprs[0], tc)
        for sub in e.exprs[1:]:
            out = out & compile_expr(sub, tc)
        return out
    if k == "or":
        out = compile_expr(e.exprs[0], tc)
        for sub in e.exprs[1:]:
            out = out | compile_expr(sub, tc)
        return out
    if k == "xone":
        total = F.lit(0)
        for sub in e.exprs:
            total = total + compile_expr(sub, tc).cast("int")
        return total == 1
    raise ValueError(f"cannot compile node expr kind {k}")


COMPONENT_NAMES = {
    "datatype": "DatatypeConstraintComponent",
    "nodeKind": "NodeKindConstraintComponent",
    "in": "InConstraintComponent",
    "hasValue": "HasValueConstraintComponent",
    "pattern": "PatternConstraintComponent",
    "minLength": "MinLengthConstraintComponent",
    "maxLength": "MaxLengthConstraintComponent",
    "minInclusive": "MinInclusiveConstraintComponent",
    "maxInclusive": "MaxInclusiveConstraintComponent",
    "minExclusive": "MinExclusiveConstraintComponent",
    "maxExclusive": "MaxExclusiveConstraintComponent",
    "languageIn": "LanguageInConstraintComponent",
    "class": "ClassConstraintComponent",
    "ref": "NodeConstraintComponent",
    "not": "NotConstraintComponent",
    "and": "AndConstraintComponent",
    "or": "OrConstraintComponent",
    "xone": "XoneConstraintComponent",
    "true": "TrueConstraintComponent",
    "false": "FalseConstraintComponent",
}

# One report row past its (focus_node, source_shape): the element type
# of a shape relation's ``violations`` array (see ValidationResult), as
# a DDL string — a cast to it is one driver call.
VIOLATION = "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}"
                                 for f in REPORT_SCHEMA.fields[2:]) + ">"


def _violation(component: str, severity: str, value: Column, path: Column,
               message: str | None) -> Column:
    return F.struct(F.lit(component), F.lit(severity), value, path,
                    F.lit(message)).cast(VIOLATION)


def _violations(fails: list[Column], lists: list[Column]) -> Column:
    """A never-null violations array: the non-null ``fails`` (per-focus
    when(fail, _violation) columns) followed by the ``lists`` (arrays
    of per-value violations collected in an aggregate)."""
    parts = [F.array_compact(F.array(*fails))] if fails else []
    parts += lists
    if not parts:
        return F.array().cast(f"array<{VIOLATION}>")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _top_conjuncts(e: NodeExpr) -> list[NodeExpr]:
    """Flatten synthetic allOf conjunctions so each constraint reports
    under its own component; sh:and stays intact (it reports as
    AndConstraintComponent per SHACL)."""
    if e.kind == "allOf":
        out: list[NodeExpr] = []
        for sub in e.exprs:
            out.extend(_top_conjuncts(sub))
        return out
    return [e]


def _collect_refs(e: NodeExpr) -> set[str]:
    return {lbl for lbl, _ in e.refs()}


def _lookups(exprs: list[NodeExpr]) -> tuple[set[str], set[str]]:
    """The shape labels and the classes that ``exprs`` look up."""
    return (set().union(*(_collect_refs(e) for e in exprs)),
            set().union(*(e.classes() for e in exprs)))


def _path_tokens(shape: Shape) -> dict[Path, str]:
    """The pred value of each complex path's pair rows in a shape's
    grouped pass, one per distinct path: '<' is no IRI character, so no
    arc's predicate takes it."""
    paths = dict.fromkeys(pc.path for _, pc in shape.triple_constraints()
                          if not pc.path.is_simple_pred)
    return {path: f"<path {i}>" for i, path in enumerate(paths)}


def _sibling(pc: PropertyConstraint) -> str | None:
    """The sibling predicate a pairwise constraint compares pc's path
    with, or None."""
    return pc.equals or pc.disjoint or pc.less_than or pc.less_than_or_equals


def _dedup_free(pc: PropertyConstraint) -> bool:
    """Whether pc's checks read its path's values without their
    multiplicity: minCount ≤ 1, no maxCount (the counts only test
    exists / none) and no uniqueLang (which counts tagged values)."""
    return pc.min_count <= 1 and pc.max_count is None and not pc.unique_lang


_SUBCLASS_PLUS = Path("oneOrMore",
                      steps=(Path("pred", iri=RDFS + "subClassOf"),))


def _subclass_arcs(triples: DataFrame) -> DataFrame:
    return triples.filter((F.col("pred") == RDFS + "subClassOf")
                          & (F.col("obj_kind") == "iri"))


class Graph:
    """A triples relation and the facts read from it, each at most
    once: whether it carries rdfs:subClassOf arcs (one limit(1) probe,
    a full-scan driver action when it carries none), and class
    membership (built by class_membership on first use). The validation
    engine and triggers.target_focus read both from here, so every
    consumer of one Graph shares one probe and one membership relation.

    ``scope``: when given, membership is persisted into it — for a
    long-lived graph read by many queries (the registry's session KG);
    otherwise membership stays an unpersisted sub-plan."""

    def __init__(self, triples: DataFrame, scope: Scope | None = None):
        self.triples = triples
        self._scope = scope
        self._has_subclass: bool | None = None
        self._membership: DataFrame | None = None

    @classmethod
    def of(cls, triples: "Graph | DataFrame") -> "Graph":
        return triples if isinstance(triples, Graph) else cls(triples)

    @property
    def has_subclass(self) -> bool:
        if self._has_subclass is None:
            self._has_subclass = \
                not _subclass_arcs(self.triples).limit(1).isEmpty()
        return self._has_subclass

    @property
    def membership(self) -> DataFrame:
        """(inst, cls) class membership, see class_membership."""
        if self._membership is None:
            m = class_membership(self)
            self._membership = m if self._scope is None \
                else self._scope.persist(m)
        return self._membership


def class_membership(graph: Graph) -> DataFrame:
    """(inst, cls) membership with rdfs:subClassOf* closure — SHACL
    sh:class and targetClass include instances of subclasses
    (exercised by shacl/tests/core/node/class-001.ttl). The subclass
    graph is schema-sized: its closure is the oneOrMore path loop over
    the arcs whose object is an IRI, so a bnode or literal parent is
    neither a class nor traversed. When no subclass edges exist (the
    common transcript-KG case) this is exactly the direct rdf:type
    relation."""
    direct = (graph.triples.filter((F.col("pred") == RDF_TYPE)
                                   & (F.col("obj_kind") == "iri"))
              .select(F.col("subj").alias("inst"),
                      F.col("obj_value").alias("cls"))
              .distinct())
    if not graph.has_subclass:
        return direct
    sub = _subclass_arcs(graph.triples)
    closure = path_pairs(sub, _SUBCLASS_PLUS, srcs=sub.select("subj"))
    inherited = (direct.withColumnRenamed("cls", "src")
                 .join(closure, on="src")
                 .select("inst", F.col("v_value").alias("cls")))
    return direct.unionByName(inherited).distinct()


# --------------------------------------------------------------------------
# Engine
# --------------------------------------------------------------------------


class ValidationResult:
    """One validation, read two ways (shaclex's Result: the result
    shape map and the report are views of one evaluation).

    ``relation``: one row per (focus term, shape) — node, shape,
    conforms[, node_kind, node_dt, node_lang][, status], asked, and
    ``violations``, the array of VIOLATION structs the shape's
    constraints found on that term (empty when it conforms). ``asked``
    marks the pairs the trigger selected; the other rows are those of
    transparent (nested sh:property) shapes, whose violations surface
    in the report instead of at the outer focus.

    conformance: (node, shape, conforms, ...) — the asked rows;
    report: REPORT_SCHEMA — every row's violations exploded.

    Both are projections of the same relation. A consumer that reads
    only conformance computes no violation of a shape whose relation
    is read once (Catalyst prunes the unread aggregates); the
    relations that are persisted or checkpointed because shape refs
    read them again (referenced shapes, recursive rounds) carry their
    violations. A consumer that reads both persists the relation into
    its scope (pipeline.validate_kg), so the evaluation runs once.

    A term's violations are one array in one row: a focus term with
    very many failing values (a closed shape over a hub node) builds
    them in one aggregation buffer."""

    def __init__(self, relation: DataFrame):
        self.relation = relation
        self.conformance = relation.filter("asked") \
            .drop("asked", "violations")
        self.report = relation.select(F.col("node").alias("focus_node"),
                                      F.col("shape").alias("source_shape"),
                                      F.inline("violations"))
        self.conforms: bool | None = None

    def finish(self) -> "ValidationResult":
        self.conforms = self.report.limit(1).isEmpty()
        return self


class ValidationEngine:
    """Validate a triples relation (DataFrame or Graph) against a
    SchemaDict.

    Usage::
        engine = ValidationEngine(spark, schema, triples)
        result = engine.validate()           # the schema's own targets
        result = engine.validate(focus_df)   # focus: (node, shape)
    """

    def __init__(self, spark: SparkSession, schema: SchemaDict,
                 triples: Graph | DataFrame, cache: bool = True,
                 scope: Scope | None = None):
        self.spark = spark
        self.schema = schema
        self.graph = Graph.of(triples)
        self.triples = self.graph.triples
        # cache=False skips candidate/conformance persisting — for
        # micro-graph batch harnesses (ShEx suite) where recomputing a
        # five-row subtree is cheaper than cache bookkeeping.
        self.cache = cache
        # owner of the candidate/conformance persists: the caller's
        # scope, or the engine's own — close it once results are read
        self.scope = scope or Scope()

    def _maybe_persist(self, df: DataFrame) -> DataFrame:
        return self.scope.persist(df) if self.cache else df

    @property
    def _big_schema(self) -> bool:
        """Schemas with many shapes / constraints compound candidate
        unions and per-constraint joins into logical plans deep enough
        to overflow Catalyst's recursive TreeNode.clone (observed on
        SHACL-SHACL meta-validation: 18 shapes, 38-constraint
        ShapeShape). For those, sub-plans are flattened behind lazy
        localCheckpoint barriers."""
        n_constraints = sum(len(s.properties) + len(s.node_constraints)
                            for s in self.schema.shapes.values())
        return len(self.schema.shapes) >= 8 or n_constraints >= 24

    def _maybe_flatten(self, df: DataFrame) -> DataFrame:
        """Cut logical-plan depth (fixpoint.cut: flattens the plan to a
        LogicalRDD immediately, computes on first action)."""
        return cut(df) if self._big_schema else df

    def _is_transparent_ref(self, cj: NodeExpr) -> bool:
        """Refs to transparent shapes (hoisted nested sh:property) do
        not report at the outer focus — the nested shape's own results
        surface instead (SHACL sh:property nesting)."""
        return (cj.kind == "ref"
                and self.schema.shapes[cj.label].transparent)

    # -- candidate propagation --------------------------------------------

    def _ref_edges(self) -> list[tuple[str, str, PropertyConstraint | None]]:
        """(shape A, referenced shape B, via-property-or-None); a repeat
        partition's TCs give one edge per (predicate, ref)."""
        edges: list[tuple[str, str, PropertyConstraint | None]] = []
        for lbl, sh in self.schema.shapes.items():
            for ne in sh.node_constraints:
                for ref in _collect_refs(ne):
                    edges.append((lbl, ref, None))
            seen: set[tuple[str, str]] = set()
            for family, pc in sh.triple_constraints():
                for ref in _collect_refs(pc.node):
                    if family == "repeat":
                        if (pc.path.iri, ref) in seen:
                            continue
                        seen.add((pc.path.iri, ref))
                    edges.append((lbl, ref, pc))
        return edges

    def _derive_candidates(self, fa: DataFrame,
                           pc: PropertyConstraint | None) -> DataFrame:
        """Values reachable from candidate set fa via constraint pc's
        path (or fa itself for focus-level refs)."""
        if pc is None:
            return fa.select(KEY, *FCOLS)
        srcs = fa.filter(F.col("f_kind") != "literal") \
                 .select(F.col("f_value").alias("n"))
        # dedup=False: every consumer dropDuplicates([KEY]) right after
        pairs = path_pairs(self.triples, pc.path, srcs, dedup=False)
        return _with_key(pairs.select(
            F.col("v_kind").alias("f_kind"),
            F.col("v_value").alias("f_value"),
            F.col("v_dt").alias("f_dt"),
            F.col("v_lang").alias("f_lang"),
        )).select(KEY, *FCOLS)

    def _propagate_candidates(self, focus: DataFrame) -> dict[str, DataFrame]:
        """cand[S]: every term whose conformance to S is needed —
        the relevant-subgraph reduction (SLang2Clingo.scala:220-228).

        Acyclic schemas (the common case): ONE lazy pass over shapes in
        dependents-first order — no driver actions, no checkpoints; the
        whole propagation folds into the evaluation plan. Recursive
        schemas: one fixpoint.semi_naive over all labels at once."""
        base = focus_to_candidates(focus)
        edges = self._ref_edges()
        sccs = self.schema.strata()  # dependencies first
        recursive = any(self.schema.is_recursive(scc) for scc in sccs)

        if recursive:
            # one relation (shape, KEY, *FCOLS): each round derives
            # along every ref edge from the candidates the last round
            # added
            def step(frontier: DataFrame) -> DataFrame:
                derived = [self._derive_candidates(
                    frontier.filter(F.col("shape") == a), pc)
                    .withColumn("shape", F.lit(b)) for a, b, pc in edges]
                out = derived[0]
                for d in derived[1:]:
                    out = out.unionByName(d)
                return out

            base = semi_naive(base, step, ["shape", KEY], MAX_FIXPOINT_ROUNDS)
        cands = {lbl: base.filter(F.col("shape") == lbl).drop("shape")
                 for lbl in self.schema.shapes}
        if not recursive:
            by_src: dict[str, list] = {}
            for a, b, pc in edges:
                by_src.setdefault(a, []).append((b, pc))
            # dependents before dependencies ⇒ reversed strata order
            for scc in reversed(sccs):
                a = scc[0]
                for b, pc in by_src.get(a, []):
                    derived = self._derive_candidates(cands[a], pc)
                    cands[b] = self._maybe_flatten(
                        cands[b].unionByName(derived).dropDuplicates([KEY]))
        return cands

    # -- shape evaluation ---------------------------------------------------

    def _join_term_bools(self, df: DataFrame, prefix: str,
                         refs: set[str], classes: set[str],
                         conf: dict[str, DataFrame]) -> tuple[DataFrame, dict, dict]:
        """Left-join shape-conformance and class-membership booleans for
        the term columns ``{prefix}kind/value/dt/lang``; returns enriched
        df + column maps."""
        ref_cols: dict[str, Column] = {}
        cls_cols: dict[str, Column] = {}
        if refs or classes:
            key = node_key_col(F.col(prefix + "kind"), F.col(prefix + "value"),
                               F.col(prefix + "dt"), F.col(prefix + "lang"))
            df = df.withColumn("__tkey", key)
        for i, lbl in enumerate(sorted(refs)):
            cname = f"__ref_{i}"
            rhs = conf[lbl].select(F.col(KEY).alias("__tkey"),
                                   F.col("conforms").alias(cname))
            df = df.join(rhs, on="__tkey", how="left")
            ref_cols[lbl] = F.col(cname)
        if classes:
            # class membership is defined on IRI/bnode terms only: a
            # literal whose lexical form equals an instance IRI must
            # not cross-match — NULL join key never equi-joins.
            df = df.withColumn("__jv", F.when(
                F.col(prefix + "kind") != "literal", F.col(prefix + "value")))
        for i, cls in enumerate(sorted(classes)):
            cname = f"__cls_{i}"
            rhs = (self.graph.membership.filter(F.col("cls") == cls)
                   .select(F.col("inst").alias("__jv"), F.lit(True).alias(cname)))
            df = df.join(rhs, on="__jv", how="left")
            cls_cols[cls] = F.col(cname)
        return df, ref_cols, cls_cols

    def _term_cols(self, prefix: str, ref_cols: dict, cls_cols: dict) -> TermCols:
        return TermCols(
            kind=F.col(prefix + "kind"), value=F.col(prefix + "value"),
            dt=F.col(prefix + "dt"), lang=F.col(prefix + "lang"),
            ref_cols=ref_cols, cls_cols=cls_cols,
        )

    # -- focus row sources --------------------------------------------------

    def _marker_rows(self, targets: list) -> DataFrame:
        """Focus-marker rows (f_kind, f_value, f_dt, f_lang) of target
        declarations: one triggers.target_rows projection per target,
        NOT deduplicated (the grouped max-flag dedupes for free)."""
        if not targets:
            return self.spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in FCOLS))
        membership = (self.graph.membership
                      if any(t.kind == "targetClass" for t in targets)
                      and self.graph.has_subclass else None)
        pieces = [target_rows(self.triples, t, membership) for t in targets]
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _markers(self, rows: FocusRows) -> DataFrame:
        """A shape's focus-marker rows (*FCOLS): its candidate
        relation's, or its target declarations' (_marker_rows)."""
        return (rows.cand.select(*FCOLS) if rows.targets is None
                else self._marker_rows(rows.targets))

    # -- the fused grouped pass ---------------------------------------------

    def _eval_grouped(self, shape: Shape, rows: FocusRows,
                     conf: dict[str, DataFrame]) -> DataFrame:
        """(KEY, *FCOLS, conforms, violations), one row per focus term,
        in ONE grouped pass: union(pred-filtered arcs keyed by subject,
        each complex path's pairs keyed by source, focus-marker rows
        keyed by term) → ONE groupBy(term) with conditional aggregates
        for every triple constraint + CLOSED residue → filter(is-focus)
        (see _fused_agg). Focus terms without arcs group from their
        marker row alone and count 0; a literal focus term never meets
        the subject-keyed arcs of an IRI with the same spelling, and
        never starts a path.

        Target-driven rows fold subject-keyed targets (targetSubjectsOf;
        targetClass when the graph has no subClassOf arcs) into the arc
        scan as a flag on the row itself: they group by the SAME term as
        the constraint arcs, so the cached triple relation is read once
        per shape, and a row that is both marker and arc counts once and
        flags once. Term-keyed targets (targetObjectsOf,
        targetNode, subclass-closed targetClass) union marker rows.

        Candidate rows — and always closed shapes, whose arc scan is the
        UNFILTERED graph — left-semi-join the arc scan to the focus
        terms' non-literal values first, so only the focus set's arcs
        shuffle (the 100-TB-safe shape for sh:closed).

        A complex path's pairs (path_pairs from the focus terms'
        non-literal values, so the path expands only the focus
        neighbourhood) enter as arcs whose pred is the path's token
        (_path_tokens). They are deduplicated unless every constraint on
        the path reads them multiplicity-insensitively (minCount ≤ 1, no
        maxCount, no uniqueLang: the counts only test exists / none),
        which saves an exchange of the pair relation (r6, guide §2.4).

        A pairwise constraint adds its sibling predicate's arcs to the
        scan; its own path is scanned like any other. A deactivated
        shape checks nothing: every focus term conforms."""
        if shape.deactivated:
            shape = Shape(shape.label)
        tokens = _path_tokens(shape)
        preds = {pc.path.iri for _, pc in shape.triple_constraints()
                 if pc.path.is_simple_pred}
        preds.update(_sibling(pc) for pc in shape.properties if _sibling(pc))
        if shape.repeat_alts:
            preds.update(shape.repeat_alts.mentioned)
        null_s = F.lit(None).cast("string")
        arc_cond = F.col("pred").isin(sorted(preds)) if preds else F.lit(False)
        marker_cond = None
        if rows.targets is not None and not shape.closed:
            term_targets: list = []
            for tgt in rows.targets:
                if tgt.kind == "targetSubjectsOf":
                    c = F.col("pred") == tgt.value
                elif tgt.kind == "targetClass" and not self.graph.has_subclass:
                    c = ((F.col("pred") == RDF_TYPE)
                         & (F.col("obj_kind") == "iri")
                         & (F.col("obj_value") == tgt.value))
                else:
                    term_targets.append(tgt)
                    continue
                marker_cond = c if marker_cond is None else (marker_cond | c)
            scan = self.triples.filter(
                arc_cond if marker_cond is None else (arc_cond | marker_cond))
            markers = self._marker_rows(term_targets) if term_targets else None
        else:
            markers = self._markers(rows)
            scan = (self.triples if shape.closed
                    else self.triples.filter(arc_cond))
            scan = scan.join(markers.filter(F.col("f_kind") != "literal")
                             .select(F.col("f_value").alias("subj")),
                             on="subj", how="left_semi")
        arcs = scan.select(
            node_kind(F.col("subj")).alias("f_kind"),
            F.col("subj").alias("f_value"),
            null_s.alias("f_dt"), null_s.alias("f_lang"),
            "pred", *OBJ_COLS,
            (F.lit(False) if marker_cond is None else marker_cond)
            .alias("__tgt"))
        if markers is not None:
            arcs = arcs.unionByName(markers.select(
                *FCOLS, null_s.alias("pred"),
                *[null_s.alias(c) for c in OBJ_COLS],
                F.lit(True).alias("__tgt")))
        if tokens:
            srcs = self._markers(rows).filter(F.col("f_kind") != "literal") \
                .select(F.col("f_value").alias("n"))
        for path, token in tokens.items():
            dedup = not all(_dedup_free(pc)
                            for _, pc in shape.triple_constraints()
                            if pc.path == path)
            pairs = path_pairs(self.triples, path, srcs, dedup=dedup)
            arcs = arcs.unionByName(pairs.select(
                node_kind(F.col("src")).alias("f_kind"),
                F.col("src").alias("f_value"),
                null_s.alias("f_dt"), null_s.alias("f_lang"),
                F.lit(token).alias("pred"),
                *[F.col(v).alias(o) for v, o in zip(VAL_COLS, OBJ_COLS)],
                F.lit(False).alias("__tgt")))
        return self._fused_agg(shape, _with_key(arcs), conf, tokens)

    def _fused_agg(self, shape: Shape, arcs: DataFrame,
                   conf: dict[str, DataFrame],
                   tokens: dict[Path, str]) -> DataFrame:
        """(KEY, *FCOLS, conforms, violations) of the focus terms of an
        arc relation that carries f_* focus-term columns, pred/obj_* arc
        columns and the __tgt marker flag (built by _eval_grouped): ONE
        groupBy(term) with conditional aggregates for the property and
        pairwise constraints, the CLOSED residue, the OneOf groups, the
        group blocks and the repeat partition; the node constraints are then
        columns of the grouped row. Per-value violations are collected
        in the same aggregate; per-focus ones read the grouped counts."""
        values = [pc.node for _, pc in shape.triple_constraints()]
        arcs, ref_cols, cls_cols = self._join_term_bools(
            arcs, "obj_", *_lookups(values), conf)
        tc = self._term_cols("obj_", ref_cols, cls_cols)

        aggs: list[Column] = [F.max("__tgt").alias("__is_focus")]
        lists: list[Column] = []
        oks, fails = self._property_checks(shape, shape.properties, tc, "",
                                           aggs, lists, tokens)
        for i, pc in enumerate(pc for pc in shape.properties if _sibling(pc)):
            lists.append(self._pairwise_check(shape, pc, i, aggs, tokens))
            oks.append(F.size(lists[-1]) == 0)
        ok = F.lit(True)
        if shape.closed:
            # allowed = declared property paths + sh:ignoredProperties / EXTRA
            # (SURVEY.md §2.4 CLOSED: per-subject anti-count); a path
            # pair is no arc of the focus node
            allowed = (shape.declared_preds() | set(shape.ignored)
                       | set(tokens.values()))
            off_path = F.col("pred").isNotNull() & ~F.col("pred").isin(sorted(allowed))
            aggs.append(F.count(F.when(off_path, F.lit(1))).alias("__n_closed_bad"))
            aggs.append(F.collect_list(F.when(off_path, _violation(
                "ClosedConstraintComponent", shape.severity,
                F.col("obj_value"), F.col("pred"), shape.message)))
                .alias("__viol_closed"))
            lists.append(F.col("__viol_closed"))
            ok = F.col("__n_closed_bad") == 0
        for c in oks:
            ok = ok & c
        checks = [self._block_check(shape, blk, b, tc, aggs)
                  for b, blk in enumerate(shape.group_blocks)]
        if shape.repeat_alts:
            checks.append(self._partition_check(shape, tc, aggs))
        if shape.one_of:
            # ShEx OneOf: exactly one group matches, and a group matches
            # iff all its members do (EachOf inside the chosen
            # alternative). The members' own violations are not read:
            # the OneOf reports as a whole.
            total = F.lit(0)
            for gi, group in enumerate(shape.one_of):
                flag = F.lit(True)
                for c in self._property_checks(shape, group, tc, f"o{gi}_",
                                               aggs, None, tokens)[0]:
                    flag = flag & c
                total = total + flag.cast("int")
            checks.append((total == 1, _violation(
                "OneOfConstraintComponent", shape.severity, F.lit(None),
                F.lit(None), shape.message)))

        # group by the full term tuple: KEY is injective in (f_kind,
        # f_value, f_dt, f_lang), so cardinality is unchanged, the
        # exchange still hashes one key set, and the term columns ride
        # through - the grouped row IS the shape relation's row.
        grouped = arcs.groupBy(KEY, *FCOLS).agg(*aggs) \
            .filter(F.col("__is_focus"))
        if shape.node_constraints:
            grouped, ref_cols, cls_cols = self._join_term_bools(
                grouped, "f_", *_lookups(shape.node_constraints), conf)
            ftc = self._term_cols("f_", ref_cols, cls_cols)
            # one violation per failing conjunct
            for cj in (cj for ne in shape.node_constraints
                       for cj in _top_conjuncts(ne)):
                c = compile_expr(cj, ftc)
                checks.append((c, _violation(
                    COMPONENT_NAMES.get(cj.kind, "NodeConstraintComponent"),
                    shape.severity, F.col("f_value"), F.lit(None),
                    shape.message)))
        for c, violation in checks:
            ok = ok & c
            fails.append(F.when(~c, violation))
        return grouped.select(KEY, *FCOLS, ok.alias("conforms"),
                              _violations(fails, lists).alias("violations"))

    def _property_checks(self, shape: Shape, props: list[PropertyConstraint],
                         tc: TermCols, tag: str, aggs: list[Column],
                         lists: list[Column] | None,
                         tokens: dict[Path, str]
                         ) -> tuple[list[Column], list[Column]]:
        """Property constraints, as conditional aggregates over the arcs
        of their path (``tokens``: a complex path's pred column value)
        appended to ``aggs`` (named with ``tag``): returns each
        constraint's verdict over the grouped counts and the per-focus
        violations. ``props`` are each other's siblings for
        qualifiedValueShapesDisjoint. Per-value violations are
        collected into ``lists``; None collects none (a OneOf member
        reports as its OneOf)."""
        # first pass: per-constraint value predicates (needed up front so
        # qualifiedValueShapesDisjoint constraints can exclude values
        # matching a SIBLING qualified shape — ShEx2Shacl.scala:374-405;
        # fixture core/property/qualifiedValueShapesDisjoint-001.ttl)
        prepared = []
        for pc in props:
            conjs = _top_conjuncts(pc.node)
            per_value = [(c, compile_expr(c, tc)) for c in conjs
                         if c.kind != "hasValue"]
            existential = [c for c in conjs if c.kind == "hasValue"]
            v_ok = F.lit(True)
            for _, c_ok in per_value:
                v_ok = v_ok & c_ok
            prepared.append((pc, per_value, existential, v_ok))

        oks: list[Column] = []
        fails: list[Column] = []
        for i, (pc, per_value, existential, v_ok) in enumerate(prepared):
            on_path = F.col("pred") == tokens.get(pc.path, pc.path.iri)
            count_ok = v_ok
            if pc.qualified and pc.qualified_disjoint:
                for j, (pc2, _, _, v_ok2) in enumerate(prepared):
                    if j != i and pc2.qualified and pc2.qualified_disjoint:
                        count_ok = count_ok & ~v_ok2
            names = {"total": f"__n_{tag}{i}", "ok": f"__ok_{tag}{i}",
                     "bad": f"__bad_{tag}{i}",
                     "has": [f"__has_{tag}{i}_{j}"
                             for j in range(len(existential))]}
            aggs.append(F.count(F.when(on_path, F.lit(1))).alias(names["total"]))
            aggs.append(F.count(F.when(on_path & count_ok, F.lit(1))).alias(names["ok"]))
            aggs.append(F.count(F.when(on_path & ~v_ok, F.lit(1))).alias(names["bad"]))
            for nm, ex in zip(names["has"], existential):
                hit = _value_match(ex.values[0], tc)
                aggs.append(F.count(F.when(on_path & hit, F.lit(1))).alias(nm))
            if pc.unique_lang:
                nl, ndl = f"__nlang_{tag}{i}", f"__ndlang_{tag}{i}"
                names["nlang"], names["ndlang"] = nl, ndl
                aggs.append(F.count(F.when(on_path & tc.lang.isNotNull(), F.lit(1))).alias(nl))
                aggs.append(F.countDistinct(
                    F.when(on_path & tc.lang.isNotNull(), F.lower(tc.lang))).alias(ndl))
            # per-value violations (qualified shapes report only their
            # count components, never per-value)
            path = F.lit(pc.path.describe())
            for j, (cj, c_ok) in enumerate(per_value):
                if lists is None or pc.qualified or self._is_transparent_ref(cj):
                    continue
                name = f"__viol_{tag}{i}_{j}"
                fail = on_path & ~c_ok

                def violation(value: Column) -> Column:
                    return _violation(
                        COMPONENT_NAMES.get(cj.kind, "NodeConstraintComponent"),
                        pc.severity, value, path, pc.message or shape.message)

                if pc.path.is_simple_pred:
                    aggs.append(F.collect_list(F.when(
                        fail, violation(F.col("obj_value")))).alias(name))
                    lists.append(F.col(name))
                else:
                    # a value term that several walks reach (pairs kept
                    # undeduplicated) reports once
                    aggs.append(F.collect_set(F.when(
                        fail, F.struct(*OBJ_COLS))).alias(name))
                    lists.append(F.transform(
                        F.col(name), lambda v: violation(v["obj_value"])))
            c_ok, c_fails = self._count_checks(shape, pc, names)
            oks.append(c_ok)
            fails += c_fails
        return oks, fails

    def _count_checks(self, shape: Shape, pc: PropertyConstraint,
                      names: dict) -> tuple[Column, list[Column]]:
        """One property constraint's verdict over its grouped counts
        ``names`` (total / ok / bad / has / nlang+ndlang), and its
        per-focus violations: cardinality, hasValue, uniqueLang."""
        card = F.col(names["ok"]) if (pc.qualified or pc.exclusive) \
            else F.col(names["total"])
        q = "Qualified" if pc.qualified else ""
        checks = []
        if pc.min_count > 0:
            checks.append((card >= pc.min_count,
                           q + "MinCountConstraintComponent"))
        if pc.max_count is not None:
            checks.append((card <= pc.max_count,
                           q + "MaxCountConstraintComponent"))
        checks += [(F.col(nm) >= 1, "HasValueConstraintComponent")
                   for nm in names["has"]]
        if "nlang" in names:
            checks.append((F.col(names["nlang"]) == F.col(names["ndlang"]),
                           "UniqueLangConstraintComponent"))
        ok = F.lit(True) if pc.qualified else (F.col(names["bad"]) == 0)
        for c, _ in checks:
            ok = ok & c
        path = F.lit(pc.path.describe())
        return ok, [F.when(~c, _violation(comp, pc.severity, F.lit(None), path,
                                          pc.message or shape.message))
                    for c, comp in checks]

    # -- group-cardinality blocks ----------------------------------------------

    def _block_check(self, shape: Shape, blk, b: int, tc: TermCols,
                     aggs: list[Column]) -> tuple[Column, Column]:
        """(verdict, violation) of the ``b``-th ( TC... ){m,n} block over
        the fused pass's grouped counts, whose conditional aggregates it
        appends to ``aggs``. Repetition count k:
          eachOf: every member consumes one arc per repetition ⇒ all
                  members' matching counts must be EQUAL (= k);
          oneOf:  each repetition consumes one arc of any member ⇒
                  k = sum of matching counts.
        Conformance: min ≤ k ≤ max and no non-matching arcs on member
        predicates (two-count semantics). shexTest 'skipped' (card `?`,
        zero arcs) passes through min=0, not a special case."""
        preds = [pc.path.iri for pc in blk.members]
        bad = F.lit(0)
        oks = []
        for i, pc in enumerate(blk.members):
            on_path = F.col("pred") == pc.path.iri
            v_ok = compile_expr(pc.node, tc)
            aggs.append(F.count(F.when(on_path & v_ok, F.lit(1)))
                        .alias(f"__gok_{b}_{i}"))
            aggs.append(F.count(F.when(on_path & ~v_ok, F.lit(1)))
                        .alias(f"__gbad_{b}_{i}"))
            bad = bad + F.col(f"__gbad_{b}_{i}")
            oks.append(F.col(f"__gok_{b}_{i}"))
        k = oks[0]
        ok = bad == 0
        for c in oks[1:]:
            if blk.kind == "oneOf":
                k = k + c
            else:  # eachOf: all member counts equal
                ok = ok & (c == oks[0])
        ok = ok & (k >= blk.min_count)
        if blk.max_count is not None:
            ok = ok & (k <= blk.max_count)
        return ok, _violation("GroupCardinalityConstraintComponent",
                              shape.severity, F.lit(None),
                              F.lit("|".join(preds)), shape.message)

    # -- repeated-predicate partition (RepeatAlts) -------------------------

    def _partition_check(self, shape: Shape, tc: TermCols,
                         aggs: list[Column]) -> tuple[Column, Column]:
        """(verdict, violation) under ShEx partition semantics
        for repeated predicates: the focus node's arcs over the
        mentioned predicates must be partitioned among the triple
        constraints of SOME OneOf alternative, each TC consuming a count
        within [min,max] (suite: PstarT / P2T2 / nPlus1 /
        false-lead-excluding-value-shape families).

        Its conditional aggregates are appended to ``aggs``, the fused
        pass's single groupBy, so it scales as that pass does.
        Feasibility per (alternative, predicate) is a transportation
        problem decided by the Gale–Hoffman subset conditions over arc
        classes:

          * none  = arcs satisfying NO member TC ⇒ must be 0 (every
            matchable arc is consumed; the predicate is mentioned);
          * for every nonempty subset S of the ≤ MAX_REPEAT_TCS member
            TCs: arcs satisfying ONLY TCs in S must fit under
            Σ max(S) (skipped when S has an unbounded member), and
            Σ min(S) must be coverable by arcs satisfying ANY TC in S.

        These conditions are necessary and sufficient for an exact
        partition (bipartite flow integrality), so this is the
        declarative/exhaustive reading of the spec — not the greedy
        strategy (trait:Greedy suite entries that encode greedy-only
        failures stay skipped)."""
        ra = shape.repeat_alts
        preds = list(ra.mentioned)
        for p_i, p in enumerate(preds):
            aggs.append(F.count(F.when(F.col("pred") == p, F.lit(1)))
                        .alias(f"__rp_n_{p_i}"))
        alt_by_pred: list[dict[str, list]] = []
        for j, alt in enumerate(ra.alts):
            by_pred: dict[str, list] = {}
            for pc in alt:
                by_pred.setdefault(pc.path.iri, []).append(pc)
            alt_by_pred.append(by_pred)
            for p, tcs in by_pred.items():
                p_i = preds.index(p)
                on_p = F.col("pred") == p
                # NULL-safe per-arc member satisfaction (a missed conf
                # join must read False, not NULL — a NULL leaking into
                # ~any_match would silently drop the arc from `none`)
                v_oks = [F.coalesce(compile_expr(pc.node, tc), F.lit(False))
                         for pc in tcs]
                any_match = v_oks[0]
                for v in v_oks[1:]:
                    any_match = any_match | v
                aggs.append(F.count(F.when(on_p & ~any_match, F.lit(1)))
                            .alias(f"__ra_{j}_{p_i}_none"))
                k = len(tcs)
                for s in range(1, 1 << k):
                    in_s = F.lit(False)
                    out_s = F.lit(False)
                    for b in range(k):
                        if s & (1 << b):
                            in_s = in_s | v_oks[b]
                        else:
                            out_s = out_s | v_oks[b]
                    aggs.append(
                        F.count(F.when(on_p & in_s, F.lit(1)))
                        .alias(f"__ra_{j}_{p_i}_reach_{s}"))
                    aggs.append(
                        F.count(F.when(on_p & any_match & ~out_s, F.lit(1)))
                        .alias(f"__ra_{j}_{p_i}_only_{s}"))

        feasible_any = F.lit(False)
        for j, by_pred in enumerate(alt_by_pred):
            cond = F.lit(True)
            for p_i, p in enumerate(preds):
                tcs = by_pred.get(p)
                if not tcs:
                    # alternative has no slot for this mentioned pred:
                    # any arc on it is an unmatched matchable
                    cond = cond & (F.col(f"__rp_n_{p_i}") == 0)
                    continue
                cond = cond & (F.col(f"__ra_{j}_{p_i}_none") == 0)
                k = len(tcs)
                for s in range(1, 1 << k):
                    members = [tcs[b] for b in range(k) if s & (1 << b)]
                    if all(pc.max_count is not None for pc in members):
                        cap = sum(pc.max_count for pc in members)
                        cond = cond & (
                            F.col(f"__ra_{j}_{p_i}_only_{s}") <= cap)
                    need = sum(pc.min_count for pc in members)
                    if need > 0:
                        cond = cond & (
                            F.col(f"__ra_{j}_{p_i}_reach_{s}") >= need)
            feasible_any = feasible_any | cond

        return feasible_any, _violation(
            "PartitionConstraintComponent", shape.severity, F.lit(None),
            F.lit("|".join(preds)), shape.message)

    # -- pairwise sibling-path constraints ------------------------------------

    def _pairwise_check(self, shape: Shape, pc: PropertyConstraint, i: int,
                        aggs: list[Column], tokens: dict[Path, str]) -> Column:
        """The violations of the ``i``-th pairwise constraint ``pc``
        (equals / disjoint / lessThan(OrEquals)) on the grouped row:
        two aggregates appended to ``aggs`` collect the value terms
        (key, value, datatype) of pc's path and of its sibling
        predicate, and higher-order functions pair them up (SURVEY.md
        §2.5 rows). As in _property_checks, a predicate's duplicate
        arcs each report and a complex path's values report as a set.
        The constraint holds iff the array is empty."""
        def side(pred: str, name: str, collect) -> Column:
            aggs.append(collect(F.when(F.col("pred") == pred, F.struct(
                node_key_col(*[F.col(c) for c in OBJ_COLS]).alias("k"),
                F.col("obj_value").alias("v"), F.col("obj_dt").alias("dt"))))
                .alias(name))
            return F.col(name)

        a = side(tokens.get(pc.path, pc.path.iri), f"__pw_a_{i}",
                 F.collect_list if pc.path.is_simple_pred else F.collect_set)
        b = side(_sibling(pc), f"__pw_b_{i}", F.collect_list)
        comp = ("EqualsConstraintComponent" if pc.equals
                else "DisjointConstraintComponent" if pc.disjoint
                else "LessThanConstraintComponent" if pc.less_than
                else "LessThanOrEqualsConstraintComponent")

        def violation(x: Column) -> Column:
            return _violation(comp, pc.severity, x["v"],
                              F.lit(pc.path.describe()),
                              pc.message or shape.message)

        def unmatched(xs: Column, ys: Column) -> Column:
            return F.filter(xs, lambda x: ~F.exists(
                ys, lambda y: y["k"] == x["k"]))

        if pc.equals:  # each value whose term the other side lacks
            return F.transform(F.concat(unmatched(a, b), unmatched(b, a)),
                               violation)
        if pc.disjoint:  # each value once per sibling value of its term
            def clash(x: Column, y: Column) -> Column:
                return y["k"] == x["k"]
        else:  # each value once per sibling value it is not below
            def clash(x: Column, y: Column) -> Column:
                xv = _numeric_value(x["v"], x["dt"])
                yv = _numeric_value(y["v"], y["dt"])
                return ~F.coalesce(xv < yv if pc.less_than else xv <= yv,
                                   F.lit(False))
        return F.flatten(F.transform(a, lambda x: F.transform(
            F.filter(b, lambda y: clash(x, y)), lambda _: violation(x))))

    # -- public entry ---------------------------------------------------------

    def _run_fixpoint(self, scc: list[str], rows: dict, conf: dict,
                      start: bool) -> None:
        """Iterate a recursive SCC to a fixpoint from the given start
        value, mutating conf[lbl] for the SCC's labels in place.
        start=True  → GREATEST fixpoint (co-inductive, Unknown-as-ok —
                      ShapesMap.scala:19-23);
        start=False → LEAST fixpoint (inductive). Where the two
        disagree, the pair's status is genuinely Unknown (Val.scala's
        4-valued lattice: decided only by the starting assumption). An
        SCC whose counts still change after MAX_FIXPOINT_ROUNDS rounds
        raises fixpoint.FixpointError."""
        def cut_count(lbl: str, c: DataFrame) -> int:
            # one action: the count of conforming rows materializes the
            # cut it reads
            conf[lbl] = cut(c)
            return conf[lbl].filter("conforms").count()

        # Convergence detection by per-label conforms COUNTS is sound
        # only because negated reference cycles are rejected up front
        # (SchemaDict.check_well_formed): within an SCC every operator
        # is then monotone, so each label's conforming set shrinks
        # (greatest fixpoint) or grows (least) monotonically between
        # rounds — equal cardinality implies an equal set, never an
        # equal-sized swap.
        prev_counts = {lbl: cut_count(lbl, rows[lbl].cand.withColumn(
            "conforms", F.lit(start))) for lbl in scc}
        for _ in range(MAX_FIXPOINT_ROUNDS):
            changed = False
            for lbl in scc:
                n = cut_count(lbl, self._eval_grouped(
                    self.schema.shapes[lbl], rows[lbl], conf))
                if n != prev_counts[lbl]:
                    prev_counts[lbl] = n
                    changed = True
            if not changed:
                return
        raise FixpointError(
            f"shapes {scc} did not converge within {MAX_FIXPOINT_ROUNDS} "
            f"rounds")

    def validate(self, focus: DataFrame | None = None,
                 full_terms: bool = False,
                 with_status: bool = False) -> ValidationResult:
        """The shape relations of the (node, shape) pairs the trigger
        selects, read as conformance and report (ValidationResult). The
        trigger decides only WHICH pairs are checked: every shape runs
        the same evaluators over focus-marker rows keyed by the full
        term (see FocusRows), whatever their source.

        ``focus=None`` validates the schema's own target declarations.
        For ref-free schemas each shape then reads its marker rows
        straight from its targets, and no target_focus relation is
        built; schemas with shape refs seed candidate propagation with
        it and keep its pairs. A ``focus`` relation (node,
        shape[, node_kind, node_dt, node_lang]) — a shape map, a
        filtered target selection — is the candidate relation instead.

        full_terms=True adds node_kind/node_dt/node_lang columns to
        the relation — needed when literal focus terms can
        share a lexical value but differ in datatype/language (the ShEx
        suite's "ab"^^dt1 vs "ab"^^dt2 entries).

        with_status=True adds a 4-valued ``status`` column
        (conformant | nonconformant | unknown — Val.scala:3-45): for
        recursive SCCs the engine then ALSO runs the least fixpoint,
        and pairs whose verdict differs between the greatest and least
        fixpoints (i.e. decided only by the co-inductive starting
        assumption) surface as 'unknown' instead of silently adopting
        the co-inductive answer. The boolean ``conforms`` stays the
        greatest-fixpoint verdict for backward compatibility."""
        focus_df = focus

        def _focus() -> DataFrame:
            nonlocal focus_df
            if focus_df is None:
                focus_df = target_focus(self.spark, self.schema,
                                        self.graph)
            return focus_df

        referenced = {dst for _, dst, _ in self._ref_edges()}
        ref_free = not referenced
        if ref_free and focus is None:
            rows = {lbl: FocusRows(targets=sh.targets)
                    for lbl, sh in self.schema.shapes.items()}
        elif ref_free:
            # no shape references: every candidate comes straight from
            # the focus relation, so ONE shared cache over the focus
            # candidates replaces k per-shape caches — the focus
            # sub-plan materializes once instead of once per shape, and
            # each shape's candidate set is a filter over the cache.
            base = self._maybe_persist(focus_to_candidates(focus))
            rows = {lbl: FocusRows(cand=base.filter(F.col("shape") == lbl)
                                   .drop("shape"))
                    for lbl in self.schema.shapes}
        else:
            # candidate sets are reused by every sub-plan of a shape
            # (the arc scan's semi-join, the marker rows, complex
            # paths): persist lazily so each materializes at most once.
            rows = {lbl: FocusRows(cand=self._maybe_persist(c))
                    for lbl, c in self._propagate_candidates(_focus()).items()}
        conf: dict[str, DataFrame] = {}
        lfp_conf: dict[str, DataFrame] = {}  # per-label least-fixpoint verdicts

        for scc in self.schema.strata():
            if not self.schema.is_recursive(scc):
                lbl = scc[0]
                c = self._eval_grouped(self.schema.shapes[lbl], rows[lbl],
                                         conf)
                if not ref_free:
                    c = self._maybe_flatten(c)
                if lbl in referenced:
                    # lazy persist: materialized on first action, reused
                    # by every ref join — no eager driver-side job per
                    # shape (an unreferenced shape's relation is read
                    # once, so a conformance-only read prunes its
                    # violations)
                    c = self._maybe_persist(c)
                conf[lbl] = c
            else:
                if with_status:
                    # least fixpoint first (into a scratch dict seeded
                    # with the dependencies' final verdicts)
                    scratch = dict(conf)
                    self._run_fixpoint(scc, rows, scratch, start=False)
                    for lbl in scc:
                        lfp_conf[lbl] = scratch[lbl]
                self._run_fixpoint(scc, rows, conf, start=True)

        extra_cols = ([F.col("f_kind").alias("node_kind"),
                       F.col("f_dt").alias("node_dt"),
                       F.col("f_lang").alias("node_lang")]
                      if full_terms else [])
        pieces: dict[str, DataFrame] = {}
        for lbl, c in conf.items():
            status_cols = []
            if with_status:
                if lbl in lfp_conf:
                    lfp = lfp_conf[lbl].select(
                        KEY, F.col("conforms").alias("__lfp"))
                    c = c.join(lfp, on=KEY, how="left")
                    status_cols = [
                        F.when(~F.col("conforms"), F.lit("nonconformant"))
                        .when(F.coalesce(F.col("__lfp"), F.lit(False)),
                              F.lit("conformant"))
                        .otherwise(F.lit("unknown")).alias("status")]
                else:
                    status_cols = [
                        F.when(F.col("conforms"), F.lit("conformant"))
                        .otherwise(F.lit("nonconformant")).alias("status")]
            pieces[lbl] = c.select(
                F.col("f_value").alias("node"),
                F.lit(lbl).alias("shape"),
                F.col("conforms"),
                *extra_cols,
                *status_cols,
                "violations",
            )
        relation = None
        for piece in pieces.values():
            relation = piece if relation is None else relation.unionByName(piece)
        if ref_free:
            # the rows ARE the focus split per shape: every row is
            # asked, and no join recomputes the focus sub-plan
            return ValidationResult(relation.withColumn("asked", F.lit(True)))
        # ref schemas propagate candidates BEYOND the focus (values
        # reachable via shape refs get their own rows); keep the
        # asked-for pairs, plus everything a TRANSPARENT (nested
        # sh:property) shape found on derived candidates — opaque ref
        # targets report only via the parent's NodeConstraintComponent
        # (SHACL sh:node vs sh:property split). Each row is kept once.
        focus_pairs = (_focus().select("node", "shape").distinct()
                       .withColumn("asked", F.lit(True)))
        transparent = [lbl for lbl, sh in self.schema.shapes.items()
                       if sh.transparent]
        relation = (relation.join(focus_pairs, on=["node", "shape"],
                                  how="left")
                    .withColumn("asked", F.coalesce("asked", F.lit(False)))
                    .filter(F.col("asked")
                            | F.col("shape").isin(transparent)))
        return ValidationResult(relation)

