"""Validation triggers: compile targets / shape maps into the focus DF.

Reference semantics: SURVEY.md §2.2 —
TargetDeclarations trigger (/root/reference/modules/schema/src/main/
scala/es/weso/schema/ValidationTrigger.scala:22-28) unions the four
SHACL target kinds (Shacl2ShEx.scala:62-68); ShapeMapTrigger resolves
node selectors against the data, the `fixShapeMap` step
(ShExSchema.scala:52-60). Every selector compiles to a filter/project
on the triples DF — the fix IS the compilation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .model import FOCUS_SCHEMA, RDF_TYPE
from .paths import node_kind
from .shapes import SchemaDict, Target


def _subject_rows(df: DataFrame, col: str) -> DataFrame:
    """Node-id column → focus-term rows; the kind follows the '_:'
    bnode prefix convention."""
    c = F.col(col)
    null_s = F.lit(None).cast("string")
    return df.select(node_kind(c).alias("f_kind"), c.alias("f_value"),
                     null_s.alias("f_dt"), null_s.alias("f_lang"))


def _assoc(rows: DataFrame, shape: str, selector: str) -> DataFrame:
    """Focus-term rows → FOCUS_SCHEMA rows of one association."""
    return rows.select(F.col("f_value").alias("node"),
                       F.lit(shape).alias("shape"),
                       F.lit(selector).alias("selector"),
                       F.col("f_kind").alias("node_kind"),
                       F.col("f_dt").alias("node_dt"),
                       F.col("f_lang").alias("node_lang"))


def _mk(df: DataFrame, shape: str, selector: str) -> DataFrame:
    return _assoc(_subject_rows(df, df.columns[0]), shape, selector)


def target_rows(triples: DataFrame, tgt: Target,
                membership: DataFrame | None = None) -> DataFrame:
    """One target declaration's focus terms as (f_kind, f_value, f_dt,
    f_lang) rows — one pred-filter projection, NOT deduplicated.
    ``membership`` is the (inst, cls) class-membership relation
    targetClass selects from; None reads the rdf:type arcs directly,
    which is exact for a graph without rdfs:subClassOf arcs.

    Shared by target_focus (which dedupes the union) and the
    validation engine's target-driven focus markers (whose grouped
    is-focus flag dedupes for free)."""
    if tgt.kind == "targetNode":
        # target may be any RDF term (literal targets in the W3C
        # corpus): carry the full term identity
        term_kind = "bnode" if tgt.value.startswith("_:") else tgt.term_kind
        return triples.sparkSession.createDataFrame(
            [(term_kind, tgt.value, tgt.dt, tgt.lang)],
            "f_kind string, f_value string, f_dt string, f_lang string")
    if tgt.kind == "targetClass":
        if membership is None:
            return _subject_rows(
                triples.filter((F.col("pred") == RDF_TYPE)
                               & (F.col("obj_kind") == "iri")
                               & (F.col("obj_value") == tgt.value)), "subj")
        return _subject_rows(
            membership.filter(F.col("cls") == tgt.value), "inst")
    if tgt.kind == "targetSubjectsOf":
        return _subject_rows(
            triples.filter(F.col("pred") == tgt.value), "subj")
    if tgt.kind == "targetObjectsOf":
        # objects may be literal terms: carry full term identity
        return (triples.filter(F.col("pred") == tgt.value)
                .select(F.col("obj_kind").alias("f_kind"),
                        F.col("obj_value").alias("f_value"),
                        F.col("obj_dt").alias("f_dt"),
                        F.col("obj_lang").alias("f_lang")))
    raise ValueError(f"unknown target kind {tgt.kind}")


def target_focus(spark: SparkSession, schema: SchemaDict,
                 triples) -> DataFrame:
    """TargetDeclarations: union of per-shape target selections.
    ``triples``: a DataFrame or a validation.Graph, whose class
    membership targetClass selects from."""
    from .validation import Graph

    graph = Graph.of(triples)
    pieces: list[DataFrame] = []
    for lbl, sh in schema.shapes.items():
        for t in sh.targets:
            # targetClass includes instances of rdfs:subClassOf* subclasses
            membership = graph.membership if t.kind == "targetClass" else None
            pieces.append(_assoc(target_rows(graph.triples, t, membership),
                                 lbl, t.kind))
    if not pieces:
        return spark.createDataFrame([], FOCUS_SCHEMA)
    # no per-branch distinct: the single final distinct() dedupes the
    # whole union in ONE exchange (its partial aggregate dedupes
    # map-side), where per-branch distincts cost one exchange each
    # (serial stage latency on the conformance job's critical path)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.distinct()


def parse_shape_map(text: str, prefixes: dict[str, str]) -> list[dict]:
    """Compact shape map → shape_map_focus associations
    (doc/grammars/shapeMapGrammar.bnf:19-31): `<n>@<S>`, `pfx:n@<S>`,
    `{FOCUS p _}@S`, `{_ p FOCUS}@S`. ``prefixes``: the schema's, as
    shexc2j.parse_shexc returns them."""

    def resolve(tok: str) -> str:
        tok = tok.strip()
        if tok.startswith("<"):
            return tok[1:-1]
        pfx, local = tok.split(":", 1)
        return prefixes[pfx] + local

    out = []
    for part in re.split(r",(?![^{]*\})", text):
        part = part.strip()
        if not part:
            continue
        m = re.fullmatch(r"\{\s*(FOCUS|_)\s+(\S+)\s+(FOCUS|_)\s*\}@(\S+)", part)
        if m:
            key = ("focusSubjectsOf" if m.group(1) == "FOCUS"
                   else "focusObjectsOf")
            out.append({key: resolve(m.group(2)),
                        "shape": resolve(m.group(4))})
            continue
        m = re.fullmatch(r"(\S+)@(\S+)", part)
        if not m:
            raise ValueError(f"bad shape-map association: {part!r}")
        out.append({"node": resolve(m.group(1)),
                    "shape": resolve(m.group(2))})
    return out


def shape_map_focus(spark: SparkSession, triples: DataFrame,
                    associations: list[dict]) -> DataFrame:
    """Explicit shape map: list of {selector, shape} associations.

    selector forms (grammar: /root/reference/doc/grammars/shapeMapGrammar.bnf:19-31):
      {"node": "<iri>"}                          — single node
      {"focusSubjectsOf": "<pred>"}              — {FOCUS p _}
      {"focusObjectsOf": "<pred>"}               — {_ p FOCUS}
      {"sparql"/"sql": "SELECT ... AS node"}     — arbitrary spark.sql
    """
    pieces: list[DataFrame] = []
    for assoc in associations:
        shape = assoc["shape"]
        if "node" in assoc:
            pieces.append(_mk(spark.createDataFrame([(assoc["node"],)], "node string"),
                              shape, "node"))
        elif "focusSubjectsOf" in assoc:
            sel = (triples.filter(F.col("pred") == assoc["focusSubjectsOf"])
                   .select("subj"))  # final distinct() dedupes the union
            pieces.append(_mk(sel, shape, "pattern"))
        elif "focusObjectsOf" in assoc:
            sel = (triples.filter(F.col("pred") == assoc["focusObjectsOf"])
                   .select("obj_value"))
            pieces.append(_mk(sel, shape, "pattern"))
        elif "sql" in assoc or "sparql" in assoc:
            sel = spark.sql(assoc.get("sql") or assoc["sparql"])
            pieces.append(_mk(sel, shape, "sparql"))
        else:
            raise ValueError(f"unknown selector in {assoc}")
    if not pieces:
        return spark.createDataFrame([], FOCUS_SCHEMA)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.distinct()
