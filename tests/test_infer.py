"""Schema-inference tests incl. followOn expansion (SURVEY.md §2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shaclex_spark.infer import infer_schema, infer_shape, inferred_to_shape_json

from conftest import triples_df

EX = "http://example.org/"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
XSD_STR = "http://www.w3.org/2001/XMLSchema#string"


def test_infer_lattice_and_cardinality(spark, scope):
    rows = [
        (EX + "a", EX + "name", "literal", "A", XSD_STR, None),
        (EX + "b", EX + "name", "literal", "B", XSD_STR, None),
        (EX + "a", EX + "age", "literal", "1", XSD_INT, None),
        (EX + "a", EX + "age", "literal", "2", XSD_INT, None),   # 2 ages
        (EX + "a", EX + "friend", "iri", EX + "b", None, None),  # only a
        (EX + "b", EX + "mixed", "iri", EX + "x", None, None),
        (EX + "b", EX + "mixed", "literal", "x", XSD_STR, None),
    ]
    t = triples_df(spark, rows)
    focus = spark.createDataFrame([(EX + "a",), (EX + "b",)], "node string")
    prof = {r.pred: r
            for r in infer_shape(t, focus, "S", scope=scope).collect()}
    assert prof[EX + "name"].constraint == XSD_STR
    assert (prof[EX + "name"].min_card, prof[EX + "name"].max_card) == (1, "1")
    assert prof[EX + "age"].max_card == "*"       # a has 2
    assert prof[EX + "friend"].min_card == 0       # b lacks it
    assert prof[EX + "friend"].constraint == "IRI"
    assert prof[EX + "mixed"].constraint == "Any"
    js = inferred_to_shape_json(
        [r.asDict()
         for r in infer_shape(t, focus, "S", scope=scope).collect()], "S")
    assert js["label"] == "S"
    assert any(c["path"] == EX + "name" and c.get("maxCount") == 1
               for c in js["constraints"])


def test_infer_follow_on(spark, scope):
    rows = [
        (EX + "a", EX + "derivedFrom", "iri", EX + "src1", None, None),
        (EX + "b", EX + "derivedFrom", "iri", EX + "src2", None, None),
        (EX + "src1", EX + "url", "literal", "u1", XSD_STR, None),
        (EX + "src2", EX + "url", "literal", "u2", XSD_STR, None),
    ]
    t = triples_df(spark, rows)
    focus = spark.createDataFrame([(EX + "a",), (EX + "b",)], "node string")
    prof = infer_schema(t, focus, "Doc",
                        follow_on=[("derivedFrom$", "SourceShape")],
                        scope=scope)
    rows_out = prof.collect()
    by_shape = {}
    for r in rows_out:
        by_shape.setdefault(r.shape, {})[r.pred] = r
    assert by_shape["Doc"][EX + "derivedFrom"].constraint == "@SourceShape"
    assert by_shape["SourceShape"][EX + "url"].constraint == XSD_STR


def test_infer_label_decoration(spark, scope):
    """rdfs:label decoration (InferredShape.scala:74-85, getLabel
    :108-125): the predicate IRI's rdfs:label in the requested
    language becomes an annotation; other languages are skipped."""
    RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
    LS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    rows = [
        (EX + "a", EX + "name", "literal", "A", XSD_STR, None),
        (EX + "a", EX + "age", "literal", "3", XSD_INT, None),
        (EX + "name", RDFS_LABEL, "literal", "nom", LS, "fr"),
        (EX + "name", RDFS_LABEL, "literal", "name", LS, "en"),
    ]
    t = triples_df(spark, rows)
    focus = spark.createDataFrame([(EX + "a",)], "node string")
    dec = infer_schema(t, focus, "S", add_label_lang="en",
                       scope=scope).collect()
    by_pred = {r.pred: r for r in dec}
    assert by_pred[EX + "name"].label == "name"          # en, not fr
    assert by_pred[EX + "age"].label is None             # unlabeled pred
    js = inferred_to_shape_json([r.asDict() for r in dec], "S")
    ann = [c for c in js["constraints"] if c["path"] == EX + "name"][0]
    assert ann["annotations"] == [
        {"predicate": RDFS_LABEL, "object": "name"}]


def _profiles(rows_out) -> set[tuple]:
    return {(r.shape, r.pred.rsplit("/", 1)[-1], r.n_nodes)
            for r in rows_out}


def test_infer_follow_on_two_rules_two_hops(spark, scope):
    """Each (hop, rule) is profiled once. x is reached by both rules in
    hop 1 and goes to the earlier one; s2 is two hops out, so
    max_follow_on=1 leaves it unprofiled."""
    rows = [
        (EX + "a", EX + "derivedFrom", "iri", EX + "s1", None, None),
        (EX + "a", EX + "derivedFrom", "iri", EX + "x", None, None),
        (EX + "a", EX + "citedBy", "iri", EX + "c1", None, None),
        (EX + "a", EX + "citedBy", "iri", EX + "x", None, None),
        (EX + "s1", EX + "derivedFrom", "iri", EX + "s2", None, None),
        (EX + "x", EX + "tag", "literal", "t", XSD_STR, None),
        (EX + "s2", EX + "url", "literal", "u", XSD_STR, None),
        (EX + "c1", EX + "url", "literal", "v", XSD_STR, None),
    ]
    t = triples_df(spark, rows)
    focus = spark.createDataFrame([(EX + "a",)], "node string")
    rules = [("derivedFrom$", "SourceShape"), ("citedBy$", "CiteShape")]
    hop1 = {("Doc", "derivedFrom", 1), ("Doc", "citedBy", 1),
            ("SourceShape", "derivedFrom", 1), ("SourceShape", "tag", 1),
            ("CiteShape", "url", 1)}
    got = _profiles(infer_schema(t, focus, "Doc", follow_on=rules,
                                 scope=scope).collect())
    assert got == hop1
    got = _profiles(infer_schema(t, focus, "Doc", follow_on=rules,
                                 max_follow_on=2, scope=scope).collect())
    assert got == hop1 | {("SourceShape", "url", 1)}


def test_infer_follow_on_ref_names_the_profiling_rule(spark, scope):
    """Two rules match derivedFrom: the parent's ref and the profile of
    its objects both follow the earlier one."""
    rows = [
        (EX + "a", EX + "derivedFrom", "iri", EX + "s1", None, None),
        (EX + "s1", EX + "url", "literal", "u", XSD_STR, None),
    ]
    t = triples_df(spark, rows)
    focus = spark.createDataFrame([(EX + "a",)], "node string")
    prof = infer_schema(t, focus, "Doc",
                        follow_on=[("derivedFrom$", "SourceShape"),
                                   ("From$", "FromShape")],
                        scope=scope).collect()
    assert {(r.shape, r.constraint) for r in prof} == {
        ("Doc", "@SourceShape"), ("SourceShape", XSD_STR)}
