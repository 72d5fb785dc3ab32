"""Round-2 regression tests for the judge/advisor findings:

1. _value_match NULL leak (ADVICE high): a plain literal must NOT
   satisfy sh:in with a lang-tagged member — NULL from `lower(NULL)`
   used to coalesce into conforms=True and drop the report row.
2. ShEx OneOf non-simple-path members (ADVICE high): an inverse TC
   inside a group used to be silently ignored; a group with ONLY
   non-simple paths used to crash with an empty-aggregate error.
3. sh:class literal cross-match (ADVICE low): a literal whose lexical
   form equals an instance IRI must not satisfy sh:class.
4. Connected components is real large-star/small-star (VERDICT #3):
   a long chain converges in O(log n) rounds, not O(diameter).
5. LSH hot-bucket cap (VERDICT #5): a degenerate corpus (identical
   empty docs) completes with a bounded candidate count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shaclex_spark.model import RDF_TYPE, XSD_STRING
from shaclex_spark.shapes import SchemaDict
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, pair_digest, triples_df

EX = "http://example.org/"
LANGSTR = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def run(spark, rows, shapes, focus_rows):
    t = triples_df(spark, rows)
    schema = SchemaDict.from_json(shapes)
    engine = ValidationEngine(spark, schema, t)
    res = engine.validate(focus_df(spark, focus_rows))
    conf = {(r["node"], r["shape"]): r["conforms"]
            for r in res.conformance.collect()}
    report = res.report.collect()
    return conf, report


# ---------------------------------------------------------------- 1. NULL leak

def test_plain_literal_fails_lang_tagged_in(spark):
    """Property position: "foo" (plain) vs sh:in ("foo"@en)."""
    rows = [
        (EX + "a", EX + "p", "literal", "foo", XSD_STRING, None),
        (EX + "b", EX + "p", "literal", "foo", LANGSTR, "en"),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "p",
            "node": {"kind": "in", "values": [
                {"kind": "literal", "value": "foo", "lang": "en"}]},
        }],
    }]
    conf, report = run(spark, rows, shapes, [(EX + "a", "S"), (EX + "b", "S")])
    assert conf[(EX + "a", "S")] is False   # plain literal ≠ "foo"@en
    assert conf[(EX + "b", "S")] is True
    assert any(r.focus_node == EX + "a" and r.component == "InConstraintComponent"
               for r in report)


def test_lang_literal_fails_plain_in(spark):
    """Converse: "foo"@en must not match sh:in ("foo") (xsd:string)."""
    rows = [
        (EX + "a", EX + "p", "literal", "foo", LANGSTR, "en"),
        (EX + "b", EX + "p", "literal", "foo", XSD_STRING, None),
        # NULL-dt literal = RDF 1.1 simple literal = xsd:string: matches
        (EX + "c", EX + "p", "literal", "foo", None, None),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "p",
            "node": {"kind": "in", "values": [
                {"kind": "literal", "value": "foo"}]},
        }],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + n, "S") for n in ("a", "b", "c")])
    assert conf[(EX + "a", "S")] is False
    assert conf[(EX + "b", "S")] is True
    assert conf[(EX + "c", "S")] is True


def test_null_dt_literal_datatype_string(spark):
    """NULL-dt literal satisfies sh:datatype xsd:string (RDF 1.1) and
    never leaks NULL into conformance."""
    rows = [(EX + "a", EX + "p", "literal", "v", None, None)]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "p",
                         "node": {"kind": "datatype", "iri": XSD_STRING}}],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "a", "S")])
    assert conf[(EX + "a", "S")] is True


# ------------------------------------------------------------ 2. OneOf paths

def test_oneof_inverse_tc_enforced(spark):
    """A OneOf group containing an inverse TC must require the ^q arc:
    a node with only the forward half of the group must NOT conform."""
    rows = [
        # good: has p-arc AND incoming q-arc → group 1 matches
        (EX + "good", EX + "p", "literal", "x", XSD_STRING, None),
        (EX + "z", EX + "q", "iri", EX + "good", None, None),
        # bad: has p-arc but NO incoming q-arc → group 1 must fail;
        # group 2 (r-arc) also absent → nonconforming
        (EX + "bad", EX + "p", "literal", "x", XSD_STRING, None),
        # alt: matches group 2 only
        (EX + "alt", EX + "r", "literal", "y", XSD_STRING, None),
    ]
    shapes = [{
        "label": "S",
        "oneOf": [
            [  # group 1: p AND ^q
                {"path": EX + "p", "minCount": 1, "exclusive": True},
                {"path": {"kind": "inverse", "iri": EX + "q"},
                 "minCount": 1, "exclusive": True},
            ],
            [  # group 2: r
                {"path": EX + "r", "minCount": 1, "exclusive": True},
            ],
        ],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + n, "S") for n in ("good", "bad", "alt")])
    assert conf[(EX + "good", "S")] is True
    assert conf[(EX + "bad", "S")] is False
    assert conf[(EX + "alt", "S")] is True


def test_oneof_group_only_complex_paths(spark):
    """A group whose members are ALL non-simple paths must evaluate
    (used to crash with an empty-aggregates groupBy)."""
    rows = [
        (EX + "z", EX + "q", "iri", EX + "good", None, None),
        (EX + "bad", EX + "p", "literal", "x", XSD_STRING, None),
    ]
    shapes = [{
        "label": "S",
        "oneOf": [
            [{"path": {"kind": "inverse", "iri": EX + "q"}, "minCount": 1}],
        ],
    }]
    conf, _ = run(spark, rows, shapes,
                  [(EX + "good", "S"), (EX + "bad", "S")])
    assert conf[(EX + "good", "S")] is True
    assert conf[(EX + "bad", "S")] is False


# ------------------------------------------------------- 3. class cross-match

def test_literal_never_satisfies_class(spark):
    """A literal whose lexical form equals an instance IRI must not
    cross-match sh:class through the value-only join key."""
    rows = [
        (EX + "inst", RDF_TYPE, "iri", EX + "C", None, None),
        # object is a LITERAL with the instance's IRI as lexical form
        (EX + "a", EX + "p", "literal", EX + "inst", XSD_STRING, None),
        # object is the actual IRI
        (EX + "b", EX + "p", "iri", EX + "inst", None, None),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{"path": EX + "p",
                         "node": {"kind": "class", "iri": EX + "C"}}],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "a", "S"), (EX + "b", "S")])
    assert conf[(EX + "a", "S")] is False
    assert conf[(EX + "b", "S")] is True


# --------------------------------------------------- 4. connected components

def test_cc_chain_logarithmic_rounds(spark):
    """64-node chain: naive min-label propagation needs ~63 rounds;
    large-star/small-star must converge in O(log n) — assert ≤ 12 and
    that the single component labels to the global min."""
    from shaclex_spark.linking import connected_components

    n = 64
    ids = [f"m{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "a string, b string")
    vertices = spark.createDataFrame([(i,) for i in ids], "mention string")
    # driver_threshold=0 forces the DISTRIBUTED star-contraction path
    # (small graphs normally take the driver union-find fast path)
    labels, rounds = connected_components(edges, vertices,
                                          return_rounds=True,
                                          driver_threshold=0)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert set(got.values()) == {"m000"}
    assert len(got) == n
    assert rounds <= 12, f"CC took {rounds} rounds on a 64-chain"


def test_cc_two_components_and_isolated(spark):
    from shaclex_spark.linking import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "z")], "a string, b string")
    vertices = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("y",), ("z",), ("lone",)],
        "mention string")
    labels = connected_components(edges, vertices)
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "y": "y", "z": "y", "lone": "lone"}


# ------------------------------------------------------- 5. hot-bucket cap

def test_lsh_hot_bucket_cap_degenerate_corpus(spark):
    """1000 identical docs put the whole corpus into one bucket per
    band; with a cap the candidate set is bounded (here: empty), and
    the job completes without a quadratic pair explosion."""
    from shaclex_spark.functions.dedup import lsh_candidates

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text").alias("text"))
    capped = lsh_candidates(docs, "doc_id", "text", n_bands=4,
                            rows_per_band=2, max_bucket_size=50)
    assert capped.count() == 0
    # uncapped sanity on a tiny slice: identical docs DO pair up
    uncapped = lsh_candidates(docs.limit(5), "doc_id", "text", n_bands=4,
                              rows_per_band=2, max_bucket_size=None)
    assert uncapped.count() == 10  # C(5,2)


# Expected (count, sha256) pairs were taken from lsh_candidates as it
# stood before the linking and dedup blockers became one (lsh_pairs).
@pytest.mark.parametrize("kw, want", [
    ({"max_bucket_size": 50},
     (655, "3f3a119e3e5db4ab1e7f41efc458cd65"
           "154f89dbda797067353cf7f4c99bbda8")),
    ({"max_bucket_size": None},
     (3815, "e7dd726765eed470b755bb7d8f06c166"
            "14bf3717848985173697a75a1729aec3")),
    ({"max_bucket_size": 50, "salt_hot_buckets": True},
     (3601, "f76532b773fd55019df8299ad6b9f347"
            "7d9fcd2c81c4c39faca1cefe48d9edd9")),
], ids=["cap50-drop", "uncapped", "cap50-salt"])
def test_lsh_candidates_pinned(spark, kw, want):
    """80 identical boilerplate docs (one hot bucket per band) and 40
    rotations of an 8-word vocabulary, half with an extra token."""
    from shaclex_spark.functions.dedup import lsh_candidates

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel"]
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text") for i in range(80)]
        + [(100 + i, " ".join(words[(i + j) % 8] for j in range(6))
            + (" x" if i % 2 else "")) for i in range(40)],
        "doc_id long, text string")
    got = lsh_candidates(docs, "doc_id", "text", n_bands=4, rows_per_band=2,
                         **kw)
    assert pair_digest(got) == want


def test_cap_buckets_drops_only_hot(spark):
    from shaclex_spark.linking import _cap_buckets

    rows = ([(f"m{i}", 0, 111) for i in range(200)]     # hot bucket
            + [("a", 1, 222), ("b", 1, 222)])            # small bucket
    bands = spark.createDataFrame(rows, "m string, band int, bucket long")
    kept = _cap_buckets(bands, max_bucket_size=20)
    got = {(r.m, r.band) for r in kept.collect()}
    assert got == {("a", 1), ("b", 1)}


def test_linking_still_links_with_cap(spark):
    """End-to-end: similar mentions still merge under the default cap."""
    from shaclex_spark.linking import candidate_pairs, jaccard_verify

    mentions = spark.createDataFrame(
        [("Alice Smith",), ("Alice Smith.",), ("Bob Jones",)],
        "mention string")
    pairs = candidate_pairs(mentions)
    edges = jaccard_verify(pairs, threshold=0.4)
    got = {tuple(sorted((r.a, r.b))) for r in edges.collect()}
    assert ("Alice Smith", "Alice Smith.") in got


# ------------------------------------------------- 6. 4-valued statuses

def test_unknown_status_on_recursive_cycle(spark):
    """S = { p @S } over a data cycle a→b→a: the greatest fixpoint says
    conformant, the least says not — the pair is genuinely Unknown
    (Val.scala's 4-valued lattice) and must surface as such, while a
    finite chain ending in a violation stays determined."""
    from shaclex_spark.report import result_shape_map_compact

    rows = [
        (EX + "a", EX + "p", "iri", EX + "b", None, None),
        (EX + "b", EX + "p", "iri", EX + "a", None, None),
        # finite chain: e has no p at all -> false; d, c follow
        (EX + "c", EX + "p", "iri", EX + "d", None, None),
        (EX + "d", EX + "p", "iri", EX + "e", None, None),
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "p", "minCount": 1, "maxCount": 1,
            "exclusive": True,
            "node": {"kind": "ref", "label": "S"},
        }],
    }]
    from shaclex_spark.shapes import SchemaDict
    from shaclex_spark.validation import ValidationEngine
    from conftest import focus_df, triples_df

    t = triples_df(spark, rows)
    engine = ValidationEngine(spark, SchemaDict.from_json(shapes), t)
    focus = focus_df(spark, [(EX + n, "S") for n in "abcde"])
    res = engine.validate(focus, with_status=True)
    st = {r["node"]: (r["conforms"], r["status"])
          for r in res.conformance.collect()}
    assert st[EX + "a"] == (True, "unknown")
    assert st[EX + "b"] == (True, "unknown")
    assert st[EX + "c"] == (False, "nonconformant")
    assert st[EX + "d"] == (False, "nonconformant")
    assert st[EX + "e"] == (False, "nonconformant")
    compact = result_shape_map_compact(res.conformance)
    assert f"<{EX}a>@?S" in compact
    assert f"<{EX}c>@!S" in compact


# ---------------------------------------------- 7. SQL node selector

def test_sql_node_selector(spark):
    """The shape map's spark.sql selector (the SPARQL-selector
    equivalent — ValidationTrigger's SPARQL node selector re-expressed
    over the triples view) feeds validation like any other selector."""
    from shaclex_spark.triggers import shape_map_focus

    rows = [
        (EX + "a", EX + "p", "literal", "x", XSD_STRING, None),
        (EX + "b", EX + "q", "literal", "y", XSD_STRING, None),
    ]
    t = triples_df(spark, rows)
    t.createOrReplaceTempView("kg_t")
    focus = shape_map_focus(spark, t, [
        {"sql": f"SELECT DISTINCT subj AS node FROM kg_t "
                f"WHERE pred = '{EX}p'", "shape": "S"},
    ])
    got = {(r.node, r.shape, r.selector) for r in focus.collect()}
    assert got == {(EX + "a", "S", "sparql")}
    schema = SchemaDict.from_json([{
        "label": "S",
        "constraints": [{"path": EX + "p", "minCount": 1}]}])
    engine = ValidationEngine(spark, schema, t)
    res = engine.validate(focus)
    conf = {r["node"]: r["conforms"] for r in res.conformance.collect()}
    assert conf == {EX + "a": True}


# ------------------------------------------------ 8. group cardinality

def test_group_cardinality_blocks(spark):
    """ShEx `( TC... ){m,n}` (shapes.GroupBlock): eachOf groups need
    EQUAL per-member match counts in [m,n]; oneOf groups need the SUM
    in [m,n]; two-count semantics still rejects non-matching arcs."""
    from shaclex_spark.shexc2j import parse_shexc

    schema, _ = parse_shexc("""
<http://e/S> { ( <http://e/a> .; <http://e/b> . ){2,3} }
<http://e/T> { ( <http://e/p> .| <http://e/q> . ){2} }
""")
    for sh in schema.shapes.values():
        sh.closed = False  # spec-mode ShEx
    rows = []
    # ok2: 2 a + 2 b → k=2 ∈ [2,3]
    for i in range(2):
        rows += [(EX + "ok2", "http://e/a", "iri", EX + f"x{i}", None, None),
                 (EX + "ok2", "http://e/b", "iri", EX + f"y{i}", None, None)]
    # uneq: 2 a + 1 b → unequal counts
    rows += [(EX + "uneq", "http://e/a", "iri", EX + "u1", None, None),
             (EX + "uneq", "http://e/a", "iri", EX + "u2", None, None),
             (EX + "uneq", "http://e/b", "iri", EX + "u3", None, None)]
    # over: 4 of each → k=4 ∉ [2,3]
    for i in range(4):
        rows += [(EX + "over", "http://e/a", "iri", EX + f"o{i}", None, None),
                 (EX + "over", "http://e/b", "iri", EX + f"p{i}", None, None)]
    # oneOf: p+q = 2 → ok; single p → k=1 fail
    rows += [(EX + "mix", "http://e/p", "iri", EX + "m1", None, None),
             (EX + "mix", "http://e/q", "iri", EX + "m2", None, None),
             (EX + "one", "http://e/p", "iri", EX + "m3", None, None)]
    t = triples_df(spark, rows)
    engine = ValidationEngine(spark, schema, t)
    focus = focus_df(spark, [(EX + n, "http://e/S") for n in ("ok2", "uneq", "over")]
                     + [(EX + n, "http://e/T") for n in ("mix", "one")])
    res = engine.validate(focus)
    conf = {(r["node"], r["shape"]): r["conforms"]
            for r in res.conformance.collect()}
    assert conf[(EX + "ok2", "http://e/S")] is True
    assert conf[(EX + "uneq", "http://e/S")] is False
    assert conf[(EX + "over", "http://e/S")] is False
    assert conf[(EX + "mix", "http://e/T")] is True
    assert conf[(EX + "one", "http://e/T")] is False


# ------------------------------------------------- 6. decimal precision

def test_decimal_range_precision(spark):
    """Range bounds compare as decimal(38,15) when both sides fit:
    10000000000000000001 vs bound 10000000000000000000 differ only
    past double's 2^53 integer precision, so double math would
    wrongly conform b (VERDICT round-1 minor #7)."""
    DEC = "http://www.w3.org/2001/XMLSchema#decimal"
    big, bound = "10000000000000000001", "10000000000000000000"
    rows = [
        (EX + "a", EX + "p", "literal", big, DEC, None),    # > bound
        (EX + "b", EX + "p", "literal", bound, DEC, None),  # == bound
    ]
    shapes = [{
        "label": "S",
        "constraints": [{
            "path": EX + "p",
            "node": {"kind": "maxInclusive", "value": bound},
        }],
    }]
    conf, _ = run(spark, rows, shapes, [(EX + "a", "S"), (EX + "b", "S")])
    assert conf[(EX + "a", "S")] is False   # exceeds bound by 1
    assert conf[(EX + "b", "S")] is True


# ------------------------------------------------- 7. bench contract

def test_bench_headline_queries_registered():
    """Every bench.py HEADLINE name must exist in the driver registry
    (a renamed query would make the per-round bench crash)."""
    import bench
    import __spark_entry__ as E

    qs = E.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    # oracle_sql keys must be a subset of queries keys
    extra = [n for n in E.oracle_sql() if n not in qs]
    assert not extra, extra


# ------------------------------------------------- 8. winnowing guarantee

def test_winnow_shared_run_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. §2): two documents sharing
    a token run of length >= w + k - 1 (= 7 at k=4, w=4) must share at
    least one fingerprint; documents with no shared grams share none."""
    from shaclex_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"   # 7 tokens
    docs = spark.createDataFrame(
        [(1, "one two three " + shared + " four five"),
         (2, shared + " completely different suffix here"),
         (3, "nothing in common with the others at all")],
        "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=4, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 7-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
