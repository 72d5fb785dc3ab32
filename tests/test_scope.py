"""Cached state has one owner: graph facts come from the data (a
subclass arc in the registry's session KG reaches its queries), and
every persist a registry entry or inference makes is released when its
scope closes."""

from __future__ import annotations

import pytest

from shaclex_spark import queries as Q
from shaclex_spark.model import RDF_TYPE, RDFS
from shaclex_spark.scope import Scope
from shaclex_spark.shapes import SchemaDict
from shaclex_spark.triggers import target_focus

from conftest import triples_df
from test_oracle_parity import SF_DIR

EX = "http://example.org/"
VIP = EX + "c/vip"


@pytest.fixture
def fresh_registry():
    """The registry session released before and after the test, so the
    session KG is rebuilt from the (possibly patched) tables."""
    Q.SESSION.close()
    yield Q.SESSION
    Q.SESSION.close()


def test_subclass_instances_reach_registry(spark, monkeypatch,
                                           fresh_registry):
    extra = triples_df(spark, [
        (VIP, RDF_TYPE, "iri", EX + "VIP", None, None),
        (EX + "VIP", RDFS + "subClassOf", "iri", EX + "Customer", None, None),
    ])
    kg_triples = Q.kg_triples
    monkeypatch.setattr(Q, "kg_triples", lambda spark, sf_dir:
                        kg_triples(spark, sf_dir).unionByName(extra))

    targets = Q.QUERIES["kg_targets"](spark, SF_DIR)
    assert (VIP, "CustShape") in {(r["node"], r["shape"])
                                  for r in targets.collect()}
    conformance = Q.QUERIES["kg_conformance_customer"](spark, SF_DIR)
    assert VIP in {r["node"] for r in conformance.collect()}
    focus = target_focus(spark, SchemaDict.from_json(Q._TARGET_SHAPES),
                         Q.kg_triples(spark, SF_DIR))
    assert (VIP, "CustShape") in {(r["node"], r["shape"])
                                  for r in focus.collect()}


def test_no_cache_leaks(spark, fresh_registry):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name in ["dedup_ngram_jaccard", "dedup_minhash_candidates",
                 "dedup_clusters", "kg_infer_customer",
                 "kg_status_recursive"]:
        Q.QUERIES[name](spark, SF_DIR).collect()
        assert not cache.isEmpty(), f"{name} persisted nothing"
        Q.SESSION.close()
        assert cache.isEmpty(), f"{name} leaked a persisted DataFrame"

    from shaclex_spark.infer import infer_schema

    t = triples_df(spark, [
        (EX + "a", EX + "derivedFrom", "iri", EX + "src1", None, None),
        (EX + "src1", EX + "url", "literal", "u1", None, None),
    ])
    focus = spark.createDataFrame([(EX + "a",)], "node string")
    with Scope() as scope:
        infer_schema(t, focus, "Doc", scope=scope,
                     follow_on=[("derivedFrom$", "SourceShape")]).collect()
        assert not cache.isEmpty()
    assert cache.isEmpty(), "infer_schema leaked a persisted DataFrame"
