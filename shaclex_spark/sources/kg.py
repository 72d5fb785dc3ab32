"""Demo knowledge graph over the driver-provided TPC-H-ish test tables.

Maps customer/nation/region/orders rows into the triples relation with
a deterministic IRI scheme, so every validation operator can be
oracle-checked against hand-written ANSI SQL in DuckDB (the driver's
correctness gate). The SAME mapping is mirrored in SQL inside
__spark_entry__.oracle_sql via the `kg_triples` CTE.

IRI scheme:
    customer → http://example.org/c/<custkey>
    nation   → http://example.org/n/<nationkey>
    region   → http://example.org/r/<regionkey>
    order    → http://example.org/o/<orderkey>
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import (EX, RDF_TYPE, XSD_DATETIME, XSD_DECIMAL, XSD_INTEGER,
                     XSD_STRING)


def _t(subj, pred, obj_kind, obj_value, obj_dt=None):
    return [
        subj.alias("subj"), F.lit(pred).alias("pred"),
        F.lit(obj_kind).alias("obj_kind"), obj_value.alias("obj_value"),
        (F.lit(obj_dt) if obj_dt else F.lit(None)).cast("string").alias("obj_dt"),
        F.lit(None).cast("string").alias("obj_lang"),
    ]


def _inline_triples(df: DataFrame, rows: list[tuple]) -> DataFrame:
    """One scan → N triples per source row via inline(array(struct…))."""
    structs = [
        F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"),
            F.lit(kind).alias("obj_kind"),
            obj_value.cast("string").alias("obj_value"),
            (F.lit(dt) if dt else F.lit(None)).cast("string").alias("obj_dt"),
            F.lit(None).cast("string").alias("obj_lang"),
        )
        for subj, pred, kind, obj_value, dt in rows
    ]
    return df.select(F.inline(F.array(*structs)))


def read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the demo KG triples DF. Customers with negative acctbal
    and customers without orders exist in the data — these become the
    natural constraint violations the oracle queries check."""
    # fact-table scans re-spread (guide §2.5): the fixture parquet is
    # one row group per table, so the generate/concat pass under each
    # union branch ran as ONE task (orders: 600k triples built
    # serially). The helper is a no-op at production file layouts.
    from ..session import spread_scan as _spread

    customer = _spread(read(spark, sf_dir, "customer"))
    nation = read(spark, sf_dir, "nation")
    region = read(spark, sf_dir, "region")
    orders = _spread(read(spark, sf_dir, "orders"))

    c_iri = F.concat(F.lit(EX + "c/"), F.col("c_custkey"))
    n_iri_c = F.concat(F.lit(EX + "n/"), F.col("c_nationkey"))
    n_iri = F.concat(F.lit(EX + "n/"), F.col("n_nationkey"))
    r_iri_n = F.concat(F.lit(EX + "r/"), F.col("n_regionkey"))
    r_iri = F.concat(F.lit(EX + "r/"), F.col("r_regionkey"))
    o_iri = F.concat(F.lit(EX + "o/"), F.col("o_orderkey"))
    oc_iri = F.concat(F.lit(EX + "c/"), F.col("o_custkey"))

    # ONE scan per table: each row emits its triples as an inlined
    # struct array (14 union branches each re-scanned their source —
    # customer 5x, orders 4x — which is pure scan amplification at
    # 100-TB fact-table sizes; inline() keeps the same rows from a
    # single codegen'd pass per table).
    pieces = [
        _inline_triples(customer, [
            (c_iri, RDF_TYPE, "iri", F.lit(EX + "Customer"), None),
            (c_iri, EX + "name", "literal", F.col("c_name"), XSD_STRING),
            (c_iri, EX + "acctbal", "literal",
             F.format_string("%.2f", F.col("c_acctbal")), XSD_DECIMAL),
            (c_iri, EX + "mktsegment", "literal",
             F.col("c_mktsegment"), XSD_STRING),
            (c_iri, EX + "nation", "iri", n_iri_c, None),
        ]),
        _inline_triples(nation, [
            (n_iri, RDF_TYPE, "iri", F.lit(EX + "Nation"), None),
            (n_iri, EX + "name", "literal", F.col("n_name"), XSD_STRING),
            (n_iri, EX + "region", "iri", r_iri_n, None),
        ]),
        _inline_triples(region, [
            (r_iri, RDF_TYPE, "iri", F.lit(EX + "Region"), None),
            (r_iri, EX + "name", "literal", F.col("r_name"), XSD_STRING),
        ]),
        _inline_triples(orders, [
            (o_iri, RDF_TYPE, "iri", F.lit(EX + "Order"), None),
            (o_iri, EX + "customer", "iri", oc_iri, None),
            (o_iri, EX + "totalprice", "literal",
             F.format_string("%.2f", F.col("o_totalprice")), XSD_DECIMAL),
            (o_iri, EX + "status", "literal",
             F.col("o_orderstatus"), XSD_STRING),
        ]),
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


# The same mapping as one SQL CTE for DuckDB oracles. format_number in
# Spark = thousands-separated; we need plain decimals — use a canonical
# printf-style rendering instead on both sides.
KG_TRIPLES_SQL = """
kg_triples AS (
    SELECT 'http://example.org/c/' || c_custkey AS subj,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
           'iri' AS obj_kind, 'http://example.org/Customer' AS obj_value,
           CAST(NULL AS VARCHAR) AS obj_dt, CAST(NULL AS VARCHAR) AS obj_lang
    FROM customer
    UNION ALL
    SELECT 'http://example.org/c/' || c_custkey, 'http://example.org/name',
           'literal', c_name, 'http://www.w3.org/2001/XMLSchema#string', NULL
    FROM customer
    UNION ALL
    SELECT 'http://example.org/c/' || c_custkey, 'http://example.org/acctbal',
           'literal', printf('%.2f', c_acctbal),
           'http://www.w3.org/2001/XMLSchema#decimal', NULL
    FROM customer
    UNION ALL
    SELECT 'http://example.org/c/' || c_custkey, 'http://example.org/mktsegment',
           'literal', c_mktsegment, 'http://www.w3.org/2001/XMLSchema#string', NULL
    FROM customer
    UNION ALL
    SELECT 'http://example.org/c/' || c_custkey, 'http://example.org/nation',
           'iri', 'http://example.org/n/' || c_nationkey, NULL, NULL
    FROM customer
    UNION ALL
    SELECT 'http://example.org/n/' || n_nationkey,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
           'iri', 'http://example.org/Nation', NULL, NULL
    FROM nation
    UNION ALL
    SELECT 'http://example.org/n/' || n_nationkey, 'http://example.org/name',
           'literal', n_name, 'http://www.w3.org/2001/XMLSchema#string', NULL
    FROM nation
    UNION ALL
    SELECT 'http://example.org/n/' || n_nationkey, 'http://example.org/region',
           'iri', 'http://example.org/r/' || n_regionkey, NULL, NULL
    FROM nation
    UNION ALL
    SELECT 'http://example.org/r/' || r_regionkey,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
           'iri', 'http://example.org/Region', NULL, NULL
    FROM region
    UNION ALL
    SELECT 'http://example.org/r/' || r_regionkey, 'http://example.org/name',
           'literal', r_name, 'http://www.w3.org/2001/XMLSchema#string', NULL
    FROM region
    UNION ALL
    SELECT 'http://example.org/o/' || o_orderkey,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
           'iri', 'http://example.org/Order', NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'http://example.org/o/' || o_orderkey, 'http://example.org/customer',
           'iri', 'http://example.org/c/' || o_custkey, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'http://example.org/o/' || o_orderkey, 'http://example.org/totalprice',
           'literal', printf('%.2f', o_totalprice),
           'http://www.w3.org/2001/XMLSchema#decimal', NULL
    FROM orders
    UNION ALL
    SELECT 'http://example.org/o/' || o_orderkey, 'http://example.org/status',
           'literal', o_orderstatus, 'http://www.w3.org/2001/XMLSchema#string', NULL
    FROM orders
)
"""
