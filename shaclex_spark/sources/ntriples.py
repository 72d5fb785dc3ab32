"""N-Triples source/sink: each line is one triple — a natural fit for
spark.read.text + regexp extraction (SURVEY.md §2.1 'RDF file scan':
"a tiny N-Triples line parser via split/regexp_extract").

Covers the fixture-ingestion slice of the reference's format matrix
(DataFormats, /root/reference/modules/schema/src/main/scala/es/weso/
schema/DataFormats.scala:8-20); Turtle/RDF-XML/JSON-LD are out of
scope (documented absence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import RDF_LANGSTRING, XSD_STRING

# subject: IRI or bnode; predicate: IRI; object: IRI, bnode, or literal
# with optional datatype/lang. Whitespace-tolerant; comments/blank
# lines skipped.
_S = r"(?:<([^>]*)>|(_:[A-Za-z0-9]+))"
_P = r"<([^>]*)>"
_O = r"""(?:<([^>]*)>|(_:[A-Za-z0-9]+)|"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?)"""
NT_LINE = rf"^\s*{_S}\s+{_P}\s+{_O}\s*\.\s*$"


def parse_ntriples_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """lines (one N-Triples statement per row) → triples relation."""
    c = F.col(col)
    groups = {i: F.regexp_extract(c, NT_LINE, i) for i in range(1, 8)}
    s_iri, s_bn = groups[1], groups[2]
    pred = groups[3]
    o_iri, o_bn, o_lit, o_dt, o_lang = (groups[4], groups[5], groups[6],
                                        groups[7], F.regexp_extract(c, NT_LINE, 8))
    matched = c.rlike(NT_LINE)
    parsed = lines.filter(matched & ~c.startswith("#"))
    is_lit = (o_iri == "") & (o_bn == "")
    obj_kind = (F.when(o_iri != "", F.lit("iri"))
                .when(o_bn != "", F.lit("bnode"))
                .otherwise(F.lit("literal")))
    unescape = (lambda x: F.regexp_replace(
        F.regexp_replace(x, r'\\"', '"'), r"\\\\", r"\\"))
    obj_value = (F.when(o_iri != "", o_iri)
                 .when(o_bn != "", o_bn)
                 .otherwise(unescape(o_lit)))
    obj_dt = F.when(is_lit,
                    F.when(o_dt != "", o_dt)
                    .when(o_lang != "", F.lit(RDF_LANGSTRING))
                    .otherwise(F.lit(XSD_STRING))).otherwise(F.lit(None))
    obj_lang = F.when(is_lit & (o_lang != ""), o_lang).otherwise(F.lit(None))
    return parsed.select(
        F.when(s_iri != "", s_iri).otherwise(s_bn).alias("subj"),
        pred.alias("pred"),
        obj_kind.alias("obj_kind"),
        obj_value.alias("obj_value"),
        obj_dt.cast("string").alias("obj_dt"),
        obj_lang.cast("string").alias("obj_lang"),
    )


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    return parse_ntriples_lines(spark.read.text(path))


def parse_ntriples_string(spark: SparkSession, text: str) -> DataFrame:
    lines = [(line,) for line in text.splitlines() if line.strip()]
    return parse_ntriples_lines(
        spark.createDataFrame(lines, "value string"))


def triples_to_ntriples(triples: DataFrame) -> DataFrame:
    """triples relation → one N-Triples line per row (write with
    df.write.text for a distributed sink)."""
    subj = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
        .otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    esc = F.regexp_replace(
        F.regexp_replace(F.col("obj_value"), r"\\", r"\\\\"), '"', r'\\"')
    obj = (F.when(F.col("obj_kind") == "iri",
                  F.concat(F.lit("<"), F.col("obj_value"), F.lit(">")))
           .when(F.col("obj_kind") == "bnode", F.col("obj_value"))
           .when(F.col("obj_lang").isNotNull(),
                 F.concat(F.lit('"'), esc, F.lit('"@'), F.col("obj_lang")))
           .when(F.col("obj_dt").isNotNull() & (F.col("obj_dt") != XSD_STRING),
                 F.concat(F.lit('"'), esc, F.lit('"^^<'), F.col("obj_dt"), F.lit(">")))
           .otherwise(F.concat(F.lit('"'), esc, F.lit('"'))))
    return triples.select(F.concat(
        subj, F.lit(" <"), F.col("pred"), F.lit("> "), obj, F.lit(" .")
    ).alias("value"))
