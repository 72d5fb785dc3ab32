"""ShEx OneOf (flat disjunction of constraint groups, SURVEY.md §2.4)."""

from __future__ import annotations

from shaclex_spark.shexc2j import parse_shexc
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, triples_df

EX = "http://example.org/"
XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

SHEX = """
prefix : <http://example.org/>
prefix xsd: <http://www.w3.org/2001/XMLSchema#>
<Contact> {
  :email xsd:string
  | :phone xsd:string
}
"""


def test_oneof_semantics(spark):
    schema, _ = parse_shexc(SHEX)
    assert len(schema.shapes["Contact"].one_of) == 2
    rows = [
        (EX + "a", EX + "email", "literal", "a@x", XSD_STR, None),
        (EX + "b", EX + "phone", "literal", "123", XSD_STR, None),
        (EX + "c", EX + "email", "literal", "c@x", XSD_STR, None),
        (EX + "c", EX + "phone", "literal", "456", XSD_STR, None),
    ]
    t = triples_df(spark, rows)
    engine = ValidationEngine(spark, schema, t)
    res = engine.validate(focus_df(spark, [(EX + x, "Contact")
                                           for x in "abc"]))
    conf = {r.node: r.conforms for r in res.conformance.collect()}
    # a: email group holds, phone group fails (needs exactly one phone)
    assert conf[EX + "a"] is True
    # b: phone group holds only
    assert conf[EX + "b"] is True
    # c: BOTH groups hold → exactly-one violated
    assert conf[EX + "c"] is False
    assert any(r.component == "OneOfConstraintComponent"
               for r in res.report.collect())
