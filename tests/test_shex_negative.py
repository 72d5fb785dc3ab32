"""W3C ShEx negativeSyntax / negativeStructure corpora: every file
must be REJECTED with a named error — the parser/well-formedness layer
is asked to *refuse* malformed schemas, catching over-acceptance
(VERDICT r2 'What's missing' #2).

Reference vendors the corpora at
/root/reference/src/test/resources/shexTest/negativeSyntax (99 .shex)
and negativeStructure (14 .shex, sht:NegativeStructure entries in
manifest.ttl). The reference's own runner treats a successful parse +
structure check of any of these as a failure; here parse_shexc must
raise for every negativeSyntax file, and parse + check_well_formed
must raise for every negativeStructure file.

Pure driver-side (no SparkSession needed).
"""

from __future__ import annotations

import glob
import os

import pytest

from conftest import needs_corpus

ROOT = "/root/reference/src/test/resources/shexTest"

NEG_SYNTAX = sorted(glob.glob(os.path.join(ROOT, "negativeSyntax", "*.shex")))
NEG_STRUCTURE = sorted(
    glob.glob(os.path.join(ROOT, "negativeStructure", "*.shex")))


@needs_corpus(ROOT)
def test_corpora_present():
    assert len(NEG_SYNTAX) == 99
    assert len(NEG_STRUCTURE) == 14


@pytest.mark.parametrize(
    "path", NEG_SYNTAX, ids=[os.path.basename(p) for p in NEG_SYNTAX])
def test_negative_syntax_rejected(path):
    from shaclex_spark.shexc2j import parse_shexc

    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    with pytest.raises(Exception) as exc:
        parse_shexc(text)
    # a NAMED rejection, not a crash-by-accident: the parser's own
    # error type (or a schema-level error for files that parse but
    # declare impossible structures)
    assert type(exc.value).__name__ in (
        "ShExCError", "SchemaError", "ValueError"), exc.value


@pytest.mark.parametrize(
    "path", NEG_STRUCTURE, ids=[os.path.basename(p) for p in NEG_STRUCTURE])
def test_negative_structure_rejected(path):
    from shaclex_spark.shapes import SchemaError  # noqa: F401
    from shaclex_spark.shexc2j import parse_shexc

    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    with pytest.raises(Exception) as exc:
        schema, _ = parse_shexc(text)
        schema.check_well_formed()
    assert type(exc.value).__name__ in (
        "ShExCError", "SchemaError", "ValueError"), exc.value
