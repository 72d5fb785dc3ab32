"""Run the ENTIRE runnable W3C SHACL-core fixture corpus.

Each single-file fixture embeds shapes + data + the expected
sh:ValidationReport (manifest format; see SURVEY.md §5); split
fixtures reference separate -data/-shapes graphs via sht:dataGraph /
sht:shapesGraph. We parse the Turtle, build the schema via the SHACL
shapes-graph reader, validate, and compare (focus_node, component,
severity) violation sets against the embedded expected report.

Corpus: /root/reference/src/test/resources/shacl/tests/core/ —
read-only reference data (behavioral goldens, no code copied).

CASES is a glob over every .ttl under core/ minus:
- manifest.ttl files (directory indexes, not fixtures)
- *-data.ttl / *-shapes.ttl (components of split fixtures, exercised
  through their envelope file)
- the explicit SKIP list below, each entry with a reason.
"""

from __future__ import annotations

import glob
import os

import pytest

from shaclex_spark.model import SH, TRIPLES_SCHEMA
from shaclex_spark.shacl_reader import ShaclReader
from shaclex_spark.sources.turtle import parse_turtle
from shaclex_spark.triggers import target_focus
from shaclex_spark.validation import ValidationEngine

from conftest import needs_corpus

CORPUS = "/root/reference/src/test/resources/shacl/tests"

SKIP = {
    # covered by tests/test_shacl_meta.py on a dedicated lean session
    # (18 shapes / 38-constraint ShapeShape: ~3 min wide-plan run that
    # would dominate this parametrized test's budget)
    "core/complex/shacl-shacl.ttl": "run by test_shacl_meta.py",
}


def _all_cases() -> list[str]:
    out = []
    for path in sorted(glob.glob(os.path.join(CORPUS, "core", "*", "*.ttl"))):
        rel = os.path.relpath(path, CORPUS)
        name = os.path.basename(rel)
        if name == "manifest.ttl":
            continue
        if name.endswith(("-data.ttl", "-shapes.ttl", "-data-shapes.ttl")):
            continue  # component of a split fixture
        out.append(rel)
    return out


CASES = _all_cases()

MF = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
SHT = "http://www.w3.org/ns/shacl-test#"


def expected_violations(triples) -> set[tuple[str, str, str]]:
    """Extract (focus_node_value, component_localname, severity) from
    the embedded expected sh:ValidationReport."""
    by_subj: dict[str, dict[str, list]] = {}
    for s, p, o in triples:
        by_subj.setdefault(s[1], {}).setdefault(p, []).append(o)
    out = set()
    for sid, preds in by_subj.items():
        types = {o[1] for o in preds.get(
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", [])}
        if SH + "ValidationResult" not in types:
            continue
        focus = preds.get(SH + "focusNode", [None])[0]
        comp = preds.get(SH + "sourceConstraintComponent", [None])[0]
        sev = preds.get(SH + "resultSeverity", [None])[0]
        if focus is None or comp is None:
            continue
        sev_name = sev[1].split("#")[-1] if sev else "Violation"
        out.add((focus[1], comp[1].split("#")[-1], sev_name))
    return out


def load_fixture(path: str):
    """(data_triples, shape_triples, envelope_triples) — resolves
    split fixtures via sht:dataGraph/shapesGraph references."""
    env, _ = parse_turtle(open(path).read())
    dg = sg = None
    for s, p, o in env:
        if p == SHT + "dataGraph":
            dg = o[1]
        elif p == SHT + "shapesGraph":
            sg = o[1]
    base = os.path.dirname(path)
    this = os.path.basename(path)

    def resolve(ref):
        if ref is None or ref in ("", this) or ref.endswith("/" + this):
            return env
        comp = os.path.join(base, ref.split("/")[-1])
        t, _ = parse_turtle(open(comp).read())
        return t

    return resolve(dg), resolve(sg), env


@pytest.mark.parametrize("case", CASES)
def test_w3c_case(spark, case):
    if case in SKIP:
        pytest.skip(SKIP[case])
    path = os.path.join(CORPUS, case)
    data_triples, shape_triples, env = load_fixture(path)

    schema = ShaclReader(shape_triples).read()
    rows = [(s[1], p, o[0], o[1],
             o[2] if o[0] == "literal" else None, o[3])
            for s, p, o in data_triples]
    data = spark.createDataFrame(rows, TRIPLES_SCHEMA)

    focus = target_focus(spark, schema, data)
    engine = ValidationEngine(spark, schema, data)
    res = engine.validate(focus)
    got = {(r.focus_node, r.component, r.severity.split("#")[-1])
           for r in res.report.collect()}
    exp = expected_violations(env)
    assert got == exp, (f"{case}:\n  got      {sorted(got)}\n"
                        f"  expected {sorted(exp)}")


@needs_corpus(CORPUS)
def test_corpus_coverage_complete():
    """Every fixture in the vendored corpus is either exercised or in
    the justified SKIP list."""
    assert len(CASES) >= 95
    assert set(SKIP) <= set(CASES)
