"""Full ShExC parser (shexc2j) vs the suite's ShExJ twins.

The 408 `.shex` schemas in the vendored W3C suite that have a `.json`
twin (shex.js-converted ShExJ — the reference's own parity target,
ShExSchema.scala:29-41 lists ShExC first) must translate to the SAME
AST modulo two serialization-only differences: resolved vs relative
import IRIs and the min=max=1 cardinality default."""

from __future__ import annotations

import glob
import json
import os

from shaclex_spark.shexc2j import ShExCError, shexc_to_shexj

from conftest import needs_corpus

SCHEMAS = "/root/reference/src/test/resources/shexTest/schemas"
BASE = "https://raw.githubusercontent.com/shexSpec/shexTest/master/schemas/"


def _norm(x):
    if isinstance(x, dict):
        d = {k: _norm(v) for k, v in x.items() if k != "@context"}
        if "imports" in d:
            # twins keep import IRIs relative; the parser resolves them
            d["imports"] = [i.rsplit("/", 1)[-1] for i in d["imports"]]
        if d.get("min") == 1 and d.get("max") == 1:
            d.pop("min"), d.pop("max")
        return {k: v for k, v in d.items() if v != []}
    if isinstance(x, list):
        return [_norm(v) for v in x]
    return x


@needs_corpus(SCHEMAS)
def test_every_suite_schema_parses():
    files = sorted(glob.glob(os.path.join(SCHEMAS, "*.shex")))
    assert len(files) >= 410
    for f in files:
        shexc_to_shexj(open(f, encoding="utf-8").read(),
                       base=BASE + os.path.basename(f))


@needs_corpus(SCHEMAS)
def test_twin_parity_all_408():
    files = [f for f in sorted(glob.glob(os.path.join(SCHEMAS, "*.shex")))
             if os.path.exists(f[:-5] + ".json")]
    assert len(files) >= 405
    bad = []
    for f in files:
        got = shexc_to_shexj(open(f, encoding="utf-8").read(),
                             base=BASE + os.path.basename(f))
        want = json.load(open(f[:-5] + ".json", encoding="utf-8"))
        if _norm(got) != _norm(want):
            bad.append(os.path.basename(f))
    assert not bad, f"{len(bad)} twin mismatches: {bad[:10]}"


def test_code_uchar_escapes_decoded():
    j = shexc_to_shexj(
        "<http://a.example/S1> { <http://a.example/p1> . \n"
        "  %<http://shex.io/extensions/Test/>"
        "{ print\\u0028\\u0022\\%{\\\\\\\\\\%}\\u0022\\u0029 %} }")
    code = j["shapes"][0]["expression"]["semActs"][0]["code"]
    assert code == ' print("%{\\\\%}") '


def test_paren_and_keeps_nesting():
    j = shexc_to_shexj(
        "<http://a.example/S1> { <http://a.example/p1> . } AND "
        "({ <http://a.example/p2> . } AND { <http://a.example/p3> . })")
    top = j["shapes"][0]
    assert top["type"] == "ShapeAnd"
    assert len(top["shapeExprs"]) == 2
    assert top["shapeExprs"][1]["type"] == "ShapeAnd"  # group survives
    assert "_paren" not in json.dumps(j)


def test_literal_exclusions_are_bare_strings():
    j = shexc_to_shexj(
        '<http://a.example/S1> { <http://a.example/p1> '
        '[. - "v1" - "v2"~] }')
    vs = j["shapes"][0]["expression"]["valueExpr"]["values"][0]
    assert vs["type"] == "LiteralStemRange"
    assert vs["exclusions"] == ["v1", {"type": "LiteralStem", "stem": "v2"}]


def test_trailing_garbage_rejected():
    import pytest
    with pytest.raises(ShExCError):
        shexc_to_shexj("<http://a.example/S1> { <http://a.example/p1> . } }")
