"""W3C ShEx validation suite (the reference's own corpus).

Reference: src/test/resources/shexTest/validation/manifest.ttl (1088
entries: 578 sht:ValidationTest + 510 sht:ValidationFailure), runner
semantics per src/main/scala/es/weso/shaclex/ShExTestRunner.scala:16-34.

Committed floor (round 3): ≥1064 attempted, ZERO wrong verdicts and
zero engine errors among attempted; every skip is feature-classified
(imports/semActs/external/shape-map/group-cardinality/partition
semantics), never result-based.
"""

from __future__ import annotations

import os

from shaclex_spark.shex_suite import (
    SUITE_ROOT,
    load_manifest,
    load_schema,
    run_suite_mp,
    scorecard,
)

from conftest import needs_corpus

pytestmark = needs_corpus(os.path.join(SUITE_ROOT, "validation",
                                       "manifest.ttl"))

ATTEMPTED_FLOOR = 1064


def test_manifest_loads_all_entries():
    es = load_manifest()
    assert len(es) == 1088
    # 578 sht:ValidationTest + 1 shape-map ValidationFailure entry whose
    # check is "result map matches" (expected=True by construction)
    assert sum(1 for e in es if e.expected) == 579
    # trait-based pre-skips stay a small, named set
    assert sum(1 for e in es if e.skip) <= 40


def test_shexj_loads_suite_schemas():
    """Every schema of a non-skipped entry either parses via ShExJ/
    ShExC or raises a NAMED unsupported-feature error."""
    es = load_manifest()
    unsupported = set()
    ok = 0
    for e in es:
        if e.skip:
            continue
        try:
            load_schema(e.schema)
            ok += 1
        except Exception as ex:
            feat = getattr(ex, "feature", None)
            assert feat is not None, f"unnamed schema failure for {e.schema}: {ex}"
            unsupported.add(feat)
    assert ok >= 280
    assert unsupported <= {"repeated-predicate", "group-cardinality",
                           "multiple-triple-exprs", "multiple-oneofs",
                           "nested-oneof", "tripleExprRef", "imports",
                           "semActs", "startActs", "ShapeExternal",
                           "dangling-ref"}


def test_full_suite_zero_wrong():
    """The headline gate: run every attemptable entry through the
    engine (subprocess pool, own lean SparkSessions) and require a
    perfect verdict record."""
    outs = run_suite_mp()
    sc = scorecard(outs)
    wrong = [o.name for o in outs if o.status == "wrong"]
    errors = [(o.name, o.skip) for o in outs if o.status == "error"]
    assert sc["attempted"] >= ATTEMPTED_FLOOR, sc
    assert not wrong, f"wrong verdicts: {wrong[:20]}"
    assert not errors, f"engine errors: {errors[:20]}"
    # worker crashes surface as skip='worker-exit:N' — forbid those too
    worker_fail = [o.name for o in outs
                   if o.skip and o.skip.startswith(("worker-", "engine-"))]
    assert not worker_fail, worker_fail[:20]


def test_full_suite_shexc_native_identical(monkeypatch):
    """Round-4 gate: the same suite run a SECOND way — every schema
    force-loaded from its bare `.shex` source through the full ShExC
    parser (shexc2j → parse_shexj) instead of the `.json` twin — must
    produce the identical scorecard: two concrete syntaxes, one
    semantics (reference parity: ShExSchema.scala:29-41)."""
    monkeypatch.setenv("SHACLEX_SHEX_SOURCE", "shexc")
    outs = run_suite_mp()
    sc = scorecard(outs)
    wrong = [o.name for o in outs if o.status == "wrong"]
    errors = [(o.name, o.skip) for o in outs if o.status == "error"]
    assert sc["attempted"] >= ATTEMPTED_FLOOR, sc
    assert not wrong, f"wrong verdicts via shexc: {wrong[:20]}"
    assert not errors, f"engine errors via shexc: {errors[:20]}"
    worker_fail = [o.name for o in outs
                   if o.skip and o.skip.startswith(("worker-", "engine-"))]
    assert not worker_fail, worker_fail[:20]
