"""The ShEx suite runner's worker processes, over a hand-written
three-entry manifest (tests/data/shex_mini): each (schema, data) group
runs in its own `python -m shaclex_spark.shex_suite --worker` process
on a session built by session.get_spark."""

from __future__ import annotations

import os

from shaclex_spark.shex_suite import run_suite_mp, scorecard

MINI = os.path.join(os.path.dirname(__file__), "data", "shex_mini")


def test_workers_run_every_entry():
    outs = run_suite_mp(root=MINI, nproc=2)
    assert sorted(o.name for o in outs) == ["iri_fail", "iri_pass",
                                            "literal_pass"]
    assert not [o for o in outs if o.skip], [(o.name, o.skip) for o in outs]
    assert scorecard(outs)["correct"] == 3, outs
