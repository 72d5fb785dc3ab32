"""SHACL-SHACL meta-validation (core/complex/shacl-shacl.ttl):
the shapes-of-shapes graph must validate against itself with zero
violations. Runs in a subprocess with its own lean session (wide plan;
codegen-off is ~2x faster for it) so the shared test session's config
is untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys

from shaclex_spark.meta import FIXTURE

from conftest import needs_corpus


@needs_corpus(FIXTURE)
def test_shacl_shacl_self_validation():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    out = None
    for attempt in range(2):
        out = subprocess.run(
            [sys.executable, "-m", "shaclex_spark.meta"],
            env=env, capture_output=True, text=True, timeout=540)
        if out.returncode == 0:
            break
        # one retry: the subprocess spins up its own JVM and has been
        # observed to die once in a transient host state (tmpfs /
        # broadcast-write pressure during long suite runs) while
        # passing standalone before and after — the semantics under
        # test are deterministic, the environment is not
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "0", out.stdout
