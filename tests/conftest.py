from __future__ import annotations

import hashlib
import os

import pytest

from shaclex_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small parallelism for fast test startup; shuffle partitions tiny
    # because fixture data is tiny (at scale these come from config).
    s = get_spark("shaclex_spark_tests", parallelism=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def scope():
    """A Scope owning the test's persists, closed when the test ends."""
    from shaclex_spark.scope import Scope

    with Scope() as s:
        yield s


def needs_corpus(path: str):
    """Skip marker for a test that reads an external shaclex corpus
    file or directory: an absent corpus is a named, counted skip, not a
    FileNotFoundError."""
    return pytest.mark.skipif(not os.path.exists(path),
                              reason=f"external shaclex corpus absent: {path}")


def triples_df(spark, rows):
    """rows: (subj, pred, obj_kind, obj_value, obj_dt, obj_lang)"""
    from shaclex_spark.model import TRIPLES_SCHEMA

    return spark.createDataFrame(rows, TRIPLES_SCHEMA)


def focus_df(spark, rows):
    """rows: (node, shape)"""
    return spark.createDataFrame(
        [(n, s, "node") for n, s in rows],
        "node string, shape string, selector string",
    )


def pair_digest(pairs) -> tuple[int, str]:
    """(count, sha256) of an (a, b) pair relation's sorted rows, each
    written ``a<TAB>b`` and joined by newlines: pins a pair set exactly
    in one short literal."""
    rows = sorted((str(r["a"]), str(r["b"])) for r in pairs.collect())
    text = "\n".join(f"{a}\t{b}" for a, b in rows)
    return len(rows), hashlib.sha256(text.encode()).hexdigest()
