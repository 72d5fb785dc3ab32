"""One semi-naive fixpoint operator and the package's one lineage cut
for iteration.

Every recursion in the engine is a semi-naive fixpoint (the SIGMOD'19
"Optimizing Declarative Graph Queries at Large Scale" reading of
Datalog recursion): property-path closures (``paths``), candidate
propagation over recursive shape refs (``validation``), the
``Graph.traverse`` BFS (``schema_tools``) and the SchemaInfer followOn
walk (``infer``). Each round derives from the last round's NEW rows
only, keeps what the accumulated set does not hold yet, and stops when
a round adds nothing. ``semi_naive`` owns that loop, its lineage cut
and its emptiness test; a driver loop exists once.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F


class FixpointError(RuntimeError):
    """A fixpoint did not converge within its round cap. Raised instead
    of returning a partial set."""


def cut(df: DataFrame) -> DataFrame:
    """The lineage cut for iteration: a lazy ``localCheckpoint``. The
    plan becomes a checkpointed RDD now; the caller's next action (a
    count) computes and keeps its blocks in the same job."""
    return df.localCheckpoint(eager=False)


def semi_naive(seed: DataFrame, step: Callable[[DataFrame], DataFrame],
               key: list[str], max_rounds: int) -> DataFrame:
    """Least fixpoint of ``acc = seed ∪ step(acc)``, computed
    semi-naively: ``step`` sees only the rows the previous round added
    (the frontier) and returns rows with the seed's columns. That is
    exact because every caller's step works row by row (joins and
    filters), so it distributes over union.

    Rows are identified by ``key`` (null-safe: a null key field matches
    a null). Each round deduplicates ``step(frontier)`` on it,
    anti-joins it against the accumulated set, cuts the result and
    counts it — the one action of the round, which also materializes
    the cut. A count of 0 ends the iteration; a frontier still
    non-empty after ``max_rounds`` rounds raises FixpointError.

    A caller that wants a depth-bounded walk bounds the depth in its
    own ``step`` (a hop column it filters on), so a cap is only ever
    hit by a recursion that has not converged."""
    acc = cut(seed.dropDuplicates(key))
    frontier = acc
    for _ in range(max_rounds):
        # both sides aliased: in round 1 acc IS the frontier, so their
        # columns are one
        cond = [F.col(f"n.{c}").eqNullSafe(F.col(f"a.{c}")) for c in key]
        new = cut(step(frontier).dropDuplicates(key).alias("n")
                  .join(acc.alias("a"), on=cond, how="left_anti"))
        if new.count() == 0:
            return acc
        # cut too, so the next round's anti-join reads one leaf; its
        # count materializes it
        acc = cut(acc.unionByName(new))
        frontier = new
    raise FixpointError(
        f"no fixpoint on {key} within {max_rounds} rounds: the frontier "
        f"is still non-empty")
