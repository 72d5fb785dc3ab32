"""SHACL property-path algebra over the triples DataFrame.

Each path compiles to a DataFrame of (src, v_kind, v_value, v_dt,
v_lang) pairs: the set of value nodes reachable from ``src`` via the
path. All operators are pure DataFrame compositions (SURVEY.md §2.5
path row):

    pred         filter + project
    inverse      role swap (Inv(p), PropPath.scala:23-29)
    sequence     chained equi-joins on intermediate node ids
    alternative  union + distinct
    zeroOrOne    identity ∪ step
    zeroOrMore / oneOrMore
                 semi-naive iterative closure with localCheckpoint per
                 round (driver loop) — frontier-only joins so each round
                 shuffles only NEW pairs, not the accumulated closure.

Every builder takes ``srcs`` (a single-column DF of candidate source
node ids) and restricts computation to paths starting there — the
set-at-a-time analogue of the reference's relevant-subgraph grounding
(/root/reference/modules/slang/src/main/scala/es/weso/slang/SLang2Clingo.scala:220-228).
At 100 TB this semi-join reduction is what keeps path evaluation
proportional to the focus neighborhood instead of the whole graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .shapes import Path

VAL_COLS = ["v_kind", "v_value", "v_dt", "v_lang"]
PAIR_COLS = ["src"] + VAL_COLS

# Iteration cap for unbounded closures — a safety net against
# pathological graphs; real fixpoints converge in O(diameter) rounds.
MAX_CLOSURE_ROUNDS = 50


def node_kind(col):
    """Infer the kind of a node id column: bnode ids use the '_:' prefix."""
    return F.when(col.startswith("_:"), F.lit("bnode")).otherwise(F.lit("iri"))


def _restrict(df: DataFrame, srcs: DataFrame | None, col: str) -> DataFrame:
    if srcs is None:
        return df
    return df.join(srcs.select(F.col(srcs.columns[0]).alias(col)).distinct(),
                   on=col, how="left_semi")


def pred_pairs(triples: DataFrame, iri: str, srcs: DataFrame | None = None) -> DataFrame:
    t = triples.filter(F.col("pred") == iri)
    t = _restrict(t, srcs, "subj")
    return t.select(
        F.col("subj").alias("src"),
        F.col("obj_kind").alias("v_kind"),
        F.col("obj_value").alias("v_value"),
        F.col("obj_dt").alias("v_dt"),
        F.col("obj_lang").alias("v_lang"),
    )


def inverse_pairs(triples: DataFrame, iri: str, srcs: DataFrame | None = None) -> DataFrame:
    """^p : reach subjects from objects. Subjects are always iri/bnode
    with no datatype/lang."""
    t = triples.filter(F.col("pred") == iri)
    t = _restrict(t, srcs, "obj_value")
    return t.select(
        F.col("obj_value").alias("src"),
        node_kind(F.col("subj")).alias("v_kind"),
        F.col("subj").alias("v_value"),
        F.lit(None).cast("string").alias("v_dt"),
        F.lit(None).cast("string").alias("v_lang"),
    )


def identity_pairs(srcs: DataFrame) -> DataFrame:
    """The zero-step path: every source reaches itself. Source node ids
    are iri/bnode (focus nodes / intermediate nodes)."""
    c = F.col(srcs.columns[0])
    return srcs.select(
        c.alias("src"),
        node_kind(c).alias("v_kind"),
        c.alias("v_value"),
        F.lit(None).cast("string").alias("v_dt"),
        F.lit(None).cast("string").alias("v_lang"),
    ).distinct()


def path_pairs(triples: DataFrame, path: Path, srcs: DataFrame | None = None,
               dedup: bool = True) -> DataFrame:
    """Compile a path to its (src, value) pair DataFrame.

    dedup=False skips the final set-dedup for sequence/alternative
    paths (r6 perf): callers that immediately aggregate with
    multiplicity-insensitive thresholds (exists / none — minCount ≤ 1,
    no maxCount) or re-dedup themselves save one full exchange of the
    pair relation. Closure paths always dedup (convergence needs set
    semantics)."""
    if path.kind == "self":
        if srcs is None:
            raise ValueError("self path requires a bounded source set")
        return identity_pairs(srcs)
    if path.kind == "pred":
        return pred_pairs(triples, path.iri, srcs)
    if path.kind == "inverse":
        if path.iri is not None:
            return inverse_pairs(triples, path.iri, srcs)
        # inverse of a complex path: swap roles of the inner pairs.
        # Computed unrestricted then semi-joined (inner srcs unknown).
        inner = path_pairs(triples, path.steps[0], None)
        swapped = inner.select(
            F.col("v_value").alias("src"),
            node_kind(F.col("src")).alias("v_kind"),
            F.col("src").alias("v_value"),
            F.lit(None).cast("string").alias("v_dt"),
            F.lit(None).cast("string").alias("v_lang"),
        )
        return _restrict(swapped, srcs, "src")
    if path.kind == "sequence":
        cur = path_pairs(triples, path.steps[0], srcs)
        for step in path.steps[1:]:
            # intermediate nodes: only iri/bnode can take another step
            cur_mid = (cur.filter(F.col("v_kind") != "literal")
                       .select("src", F.col("v_value").alias("mid")))
            if step.kind in ("pred", "inverse") and step.iri is not None:
                # simple step: the equi-join on mid IS the restriction —
                # a mids-distinct + semi-join first would restrict the
                # same relation twice (two extra shuffles per step,
                # measured ~2x on the 3-step bench sequence)
                nxt = path_pairs(triples, step, None)
            else:
                # complex step (closure/alternative): restrict its
                # internal expansion to reachable seeds
                mids = cur_mid.select(F.col("mid")).distinct()
                nxt = path_pairs(triples, step, mids)
            cur = (cur_mid
                   .join(nxt.withColumnRenamed("src", "mid"), on="mid")
                   .select(*PAIR_COLS))
        return cur.distinct() if dedup else cur
    if path.kind == "alternative":
        parts = [path_pairs(triples, s, srcs) for s in path.steps]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct() if dedup else out
    if path.kind == "zeroOrOne":
        if srcs is None:
            raise ValueError("zeroOrOne path requires a bounded source set")
        step = path_pairs(triples, path.steps[0], srcs)
        return identity_pairs(srcs).unionByName(step).distinct()
    if path.kind in ("zeroOrMore", "oneOrMore"):
        if srcs is None:
            raise ValueError(f"{path.kind} path requires a bounded source set")
        return _closure_pairs(triples, path.steps[0], srcs,
                              include_zero=(path.kind == "zeroOrMore"))
    raise ValueError(f"unknown path kind {path.kind}")


def _closure_pairs(triples: DataFrame, step: Path, srcs: DataFrame,
                   include_zero: bool) -> DataFrame:
    """Transitive closure of ``step`` from ``srcs`` — semi-naive
    iteration: each round expands only the frontier (pairs discovered
    last round), anti-joined against the accumulated closure, with
    localCheckpoint to cut lineage (SURVEY.md §4.2 custom work #1)."""
    one = path_pairs(triples, step, srcs).distinct().localCheckpoint(eager=True)
    acc = one
    frontier = one
    simple_step = step.kind in ("pred", "inverse") and step.iri is not None
    for _ in range(MAX_CLOSURE_ROUNDS):
        frontier_mid = (frontier.filter(F.col("v_kind") != "literal")
                        .select("src", F.col("v_value").alias("mid")))
        if simple_step:
            # the frontier equi-join restricts by itself (see sequence)
            nxt = path_pairs(triples, step, None)
        else:
            mids = frontier_mid.select(F.col("mid")).distinct()
            nxt = path_pairs(triples, step, mids)
        expanded = (
            frontier_mid
            .join(nxt.withColumnRenamed("src", "mid"), on="mid")
            .select(*PAIR_COLS)
            .distinct()
        )
        # null-safe anti-join: v_dt / v_lang are null for non-literals and
        # plain joins never match null keys, which would re-add the same
        # pair every round and break convergence. Both sides aliased:
        # in round 1 acc IS the frontier, so their columns are one.
        cond = [F.col(f"e.{c}").eqNullSafe(F.col(f"a.{c}"))
                for c in PAIR_COLS]
        new = (expanded.alias("e").join(acc.alias("a"), on=cond,
                                        how="left_anti")
               .localCheckpoint(eager=True))
        if new.isEmpty():
            break
        acc = acc.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    if include_zero:
        acc = identity_pairs(srcs).unionByName(acc).distinct()
    return acc
