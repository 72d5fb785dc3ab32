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
                 fixpoint.semi_naive over the one-step pairs: each round
                 joins only the NEW pairs with one more step, so it
                 shuffles the frontier, not the accumulated closure;
                 a closure that needs more than MAX_CLOSURE_ROUNDS
                 rounds raises fixpoint.FixpointError.

Every builder takes ``srcs`` (a single-column DF of candidate source
node ids) and restricts computation to paths starting there — the
set-at-a-time analogue of the reference's relevant-subgraph grounding
(/root/reference/modules/slang/src/main/scala/es/weso/slang/SLang2Clingo.scala:220-228).
At 100 TB this semi-join reduction is what keeps path evaluation
proportional to the focus neighborhood instead of the whole graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .fixpoint import semi_naive
from .shapes import Path

VAL_COLS = ["v_kind", "v_value", "v_dt", "v_lang"]
PAIR_COLS = ["src"] + VAL_COLS

# Round cap for unbounded closures: a closure from a source converges
# in (longest shortest path from it) rounds; one deeper than this
# raises instead of returning a partial set.
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
            cur = _extend(triples, cur, step)
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


def _extend(triples: DataFrame, cur: DataFrame, step: Path) -> DataFrame:
    """Extend the pairs ``cur`` by one ``step``: (src, mid) ⋈ step(mid, v).
    Only iri/bnode intermediate nodes can take another step."""
    cur_mid = (cur.filter(F.col("v_kind") != "literal")
               .select("src", F.col("v_value").alias("mid")))
    if step.kind in ("pred", "inverse") and step.iri is not None:
        # simple step: the equi-join on mid IS the restriction — a
        # mids-distinct + semi-join first would restrict the same
        # relation twice (two extra shuffles per step, measured ~2x on
        # the 3-step bench sequence)
        nxt = path_pairs(triples, step, None)
    else:
        # complex step (closure/alternative): restrict its internal
        # expansion to reachable seeds
        mids = cur_mid.select(F.col("mid")).distinct()
        nxt = path_pairs(triples, step, mids)
    return (cur_mid.join(nxt.withColumnRenamed("src", "mid"), on="mid")
            .select(*PAIR_COLS))


def _closure_pairs(triples: DataFrame, step: Path, srcs: DataFrame,
                   include_zero: bool) -> DataFrame:
    """Transitive closure of ``step`` from ``srcs``: the one-step pairs
    are the seed of ``fixpoint.semi_naive``, and each round extends
    only the pairs the last round found by one more step (``_extend``),
    keyed on the whole pair. The v_dt / v_lang of a non-literal value
    are null, so the key must match null-safely or the same pair would
    come back every round. A closure deeper than MAX_CLOSURE_ROUNDS
    raises ``fixpoint.FixpointError``."""
    acc = semi_naive(path_pairs(triples, step, srcs),
                     lambda frontier: _extend(triples, frontier, step),
                     PAIR_COLS, MAX_CLOSURE_ROUNDS)
    if include_zero:
        acc = identity_pairs(srcs).unionByName(acc).distinct()
    return acc
