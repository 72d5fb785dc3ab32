"""The semi-naive fixpoint operator and its four users against pure
Python: property-path closures, ``traverse``, candidate propagation
over a ref cycle, and the greatest/least fixpoints of a recursive
shape, on seeded random directed graphs with cycles (a self-loop, a
literal object and a blank node in each); and a round cap that is hit
raises instead of returning a partial set."""

from __future__ import annotations

import random

import pytest

from shaclex_spark import validation
from shaclex_spark.fixpoint import FixpointError
from shaclex_spark.model import XSD_STRING
from shaclex_spark.paths import path_pairs
from shaclex_spark.schema_tools import traverse
from shaclex_spark.shapes import Path, SchemaDict
from shaclex_spark.validation import ValidationEngine

from conftest import focus_df, triples_df

EX = "http://example.org/"
P, Q = EX + "p", EX + "q"
SEEDS = [1, 2, 3]


def _kind(node: str) -> str:
    return "bnode" if node.startswith("_:") else "iri"


def _graph(seed: int) -> tuple[list[str], list[tuple]]:
    """At most 15 nodes (n0.., one blank node) with a 3-cycle, a
    self-loop, random p/q arcs and one literal object."""
    rnd = random.Random(seed)
    nodes = [EX + f"n{i}" for i in range(rnd.randint(8, 14))] + ["_:b0"]
    arcs = set()
    cyc = rnd.sample(nodes, 3)
    for a, b in zip(cyc, cyc[1:] + cyc[:1]):
        arcs.add((a, P, b))
    loop = rnd.choice(nodes)
    arcs.add((loop, P, loop))
    arcs.add((rnd.choice(nodes[:-1]), P, "_:b0"))
    arcs.add(("_:b0", rnd.choice([P, Q]), rnd.choice(nodes[:-1])))
    for _ in range(len(nodes)):
        arcs.add((rnd.choice(nodes), rnd.choice([P, Q]), rnd.choice(nodes)))
    rows = [(s, p, _kind(o), o, None, None) for s, p, o in sorted(arcs)]
    rows.append((rnd.choice(nodes), P, "literal", "lit", XSD_STRING, None))
    return nodes, rows


def _succ(rows, preds) -> dict[str, set[tuple]]:
    """node -> its value terms (kind, value, dt, lang) over ``preds``."""
    out: dict[str, set[tuple]] = {}
    for s, p, k, v, dt, lang in rows:
        if p in preds:
            out.setdefault(s, set()).add((k, v, dt, lang))
    return out


def _bfs(succ, start: tuple) -> set[tuple]:
    """Terms reachable from ``start`` in one or more steps."""
    seen: set[tuple] = set()
    todo = [start]
    while todo:
        t = todo.pop()
        for v in succ.get(t[1], ()) if t[0] != "literal" else ():
            if v not in seen:
                seen.add(v)
                todo.append(v)
    return seen


def _term(node: str) -> tuple:
    return (_kind(node), node, None, None)


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("kind", ["oneOrMore", "zeroOrMore"])
def test_closure_pairs_equal_python_bfs(spark, seed, kind):
    nodes, rows = _graph(seed)
    succ = _succ(rows, {P})
    want = set()
    for n in nodes:
        reach = _bfs(succ, _term(n)) | ({_term(n)} if kind == "zeroOrMore"
                                        else set())
        want |= {(n,) + v for v in reach}
    srcs = spark.createDataFrame([(n,) for n in nodes], "n string")
    path = Path(kind, steps=(Path("pred", iri=P),))
    got = {tuple(r) for r in path_pairs(triples_df(spark, rows), path,
                                        srcs).collect()}
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_traverse_equals_python_bfs(spark, seed):
    nodes, rows = _graph(seed)
    start = [nodes[0], "_:b0"]
    succ = _succ(rows, {P, Q})
    want = set(start)
    for n in start:
        want |= {v for k, v, _, _ in _bfs(succ, _term(n)) if k != "literal"}
    got = {r.node for r in traverse(
        triples_df(spark, rows),
        spark.createDataFrame([(n,) for n in start], "n string")).collect()}
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_candidates_over_a_ref_cycle_equal_python_reachability(spark, seed):
    """A = { p @B }, B = { q @A }: cand[B] is every p-value of a cand[A]
    term and cand[A] every q-value of a cand[B] term, from the focus."""
    nodes, rows = _graph(seed)
    schema = SchemaDict.from_json([
        {"label": "A", "constraints": [
            {"path": P, "node": {"kind": "ref", "label": "B"}}]},
        {"label": "B", "constraints": [
            {"path": Q, "node": {"kind": "ref", "label": "A"}}]},
    ])
    via = {"A": (_succ(rows, {P}), "B"), "B": (_succ(rows, {Q}), "A")}
    want = {("A", _term(nodes[0]))}
    todo = list(want)
    while todo:
        lbl, t = todo.pop()
        succ, nxt = via[lbl]
        for v in succ.get(t[1], ()) if t[0] != "literal" else ():
            if (nxt, v) not in want:
                want.add((nxt, v))
                todo.append((nxt, v))
    engine = ValidationEngine(spark, schema, triples_df(spark, rows))
    cands = engine._propagate_candidates(focus_df(spark, [(nodes[0], "A")]))
    got = {(lbl, (r.f_kind, r.f_value, r.f_dt, r.f_lang))
           for lbl, df in cands.items() for r in df.collect()}
    assert got == want


def _fixpoint(terms, succ, min_count: int, start: set) -> set:
    """S = { x : x has at least min_count p-values, all of them in S },
    iterated from ``start`` (all terms: greatest; none: least). A
    literal has no p-values."""
    def values(t):
        return succ.get(t[1], set()) if t[0] != "literal" else set()

    cur = set(start)
    while True:
        nxt = {t for t in terms if len(values(t)) >= min_count
               and values(t) <= cur}
        if nxt == cur:
            return cur
        cur = nxt


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("min_count", [1, 0])
def test_recursive_statuses_equal_python_fixpoints(spark, seed, min_count):
    """S = { p @S } with minCount 1 has no base case, so its least
    fixpoint is empty; with minCount 0 a node without p-values conforms
    in both, so all three statuses occur."""
    nodes, rows = _graph(seed)
    succ = _succ(rows, {P})
    terms = {_term(n) for n in nodes} | {v for vs in succ.values()
                                         for v in vs}
    gfp = _fixpoint(terms, succ, min_count, terms)
    lfp = _fixpoint(terms, succ, min_count, set())
    want = {}
    for n in nodes:
        t = _term(n)
        status = ("nonconformant" if t not in gfp
                  else "conformant" if t in lfp else "unknown")
        want[n] = (t in gfp, status)
    schema = SchemaDict.from_json([{"label": "S", "constraints": [
        {"path": P, "minCount": min_count,
         "node": {"kind": "ref", "label": "S"}}]}])
    engine = ValidationEngine(spark, schema, triples_df(spark, rows))
    res = engine.validate(focus_df(spark, [(n, "S") for n in nodes]),
                          with_status=True)
    got = {r.node: (r.conforms, r.status)
           for r in res.conformance.collect()}
    assert got == want


def _chain(spark, n: int):
    return triples_df(spark, [(EX + f"n{i}", P, "iri", EX + f"n{i + 1}",
                               None, None) for i in range(n - 1)])


def test_closure_past_the_round_cap_raises(spark):
    """n0 reaches 59 nodes of a 60-node chain, one more hop per round:
    more rounds than MAX_CLOSURE_ROUNDS, so the closure raises."""
    srcs = spark.createDataFrame([(EX + "n0",)], "n string")
    path = Path("zeroOrMore", steps=(Path("pred", iri=P),))
    with pytest.raises(FixpointError):
        path_pairs(_chain(spark, 60), path, srcs)


def test_traverse_truncates_at_max_hops(spark):
    start = spark.createDataFrame([(EX + "n0",)], "n string")
    got = {r.node for r in traverse(_chain(spark, 60), start,
                                    max_hops=3).collect()}
    assert got == {EX + f"n{i}" for i in range(4)}


def test_shape_fixpoint_past_the_round_cap_raises(spark, monkeypatch):
    """A recursive chain whose verdicts change for more rounds than the
    cap allows raises instead of returning unconverged verdicts."""
    monkeypatch.setattr(validation, "MAX_FIXPOINT_ROUNDS", 1)
    schema = SchemaDict.from_json([{"label": "S", "constraints": [
        {"path": P, "minCount": 1, "node": {"kind": "ref", "label": "S"}}]}])
    nodes = [EX + f"n{i}" for i in range(4)]
    engine = ValidationEngine(spark, schema, _chain(spark, 4))
    with pytest.raises(FixpointError):
        engine.validate(focus_df(spark, [(n, "S") for n in nodes]))
