"""Property test for the partition-feasibility conditions behind
validation._partition_check (repeated-predicate semantics).

The engine decides "can the focus node's arcs be partitioned among k
same-predicate TripleConstraints, each consuming a count within
[min,max]?" with Gale-Hoffman subset conditions instead of search:

    none == 0                                  (every arc consumable)
    ∀ S ≠ ∅:  only(S)  ≤ Σ_{i∈S} max_i        (skip if S unbounded)
    ∀ S:      Σ_{i∈S} min_i ≤ reach(S)

where arcs are grouped by the SET of TCs whose value expression they
satisfy (their mask), only(S) counts arcs whose nonempty mask ⊆ S and
reach(S) counts arcs whose mask ∩ S ≠ ∅.

This test mirrors those conditions in pure Python and checks them
against brute-force enumeration of ALL assignments over random
instances — the conditions must be exactly necessary AND sufficient
(bipartite transportation feasibility / flow integrality). A
divergence in either direction fails.
"""

from __future__ import annotations

from itertools import product

from hypothesis import given, settings
from hypothesis import strategies as st


def feasible_conditions(counts: dict[int, int],
                        bounds: list[tuple[int, int | None]]) -> bool:
    """The engine's subset conditions (pure-Python mirror of the
    column expressions built in _partition_check)."""
    k = len(bounds)
    if counts.get(0, 0) > 0:
        return False
    for s in range(1, 1 << k):
        members = [i for i in range(k) if s & (1 << i)]
        if all(bounds[i][1] is not None for i in members):
            cap = sum(bounds[i][1] for i in members)
            only = sum(n for m, n in counts.items()
                       if m != 0 and (m | s) == s)
            if only > cap:
                return False
        need = sum(bounds[i][0] for i in members)
        if need > 0:
            reach = sum(n for m, n in counts.items() if m & s)
            if reach < need:
                return False
    return True


def feasible_bruteforce(counts: dict[int, int],
                        bounds: list[tuple[int, int | None]]) -> bool:
    """Enumerate every assignment of arcs (grouped by mask) to TCs."""
    k = len(bounds)
    if counts.get(0, 0) > 0:
        return False
    classes = [(m, n) for m, n in counts.items() if m != 0 and n > 0]

    def splits(n: int, slots: list[int]):
        """All ways to split n units among the given slots."""
        if len(slots) == 1:
            yield {slots[0]: n}
            return
        for first in range(n + 1):
            for rest in splits(n - first, slots[1:]):
                yield {slots[0]: first, **rest}

    options = []
    for m, n in classes:
        slots = [i for i in range(k) if m & (1 << i)]
        options.append(list(splits(n, slots)))
    for combo in product(*options) if options else [()]:
        totals = [0] * k
        for assignment in combo:
            for i, c in assignment.items():
                totals[i] += c
        ok = True
        for i, (mn, mx) in enumerate(bounds):
            if totals[i] < mn or (mx is not None and totals[i] > mx):
                ok = False
                break
        if ok:
            return True
    return False


@st.composite
def instances(draw):
    k = draw(st.integers(min_value=1, max_value=3))
    bounds = []
    for _ in range(k):
        mn = draw(st.integers(min_value=0, max_value=3))
        unbounded = draw(st.booleans())
        mx = None if unbounded else mn + draw(st.integers(0, 3))
        bounds.append((mn, mx))
    counts = {}
    n_classes = draw(st.integers(min_value=0, max_value=4))
    for _ in range(n_classes):
        mask = draw(st.integers(min_value=0, max_value=(1 << k) - 1))
        counts[mask] = counts.get(mask, 0) + draw(st.integers(0, 4))
    return counts, bounds


@settings(max_examples=400, deadline=None)
@given(instances())
def test_conditions_equal_bruteforce(inst):
    counts, bounds = inst
    assert feasible_conditions(counts, bounds) == \
        feasible_bruteforce(counts, bounds), (counts, bounds)


def test_known_suite_shapes():
    # PstarT: {@P*, @T{1,1}} over masks P-only=1, T-only=1, both=2
    PT = 0b11
    assert feasible_conditions({0b01: 1, 0b10: 1, PT: 2},
                               [(0, None), (1, 1)])
    # P2T2: {@P{2}, @T{2}} same arcs — exact split exists
    assert feasible_conditions({0b01: 1, 0b10: 1, PT: 2},
                               [(2, 2), (2, 2)])
    # overcommitted: {@P{1,1}, @T{1,1}} with 4 arcs
    assert not feasible_conditions({0b01: 1, 0b10: 1, PT: 2},
                                   [(1, 1), (1, 1)])
    # unsatisfiable arc
    assert not feasible_conditions({0: 1}, [(0, None)])
