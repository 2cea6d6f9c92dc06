"""Focused tests for dedup.connected_components (r8 optimization round).

The r8 rewrite replaced per-node min-label propagation with contraction
(relabel the EDGE SET through each round's merges, so the contracted
graph's diameter shrinks geometrically).  These tests pin the contract
against a pure-Python BFS ground truth on adversarial graph shapes the
fixtures do not cover — long chains with adversarial id order (the shape
that silently exhausted max_iters in round 7), cycles, stars, parallel /
self edges, and singleton nodes.
"""

from __future__ import annotations

import pytest


def _ground_truth(node_ids, edge_pairs):
    nbrs: dict[int, list[int]] = {}
    for a, b in edge_pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {}
    seen: set[int] = set()
    for v in node_ids:
        if v in seen:
            continue
        comp, stack = [], [v]
        seen.add(v)
        while stack:
            x = stack.pop()
            comp.append(x)
            for u in nbrs.get(x, ()):
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        m = min(comp)
        for x in comp:
            labels[x] = m
    return labels


def _run_cc(spark, node_ids, edge_pairs, max_iters=25):
    from sqlrs_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edge_pairs] or [(0, 0)], "a long, b long"
    )
    if not edge_pairs:
        edges = edges.where("a <> a")  # empty frame, same schema
    nodes = spark.createDataFrame([(int(v),) for v in node_ids], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes, max_iters=max_iters).collect()
    }
    assert got == _ground_truth(node_ids, edge_pairs)
    return got


def test_cc_long_chain_adversarial_ids(spark):
    # 120-node path whose ids DECREASE along the path: the min sits at the
    # far end, the worst case for hop-limited propagation (the r7
    # algorithm needed ~diameter rounds on this shape and silently hit
    # max_iters).  Contraction must converge well inside 25 rounds.
    n = 120
    ids = list(range(n, 0, -1))
    chain = list(zip(ids, ids[1:]))
    _run_cc(spark, ids, chain)


def test_cc_interleaved_chain_ids(spark):
    # ids alternating low/high along the path — label chains stay short,
    # so pointer jumping alone cannot shortcut; contraction must.
    lo = list(range(1, 41))
    hi = list(range(1000, 1040))
    path = [v for pair in zip(lo, hi) for v in pair]
    chain = list(zip(path, path[1:]))
    _run_cc(spark, path, chain)


def test_cc_cycle_star_parallel_and_singletons(spark):
    cycle = [(10, 11), (11, 12), (12, 13), (13, 10)]
    star = [(20, 21), (20, 22), (20, 23), (20, 24)]
    parallel = [(30, 31), (31, 30), (30, 31)]  # duplicates both ways
    self_loop = [(40, 40)]
    nodes = list(range(10, 14)) + list(range(20, 25)) + [30, 31, 40, 50, 51]
    got = _run_cc(spark, nodes, cycle + star + parallel + self_loop)
    # singletons (50, 51) and the self-loop node are their own cluster
    assert got[50] == 50 and got[51] == 51 and got[40] == 40


def test_cc_rounds_per_pin_equivalent_and_budget_exact(spark):
    # r8 job-batching: rounds_per_pin only changes how many LS+SS
    # alternations share one pinned job — labels must be identical for
    # any rpp, and max_iters must bound TOTAL rounds exactly (the batch
    # is clamped, so an odd budget cannot overshoot).
    from sqlrs_spark.operators.dedup import connected_components

    ids = list(range(60, 0, -1))
    chain = list(zip(ids, ids[1:]))
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in chain], "a long, b long"
    )
    nodes = spark.createDataFrame([(int(v),) for v in ids], "doc_id long")
    want = _ground_truth(ids, chain)
    for rpp in (1, 2, 3):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                edges, nodes, rounds_per_pin=rpp
            ).collect()
        }
        assert got == want, f"rpp={rpp} diverged"
    # 60-node decreasing chain needs >3 rounds: an odd budget must still
    # raise under rpp=2 (clamp runs rounds 1-2 then exactly round 3).
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=3, rounds_per_pin=2).collect()


def test_cc_rounds_per_pin_validated(spark):
    # rounds_per_pin <= 0 used to loop forever (the inner
    # batch range ran zero iterations so `rounds` never advanced);
    # must raise at entry instead.
    from sqlrs_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="rounds_per_pin"):
            connected_components(edges, nodes, rounds_per_pin=bad)


def test_cc_unconverged_raises(spark):
    # certification: a graph that cannot finish in the given budget must
    # raise, never return silently-wrong labels (the r7 failure mode).
    n = 40
    ids = list(range(n, 0, -1))
    chain = list(zip(ids, ids[1:]))
    with pytest.raises(RuntimeError, match="did not converge"):
        _run_cc(spark, ids, chain, max_iters=2)
