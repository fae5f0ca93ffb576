"""k-core equivalence battery: ``kcore_subgraph`` (delta-degree peel)
against a pure-Python peel that unrolls the DuckDB oracle's rounds
(``plans.graph_queries._kcore_oracle``): symmetrize + distinct, then per
round keep the edges whose both endpoints have degree >= k, and report
each remaining vertex's edge count.

Covered: rounds below the peel depth (survivors with degree < k stay,
vertices left with no edge go), k above the maximum degree, self-loops
and duplicate edges, bigint and string ids, both ``disjoint_directions``
values, both removed-set paths (broadcast and shuffled), and the storage
lifecycle (only the returned degree state stays persisted)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from leader_graph_spark.graph.algorithms import BCAST_FRONTIER_CONF, kcore_subgraph


def peel_reference(pairs, k: int, rounds: int) -> set[tuple]:
    edges = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    for _ in range(rounds):
        deg = Counter(src for src, _ in edges)
        keep = {v for v, d in deg.items() if d >= k}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
    return set(Counter(src for src, _ in edges).items())


def run_kcore(spark, pairs, *, k, rounds, disjoint_directions=False, ddl="src long, dst long"):
    edges = spark.createDataFrame(pairs, ddl)
    out = kcore_subgraph(edges, k=k, rounds=rounds, disjoint_directions=disjoint_directions)
    assert out.columns == ["id", "degree"]
    assert dict(out.dtypes)["degree"] == "bigint"
    return {(r.id, r.degree) for r in out.collect()}


# A 4-clique with a pendant chain that peels off one vertex per round,
# a star whose hub is left with no edge once its leaves go, a
# triangle with a self-loop on one corner, and a duplicated reciprocal
# edge pair.
CHAIN = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]
STAR = [(10, 11), (10, 12), (10, 13)]
LOOPED = [(20, 21), (21, 22), (22, 20), (20, 20), (20, 21), (21, 20)]
FIXED = CHAIN + STAR + LOOPED


# k = 5 is above the maximum degree (4): every vertex goes in round one.
@pytest.mark.parametrize("k", [1, 2, 3, 5])
@pytest.mark.parametrize("rounds", [1, 2, 5])
def test_kcore_fixed_graph_matches_reference(spark, k, rounds):
    want = peel_reference(FIXED, k, rounds)
    assert (want == set()) == (k == 5)
    assert run_kcore(spark, FIXED, k=k, rounds=rounds) == want


def test_kcore_below_peel_depth_keeps_low_degree_and_drops_isolated(spark):
    """One round of a 2-core peel: the chain loses only its tip 7, so 6
    survives with degree 1 < k; the star's leaves go and its hub, left
    with no edge, is not reported."""
    got = dict(run_kcore(spark, FIXED, k=2, rounds=1))
    assert got[6] == 1 and 7 not in got
    assert not {10, 11, 12, 13} & got.keys()
    # enough rounds reach the core: the chain is gone, the clique stays
    core = dict(run_kcore(spark, FIXED, k=2, rounds=5))
    assert {v: core[v] for v in range(4)} == {0: 3, 1: 3, 2: 3, 3: 3}
    assert not {4, 5, 6, 7} & core.keys()


def test_kcore_string_ids_and_disjoint_directions(spark):
    """The co-purchase shape: a distinct bipartite edge set in disjoint
    'c…'/'p…' namespaces gives the same core with and without the
    ``disjoint_directions`` fast path."""
    pairs = [
        ("c1", "p1"), ("c1", "p2"), ("c2", "p1"), ("c2", "p2"), ("c3", "p2"),
        ("c3", "p3"), ("c4", "p3"), ("c5", "p4"),
    ]
    ddl = "src string, dst string"
    for k, rounds in ((2, 1), (2, 5), (3, 5)):
        want = peel_reference(pairs, k, rounds)
        assert run_kcore(spark, pairs, k=k, rounds=rounds, ddl=ddl) == want
        assert run_kcore(
            spark, pairs, k=k, rounds=rounds, ddl=ddl, disjoint_directions=True
        ) == want


def test_kcore_keeps_only_the_returned_state_persisted(spark):
    """The symmetrized edges and every superseded degree state are
    released before return; the one persisted block left is the degree
    state the returned frame reads."""
    sc = spark.sparkContext._jsc.sc()

    def persisted():
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = persisted()
    out = kcore_subgraph(spark.createDataFrame(FIXED, "src long, dst long"), k=2, rounds=5)
    out.collect()
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    assert persisted() - before == {leaves.apply(0).rdd().id()}


ids = st.integers(min_value=0, max_value=9)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(st.tuples(ids, ids), min_size=1, max_size=24),
    k=st.integers(min_value=1, max_value=4),
    rounds=st.integers(min_value=1, max_value=5),
    as_strings=st.booleans(),
    shuffled=st.booleans(),
)
def test_kcore_matches_reference_on_generated_graphs(spark, pairs, k, rounds, as_strings, shuffled):
    """Arbitrary small graphs, self-loops and duplicates included, with
    bigint or string ids, on either removed-set path."""
    ddl = "src long, dst long"
    if as_strings:
        pairs = [(f"v{a}", f"v{b}") for a, b in pairs]
        ddl = "src string, dst string"
    if shuffled:
        spark.conf.set(BCAST_FRONTIER_CONF, "-1")
    try:
        got = run_kcore(spark, pairs, k=k, rounds=rounds, ddl=ddl)
    finally:
        spark.conf.unset(BCAST_FRONTIER_CONF)
    assert got == peel_reference(pairs, k, rounds)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.sets(st.tuples(ids, ids), min_size=1, max_size=24),
    k=st.integers(min_value=1, max_value=3),
    rounds=st.integers(min_value=1, max_value=5),
)
def test_kcore_disjoint_directions_matches_reference_on_generated_graphs(spark, pairs, k, rounds):
    """Distinct bipartite edge sets in disjoint namespaces, on the
    ``disjoint_directions`` fast path."""
    pairs = [(f"c{a}", f"p{b}") for a, b in sorted(pairs)]
    got = run_kcore(
        spark, pairs, k=k, rounds=rounds, ddl="src string, dst string", disjoint_directions=True
    )
    assert got == peel_reference(pairs, k, rounds)
