"""Connected components (large-star/small-star) unit tests."""

from spinebasedrecordlinkage_jl_spark.operators import spine as spine_mod
from spinebasedrecordlinkage_jl_spark.operators.spine import connected_components

#: the edge-count constants that force each tier of connected_components
TIERS = {
    "single-task": {"_CC_SINGLE_TASK_EDGES": 10**9},
    "star": {"_CC_SINGLE_TASK_EDGES": -1, "_CC_AUTO_STAR_EDGES": 10**9},
    "checksum": {"_CC_SINGLE_TASK_EDGES": -1, "_CC_AUTO_STAR_EDGES": -1},
}


def _tier(df, monkeypatch, tier):
    """connected_components(df) on a forced tier -> {id: component}."""
    with monkeypatch.context() as m:
        for name, value in TIERS[tier].items():
            m.setattr(spine_mod, name, value)
        return {r["id"]: r["component"] for r in connected_components(df).collect()}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df).collect()
    return {r["id"]: r["component"] for r in rows}


def test_single_edge(spark):
    assert _cc(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_chain_converges_to_min(spark):
    # long path graph: worst case for naive propagation
    got = _cc(spark, [(i, i + 1) for i in range(1, 20)])
    assert set(got.values()) == {1}
    assert set(got.keys()) == set(range(1, 21))


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12] == 10


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_star_graph(spark):
    got = _cc(spark, [(5, i) for i in range(6, 16)])
    assert set(got.values()) == {5}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_both_convergence_rules_agree(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(20, 21), (22, 21)], "src long, dst long"
    )
    a = _tier(df, monkeypatch, "checksum")
    b = _tier(df, monkeypatch, "star")
    assert a == b
    assert set(a.values()) == {1, 20}


def test_star_rule_multi_root_src_counterexample(spark, monkeypatch):
    """A weak star check (only 'no node is both src and dst') stops
    early on graphs where small_star leaves one src pointing at two
    roots — e.g. this input once assigned node 3 to components 1 AND 2.
    The strengthened check must keep contracting to one component."""
    for edges in ([(3, 2), (3, 4), (5, 1), (5, 4)], [(5, 3), (5, 1), (7, 3)]):
        df = spark.createDataFrame(edges, "src long, dst long")
        star = _tier(df, monkeypatch, "star")
        checksum = _tier(df, monkeypatch, "checksum")
        assert star == checksum
        nodes = {n for e in edges for n in e}
        assert set(star.keys()) == nodes
        # all edges connect transitively -> exactly one component, min id
        assert set(star.values()) == {min(nodes)}


def test_blocked_components_matches_global_cc(spark):
    """r6 blocked_components (per-block union-find, one Arrow stage) must
    produce exactly connected_components' output on any graph whose
    edges stay within a block and whose nodes map to one block each."""
    import random

    from pyspark.sql import functions as F

    from spinebasedrecordlinkage_jl_spark.operators.spine import (
        blocked_components,
        connected_components,
    )

    rng = random.Random(7)
    rows = []
    for blk in range(12):
        base = blk * 1000
        # chains, stars, singleton-self-loops and random clutter per block
        nodes = [base + i for i in range(rng.randint(2, 40))]
        for i in range(len(nodes) - 1):
            if rng.random() < 0.6:
                rows.append((f"b{blk}", nodes[i], nodes[i + 1]))
        for _ in range(10):
            a, b = rng.choice(nodes), rng.choice(nodes)
            rows.append((f"b{blk}", a, b))  # includes self-loops
    edges = spark.createDataFrame(rows, "blk string, src long, dst long")
    got = sorted(map(tuple, blocked_components(edges, "blk").collect()))
    want = sorted(map(tuple, connected_components(edges.select("src", "dst")).collect()))
    assert got == want


def test_single_task_tier_matches_iterative(spark, monkeypatch):
    """r6: measured-small graphs (<= _CC_SINGLE_TASK_EDGES) run through
    ONE single-task union-find stage; its output must equal the
    iterative star AND checksum contractions on a graph mixing deep
    chains, stars, duplicate/reversed edges, self-loops and random
    clutter."""
    import random

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(1, 40)]          # deep chain
    edges += [(500, 500 + i) for i in range(1, 15)]     # star
    edges += [(2, 1), (1, 2), (41, 41)]                 # reversed + self-loop
    edges += [
        (1000 + rng.randint(0, 60), 1000 + rng.randint(0, 60)) for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    single = _tier(df, monkeypatch, "single-task")
    star = _tier(df, monkeypatch, "star")
    checksum = _tier(df, monkeypatch, "checksum")
    assert single == star == checksum
    assert single[39] == 1 and single[514] == 500 and 41 not in single
