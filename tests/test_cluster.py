"""Connected-components unit tests on hand-built graphs (SURVEY §5 plan).

Every graph runs through BOTH execution paths — the driver union-find
fallback (small graphs) and the distributed large-star/small-star loop
(forced via ``small_graph_edges=0``) — and the paths must agree exactly.
"""

import random

import pytest

from address_parser_spark.operators.cluster import connected_components


@pytest.fixture(params=[None, 0], ids=["driver_fallback", "distributed_loop"])
def small_graph_edges(request):
    return request.param


def _cc(spark, edges, small_graph_edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    kwargs = {} if small_graph_edges is None else {"small_graph_edges": small_graph_edges}
    rows = connected_components(df, **kwargs).collect()
    comp: dict[int, int] = {r["id"]: r["component"] for r in rows}
    return comp


def test_chain(spark, small_graph_edges):
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], small_graph_edges)
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 5))


def test_star(spark, small_graph_edges):
    comp = _cc(spark, [(10, 1), (10, 2), (10, 3), (10, 4)], small_graph_edges)
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 10))


def test_two_components(spark, small_graph_edges):
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11), (11, 12)], small_graph_edges)
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[1] != comp[10]


def test_self_loop_and_duplicates(spark, small_graph_edges):
    comp = _cc(spark, [(7, 7), (7, 8), (8, 7), (7, 8)], small_graph_edges)
    assert comp[7] == comp[8] == 7


def test_long_path_converges_logarithmically(spark, small_graph_edges):
    n = 64
    comp = _cc(spark, [(i, i + 1) for i in range(n)], small_graph_edges)
    assert all(comp[i] == 0 for i in range(n + 1))


def test_paths_agree_on_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    fast = _cc(spark, edges, None)
    slow = _cc(spark, edges, 0)
    assert fast == slow


def test_rounds_bound_on_long_chain(spark):
    """Pins the O(log n) round-count claim (Kiveris et al. §3: alternating
    large-star/small-star at least halves path lengths per round). A path
    graph is the adversarial shape; a 1024-node chain must converge in at
    most 2·log2(n) rounds — and the measured count is asserted, not assumed
    (cluster.py's round complexity is otherwise only cited)."""
    import math

    n = 1024
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    timings: dict = {}
    rows = connected_components(df, small_graph_edges=0, timings=timings).collect()
    comp = {r["id"]: r["component"] for r in rows}
    assert all(comp[i] == 0 for i in range(n))
    assert 1 <= timings["cc_rounds"] <= 2 * int(math.log2(n)), timings


def test_round_cap_without_fixpoint_raises(spark, monkeypatch):
    """Hitting ``MAX_ITERATIONS`` without a fixpoint must fail loudly: the
    edge set mid-contraction is not a component assignment (a 1024-node
    chain needs several rounds, so a cap of one cannot converge)."""
    from address_parser_spark.operators import cluster

    monkeypatch.setattr(cluster, "MAX_ITERATIONS", 1)
    n = 1024
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match=r"did not converge in 1 rounds \(\d+ canonical edges"):
        connected_components(df, small_graph_edges=0)
