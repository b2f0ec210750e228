"""Connected components (operators/graph.py): hand-built graphs pin
the fixpoint semantics; q53's recursive-CTE oracle proves engine parity
on real near-dup data."""

import pytest
from pyspark.sql import functions as F

from _multi_source_retail_data_integration_hub_spark.operators.graph import (
    connected_components,
)


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, **kw).collect()
    }


def test_two_components_and_chain(spark):
    # component {1,2,3,4} is a chain discovered transitively; {10,11}
    # is separate; node 99 has no edges and must not appear.
    got = _cc(spark, [(2, 1), (2, 3), (4, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cycle_and_self_loop(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (5, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}


def test_long_chain_exceeding_budget_raises(spark):
    chain = [(i, i + 1) for i in range(30)]
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(
            spark.createDataFrame(chain, "id_a long, id_b long"), max_iter=2
        ).collect()


def test_long_chain_converges_within_budget(spark):
    chain = [(i, i + 1) for i in range(12)]
    got = _cc(spark, chain)
    assert set(got.values()) == {0}


def test_reliable_checkpoint_path(spark, tmp_path):
    # checkpoint_dir switches per-round materialization from
    # localCheckpoint to reliable FS checkpoints: same fixpoint, and
    # checkpoint files actually land under the directory.
    ckpt = str(tmp_path / "cc_ckpt")
    got = _cc(spark, [(2, 1), (2, 3), (10, 11)], checkpoint_dir=ckpt)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    written = list((tmp_path / "cc_ckpt").rglob("*"))
    assert any(p.is_file() for p in written)


def test_pagerank_fixed_point_semantics(spark):
    """Fixed-point PageRank: deterministic integer ranks; a node with
    more in-links from well-connected neighbors outranks the rest; a
    star hub beats its leaves; repeated runs are bit-identical."""
    from _multi_source_retail_data_integration_hub_spark.operators.graph import (
        pagerank_fixed_point,
    )

    # star: hub h <-> leaves l1..l4 (symmetric edges)
    edges = []
    for leaf in ["l1", "l2", "l3", "l4"]:
        edges.append(("h", leaf))
        edges.append((leaf, "h"))
    df = spark.createDataFrame(edges, "src string, dst string")
    r1 = {r.node: r.rank_fp for r in pagerank_fixed_point(df, iterations=3).collect()}
    r2 = {r.node: r.rank_fp for r in pagerank_fixed_point(df, iterations=3).collect()}
    assert r1 == r2  # bit-deterministic
    assert all(r1["h"] > r1[leaf] for leaf in ["l1", "l2", "l3", "l4"])
    # leaves are symmetric -> identical ranks
    assert len({r1[leaf] for leaf in ["l1", "l2", "l3", "l4"]}) == 1
    # damping floor: every node keeps at least the base mass
    assert all(v >= 150_000 for v in r1.values())


def test_pagerank_dangling_and_isolated_direction(spark):
    """Directed edges only: a pure sink accumulates, a pure source
    drains to the damping floor after its mass leaks out."""
    from _multi_source_retail_data_integration_hub_spark.operators.graph import (
        pagerank_fixed_point,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("c", "b")], "src string, dst string"
    )
    r = {x.node: x.rank_fp for x in pagerank_fixed_point(df, iterations=3).collect()}
    assert r["b"] > r["a"] == r["c"]
    # sources have no in-links: rank = base after one round
    assert r["a"] == 150_000


def test_pagerank_invariant_to_partitioning_and_edge_order(spark):
    """The fixed-point claim, tested: identical ranks regardless of
    edge-list ordering or partitioning — the property that makes the
    iterative algorithm differentially verifiable at all."""
    import random

    from _multi_source_retail_data_integration_hub_spark.operators.graph import (
        pagerank_fixed_point,
    )

    rng = random.Random(7)
    edges = [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    r_base = {r.node: r.rank_fp for r in pagerank_fixed_point(df, iterations=4).collect()}
    shuffled = list(edges)
    rng.shuffle(shuffled)
    df2 = spark.createDataFrame(shuffled, "src string, dst string").repartition(13)
    r_alt = {r.node: r.rank_fp for r in pagerank_fixed_point(df2, iterations=4).collect()}
    assert r_base == r_alt




def test_fast_path_flags_hold_for_every_caller(spark, monkeypatch):
    """``assume_distinct`` (no duplicate rows; src < dst for connected
    components) and ``assume_symmetric`` (every dst is also a src) hold
    on the real inputs of the three callers that pass them, at sf0.001:
    ``training_data._mutated_clusters`` (q116/q135), q123 and q53. Both
    operators are swapped, where each caller looks them up, for
    wrappers that check the contract before calling the real one."""
    from _multi_source_retail_data_integration_hub_spark.operators import graph
    from _multi_source_retail_data_integration_hub_spark.plans import (
        scale_ops,
        similarity,
        training_data,
    )

    real_cc, real_pr = graph.connected_components, graph.pagerank_fixed_point
    seen = []

    def check(df, src, dst, distinct, oriented=False, symmetric=False):
        if distinct:
            assert df.groupBy(src, dst).count().where("count > 1").isEmpty(), "duplicates"
        if oriented:
            assert df.where(F.col(src) >= F.col(dst)).isEmpty(), f"{src} >= {dst}"
        if symmetric:
            assert df.select(dst).subtract(df.select(src)).isEmpty(), f"{dst} not a {src}"

    def cc(pairs, src="id_a", dst="id_b", *a, assume_distinct=False, **kw):
        check(pairs, src, dst, assume_distinct, oriented=assume_distinct)
        seen.append(("cc", assume_distinct))
        return real_cc(pairs, src, dst, *a, assume_distinct=assume_distinct, **kw)

    def pr(edges, src="src", dst="dst", *a, assume_distinct=False, assume_symmetric=False,
           **kw):
        check(edges, src, dst, assume_distinct, symmetric=assume_symmetric)
        seen.append(("pr", assume_distinct, assume_symmetric))
        return real_pr(edges, src, dst, *a, assume_distinct=assume_distinct,
                       assume_symmetric=assume_symmetric, **kw)

    monkeypatch.setattr(graph, "connected_components", cc)
    monkeypatch.setattr(graph, "pagerank_fixed_point", pr)
    monkeypatch.setattr(similarity, "connected_components", cc)
    sf = "/root/testdata/sf0.001"
    training_data.clear_session_caches()  # else a cached build skips the check
    assert training_data._mutated_clusters(spark, sf).count() > 0
    assert scale_ops.q123_supplier_pagerank(spark, sf).count() > 0
    assert similarity.q53_dup_clusters(spark, sf).count() > 0
    assert seen == [("cc", True), ("pr", True, True), ("cc", True)]
