"""Connected-components unit graphs (FIXTURES.md §4) + union-find oracle."""

import random

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators.clustering import (
    assign_clusters,
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df)
    return {r.file_id: r.cluster_id for r in out.collect()}


def test_chain(spark):
    assert _cc(spark, [(1, 2), (2, 3), (3, 4)]) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_star(spark):
    assert _cc(spark, [(0, i) for i in range(1, 6)]) == {i: 0 for i in range(6)}


def test_two_triangles(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_self_loop_and_duplicates_ignored(spark):
    got = _cc(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert got == {1: 1, 2: 1}  # self-loop contributes nothing


def test_singletons_via_assign(spark):
    ids = spark.createDataFrame([(i,) for i in range(6)], "file_id long")
    comp = connected_components(spark.createDataFrame([(0, 1)], "src long, dst long"))
    got = {r.file_id: r.cluster_id for r in assign_clusters(ids, comp).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5}


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@pytest.mark.parametrize("n_nodes,n_edges,seed", [(2000, 1500, 42), (2000, 4000, 7)])
def test_random_graph_vs_union_find_oracle(spark, n_nodes, n_edges, seed):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    # oracle: min member per component
    comp_min = {}
    touched = {x for e in edges for x in e}
    for x in touched:
        r = uf.find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    expected = {x: comp_min[uf.find(x)] for x in touched}
    got = _cc(spark, edges)
    assert got == expected


def _union_find_labels(edges):
    uf = UnionFind()
    for a, b in edges:
        if a != b:
            uf.union(a, b)
    touched = {x for e in edges if e[0] != e[1] for x in e}
    return {x: uf.find(x) for x in touched}  # union() keeps the min as root


def _rng_graph(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]


@pytest.mark.parametrize(
    "edges",
    [
        _rng_graph(3, 300, 200),
        _rng_graph(11, 300, 600),
        [(i, i + 1) for i in range(200)],  # long path
        [(i + 1, i) for i in reversed(range(200))],  # the same path, reversed ids
        [(0, i) for i in range(1, 50)],  # single star
        [(i, 50) for i in range(51, 100)],  # single star, center on the dst side
    ],
    ids=["random_sparse", "random_dense", "path", "path_rev", "star", "star_dst"],
)
def test_star_forest_convergence_vs_union_find(spark, edges):
    assert _cc(spark, edges) == _union_find_labels(edges)


def test_star_forest_input_converges_in_one_round(spark):
    """Oriented (src > dst) stars: one round reproduces the input, which is
    already the fixed point, so a one-round budget must suffice."""
    from entity_resolution_spark.config import PipelineConfig

    edges = [(c + k, c) for c in (0, 100, 200) for k in range(1, 6)] + [(501, 500)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, PipelineConfig(cc_max_iterations=1))
    assert {r.file_id: r.cluster_id for r in out.collect()} == _union_find_labels(edges)


def test_triangle_stats_hand_graph(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import triangle_stats

    # K3 {1,2,3} + pendant 4 on 3 + isolated edge 5-6; dupes/self-loops noise
    edges = spark.createDataFrame(
        [
            Row(left_id=1, right_id=2),
            Row(left_id=3, right_id=2),
            Row(left_id=1, right_id=3),
            Row(left_id=3, right_id=1),  # duplicate reversed
            Row(left_id=3, right_id=4),
            Row(left_id=5, right_id=6),
            Row(left_id=5, right_id=5),  # self-loop dropped
        ]
    )
    got = {
        r["id"]: (r["degree"], r["triangles"], r["clustering_coefficient"])
        for r in triangle_stats(edges).collect()
    }
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(2 * 1 / (3 * 2), 6))
    assert got[4] == (1, 0, 0.0)
    assert got[5] == (1, 0, 0.0) and got[6] == (1, 0, 0.0)


def test_triangle_stats_matches_brute_force(spark):
    import itertools

    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import triangle_stats

    # deterministic pseudo-random graph on 30 nodes
    edge_set = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                ((i * 7 + 3) % 30, (i * 13 + 11) % 30) for i in range(120)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(
        [Row(left_id=a, right_id=b) for a, b in edge_set]
    ).repartition(6)
    adj = {}
    for a, b in edge_set:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for n, nb in adj.items():
        t = sum(1 for u, v in itertools.combinations(sorted(nb), 2) if v in adj[u])
        d = len(nb)
        want[n] = (d, t, round(2 * t / (d * (d - 1)), 6) if d >= 2 else 0.0)
    got = {
        r["id"]: (r["degree"], r["triangles"], r["clustering_coefficient"])
        for r in triangle_stats(df).collect()
    }
    assert got == want


def test_pagerank_matches_power_iteration(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import pagerank

    # star 0-{1,2,3} plus chain 3-4-5; dup/self noise
    edge_list = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(
        [Row(left_id=a, right_id=b) for a, b in edge_list]
        + [Row(left_id=1, right_id=0), Row(left_id=2, right_id=2)]
    ).repartition(3)
    it, d = 10, 0.85
    got = {r["id"]: r["rank"] for r in pagerank(df, iterations=it, damping=d).collect()}

    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    rank = {v: 1.0 / n for v in adj}
    for _ in range(it):
        rank = {
            v: (1.0 - d) / n + d * sum(rank[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    for v in adj:
        assert abs(got[v] - round(rank[v], 6)) < 2e-6, (v, got[v], rank[v])
    # centrality sanity: the star hub dominates
    assert got[0] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-4  # rank mass conserved


def test_pagerank_validation(spark):
    import pytest
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import pagerank

    df = spark.createDataFrame([Row(left_id=1, right_id=2)])
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)


def _sequential_canopy(ids, scored_pairs, t1, t2):
    """Textbook sequential greedy canopy (min-id processing order)."""
    sim = {}
    for a, b, s in scored_pairs:
        sim[(a, b)] = s
        sim[(b, a)] = s
    remaining = sorted(ids)
    centers = []
    pool = set(remaining)
    for _ in range(len(remaining) + 1):
        if not pool:
            break
        c = min(pool)
        centers.append(c)
        pool = {x for x in pool if x != c and sim.get((c, x), 0.0) < t2}
    member = set()
    for c in centers:
        member.add((c, c, True))
        for x in ids:
            if x != c and sim.get((x, c), 0.0) >= t1:
                member.add((x, c, False))
    return member


def test_canopy_matches_sequential_greedy(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.canopy import canopy_assignments

    ids = list(range(12))
    scored = []
    for i in ids:
        for j in ids:
            if i < j:
                s = round(1.0 / (1 + abs(i - j)), 6)  # closer ids more similar
                scored.append((i, j, s))
    recs = spark.createDataFrame([Row(id=i) for i in ids]).repartition(3)
    pairs = spark.createDataFrame(scored, "left_id long, right_id long, score double")
    got = {
        (r["id"], r["canopy_id"], r["is_center"])
        for r in canopy_assignments(recs, pairs, t1=0.25, t2=0.5).collect()
    }
    assert got == _sequential_canopy(ids, scored, 0.25, 0.5)
    # overlap exists: some point belongs to 2+ canopies
    from collections import Counter

    counts = Counter(i for i, _, _ in got)
    assert max(counts.values()) >= 2


def test_canopy_isolated_points_are_their_own_canopy(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.canopy import canopy_assignments

    recs = spark.createDataFrame([Row(id=i) for i in (1, 2, 9)])
    pairs = spark.createDataFrame(
        [(1, 2, 0.9)], "left_id long, right_id long, score double"
    )
    got = {
        (r["id"], r["canopy_id"], r["is_center"])
        for r in canopy_assignments(recs, pairs, t1=0.5, t2=0.8).collect()
    }
    assert got == {(1, 1, True), (2, 1, False), (9, 9, True)}
    import pytest

    with pytest.raises(ValueError):
        canopy_assignments(recs, pairs, t1=0.9, t2=0.5)


def test_hits_matches_power_iteration(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import hits

    edge_list = [(0, 1), (0, 2), (0, 3), (3, 4)]
    df = spark.createDataFrame([Row(left_id=a, right_id=b) for a, b in edge_list])
    it = 8
    got = {r["id"]: (r["hub"], r["authority"]) for r in hits(df, iterations=it).collect()}

    adj = {}
    for a, b in edge_list:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    s = {v: 1.0 / len(adj) for v in adj}
    for _ in range(it):
        nxt = {v: sum(s[u] for u in adj[v]) for v in adj}
        tot = sum(nxt.values())
        s = {v: x / tot for v, x in nxt.items()}
    for v in adj:
        assert abs(got[v][0] - round(s[v], 6)) < 2e-6, (v, got[v], s[v])
        assert got[v][0] == got[v][1]
    assert got[0][0] == max(h for h, _ in got.values())  # the hub dominates


def test_k_core_peels_pendants(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import k_core

    # K4 {1,2,3,4} + pendant path 4-5-6 + triangle {7,8,9}
    edge_list = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        + [(4, 5), (5, 6)]
        + [(7, 8), (8, 9), (7, 9)]
    )
    df = spark.createDataFrame(
        [Row(left_id=a, right_id=b) for a, b in edge_list]
    ).repartition(3)
    got2 = {r["id"]: r["degree"] for r in k_core(df, k=2).collect()}
    # 2-core: K4 (each deg 3 after pendants go) + the triangle (deg 2)
    assert got2 == {1: 3, 2: 3, 3: 3, 4: 3, 7: 2, 8: 2, 9: 2}
    got3 = {r["id"]: r["degree"] for r in k_core(df, k=3).collect()}
    assert got3 == {1: 3, 2: 3, 3: 3, 4: 3}  # only K4 survives
    assert k_core(df, k=4).isEmpty()
    import pytest

    with pytest.raises(ValueError):
        k_core(df, k=0)


def test_bfs_distance_hops_and_roots(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import bfs_distance

    # path 1-2-3-4-5, source {1, 5}; isolated 9 unreachable
    edge_list = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    edges = spark.createDataFrame(
        [Row(left_id=a, right_id=b) for a, b in edge_list]
    ).repartition(3)
    sources = spark.createDataFrame([Row(id=1), Row(id=5)])
    got = {
        r["id"]: (r["hops"], r["root"])
        for r in bfs_distance(edges, sources, max_hops=10).collect()
    }
    assert got == {
        1: (0, 1),
        5: (0, 5),
        2: (1, 1),
        4: (1, 5),
        3: (2, 1),  # equidistant: smallest root wins
    }
    # hop cap respected
    capped = {
        r["id"]: r["hops"]
        for r in bfs_distance(edges, sources, max_hops=1).collect()
    }
    assert set(capped) == {1, 5, 2, 4}
    import pytest

    with pytest.raises(ValueError):
        bfs_distance(edges, sources, max_hops=-1)


def test_star_labels_resist_chaining(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.clustering import (
        connected_components,
        star_labels,
    )

    # chain 1-2-3-4 plus clique {10,11}: CC merges the chain into one
    # component; star labels keep the far end (4) out of node 1's star.
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in [(1, 2), (2, 3), (3, 4), (10, 11)]]
    ).repartition(3)
    stars = {r["file_id"]: r["star_id"] for r in star_labels(edges).collect()}
    assert stars == {1: 1, 2: 1, 3: 2, 4: 3, 10: 10, 11: 10}
    comps = {
        r["file_id"]: r["cluster_id"] for r in connected_components(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_link_prediction_square_and_path(spark):
    import math

    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import link_prediction

    # square 1-2-3-4-1: diagonals (1,3) and (2,4) share two neighbors each
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    df = spark.createDataFrame([Row(left_id=a, right_id=b) for a, b in edges])
    out = {(r["left_id"], r["right_id"]): r for r in link_prediction(df).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    r = out[(1, 3)]
    assert r["common_neighbors"] == 2
    assert abs(r["adamic_adar"] - round(2 / math.log(2), 6)) < 1e-9
    assert r["nbr_jaccard"] == 1.0  # N(1) == N(3) == {2, 4}

    # path 1-2-3: endpoints share the middle; min_common=2 filters it out
    path = spark.createDataFrame([Row(left_id=1, right_id=2), Row(left_id=2, right_id=3)])
    got = link_prediction(path).collect()
    assert [(r["left_id"], r["right_id"], r["common_neighbors"]) for r in got] == [(1, 3, 1)]
    assert link_prediction(path, min_common=2).count() == 0


def test_link_prediction_triangle_no_candidates_and_hub_cap(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import link_prediction

    tri = spark.createDataFrame(
        [Row(left_id=a, right_id=b) for a, b in [(1, 2), (2, 3), (1, 3)]]
    )
    assert link_prediction(tri).count() == 0  # every pair already adjacent

    # star 0-{1..4}: all leaf pairs share only the hub (degree 4);
    # capping middles below 4 removes every wedge
    star = spark.createDataFrame(
        [Row(left_id=0, right_id=i) for i in range(1, 5)]
    )
    assert link_prediction(star).count() == 6
    assert link_prediction(star, max_middle_degree=3).count() == 0


def test_modularity_hand_values(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import modularity

    # two triangles joined by one bridge; labels = the two triangles.
    # m = 7; intra per community = 3; deg_c = 7 each (6 + bridge endpoint).
    # Q = 2 * (3/7 - (7/14)^2) = 6/7 - 1/2 = 0.357143
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame([Row(left_id=a, right_id=b) for a, b in edges])
    labels = spark.createDataFrame(
        [Row(id=i, label="t1") for i in (1, 2, 3)]
        + [Row(id=i, label="t2") for i in (4, 5, 6)]
    )
    r = modularity(e, labels).collect()[0]
    assert r["n_edges"] == 7 and r["n_communities"] == 2
    assert r["modularity"] == round(6 / 7 - 0.5, 6)

    # everything in ONE community: Q = m/m - (2m/2m)^2 = 0
    one = spark.createDataFrame([Row(id=i, label="all") for i in range(1, 7)])
    assert modularity(e, one).collect()[0]["modularity"] == 0.0

    # unlabeled nodes become singletons: no intra edges, Q < 0
    r = modularity(e, labels.limit(0)).collect()[0]
    assert r["modularity"] < 0 and r["n_communities"] == 6


def test_assortativity_extremes(spark):
    from pyspark.sql import Row

    from entity_resolution_spark.operators.graphmetrics import assortativity

    # star: center degree 4, leaves degree 1 -> perfectly disassortative
    star = spark.createDataFrame(
        [Row(left_id=0, right_id=i) for i in range(1, 5)]
    )
    r = assortativity(star).collect()[0]
    assert r["n_edges"] == 4 and r["assortativity"] == -1.0

    # cycle: all degrees equal -> correlation undefined (NULL)
    cyc = spark.createDataFrame(
        [Row(left_id=i, right_id=(i + 1) % 5) for i in range(5)]
    )
    assert assortativity(cyc).collect()[0]["assortativity"] is None
