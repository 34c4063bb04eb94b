"""BGP (SPARQL text through compile_sparql) / property-path /
graph-analytics unit tests (SURVEY §2.11)."""

from pyspark.sql import functions as F

from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.bgp import (
    path_seq,
    transitive_closure,
)
from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.sparql import (
    compile_sparql,
)
from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
    degrees,
    in_out_degrees,
    neighborhood,
)

TRIPLES = [
    ("a", "knows", "b"),
    ("b", "knows", "c"),
    ("c", "knows", "d"),
    ("a", "name", "Alice"),
    ("b", "name", "Bob"),
    ("c", "name", "Carol"),
    ("a", "type", "Person"),
    ("b", "type", "Person"),
    ("x", "type", "Org"),
    ("x", "name", "Xorg"),
]


def _tri(spark):
    return spark.createDataFrame(TRIPLES, ["subject", "predicate", "object"])


def test_bgp_conjunction_and_union(spark):
    got = compile_sparql("""
      SELECT ?e ?n WHERE {
        { ?e <type> "Person" . ?e <name> ?n }
        UNION
        { ?e <type> "Org" . ?e <name> ?n }
      }""", _tri(spark))
    assert {(r.e, r.n) for r in got.collect()} == {
        ("a", "Alice"), ("b", "Bob"), ("x", "Xorg")}


def test_bgp_optional_null(spark):
    q = compile_sparql("""
      SELECT ?e ?n WHERE { ?e <type> ?t OPTIONAL { ?e <name> ?n } }""",
                       _tri(spark))
    rows = {r.e: r.n for r in q.collect()}
    assert rows == {"a": "Alice", "b": "Bob", "x": "Xorg"}


def test_bgp_not_exists(spark):
    # entities never appearing as the object of `knows`
    q = compile_sparql("""
      SELECT ?e WHERE {
        ?e <type> ?t FILTER NOT EXISTS { ?z <knows> ?e }
      }""", _tri(spark))
    assert {r.e for r in q.collect()} == {"a", "x"}


def test_bgp_repeated_var_self_equality(spark):
    tri = spark.createDataFrame(
        [("s", "p", "s"), ("s", "p", "o")], ["subject", "predicate", "object"]
    )
    got = compile_sparql("SELECT ?x WHERE { ?x <p> ?x }", tri).collect()
    assert [r.x for r in got] == ["s"]


def test_path_seq_and_closure(spark):
    tri = _tri(spark)
    two = {(r.src, r.dst) for r in path_seq(tri, ["knows", "knows"]).collect()}
    assert two == {("a", "c"), ("b", "d")}
    edges = tri.filter(F.col("predicate") == "knows").select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    closure = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert closure == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    reflexive = transitive_closure(edges, reflexive=True).count()
    assert reflexive == 6 + 4  # + zero-length paths


def test_degrees_and_neighborhood(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    deg = {r.node: r.degree for r in degrees(edges).collect()}
    assert deg == {"a": 1, "b": 2, "c": 2, "d": 1}
    io = {r.node: (r.out_degree, r.in_degree) for r in in_out_degrees(edges).collect()}
    assert io["a"] == (1, 0) and io["d"] == (0, 1)
    nb = {r.node: r.dist for r in neighborhood(edges, "a", 2).collect()}
    assert nb == {"a": 0, "b": 1, "c": 2}


def _brandes_edge_betweenness(sym_adj, pivots, max_depth):
    """Pure-Python reference: Brandes pair-dependency from each pivot,
    depth-bounded, summed per undirected edge."""
    from collections import defaultdict, deque

    acc = defaultdict(float)
    for s in pivots:
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        order = [s]
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] == max_depth:
                continue
            for w in sym_adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    order.append(w)
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in sym_adj[w]:
                if dist.get(v) == dist[w] - 1:
                    c = sigma[v] / sigma[w] * (1.0 + delta[w])
                    delta[v] += c
                    acc[tuple(sorted((v, w)))] += c
    return {k: round(v, 6) for k, v in acc.items()}


def test_sampled_edge_betweenness_matches_exact_brandes(spark):
    from collections import defaultdict

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sampled_edge_betweenness,
    )

    # cyclic graph: square a-b-c-d-a with a chord b-d and a tail d-e
    raw = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d"), ("d", "e")]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    nodes = sorted({n for e in raw for n in e})
    pivots = spark.createDataFrame([(n,) for n in nodes], ["p"])

    got = {
        (r.a, r.b): r.betweenness
        for r in sampled_edge_betweenness(edges, pivots, max_depth=4).collect()
    }

    adj = defaultdict(set)
    for u, v in raw:
        adj[u].add(v)
        adj[v].add(u)
    want = _brandes_edge_betweenness(adj, nodes, 4)
    assert got == want


def test_exact_edge_betweenness_matches_brandes(spark):
    """All-pivots exactness: engine == pure-python Brandes over every
    source (the all-ordered-sources sum, 2× the per-unordered-pair
    value) — and the closed form on a path pins the 2× convention."""
    from collections import defaultdict

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        exact_edge_betweenness,
    )

    raw = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d"),
           ("d", "e"), ("x", "y")]          # cyclic + a separate component
    edges = spark.createDataFrame(raw, ["src", "dst"])
    got = {(r.a, r.b): r.betweenness
           for r in exact_edge_betweenness(edges, max_depth=8).collect()}

    adj = defaultdict(set)
    for u, v in raw:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    want = _brandes_edge_betweenness(adj, nodes, 8)
    assert got == want
    # 2x convention on the isolated path x-y: the single unordered pair
    # {x,y} crosses it once -> per-pair betweenness 1, engine reports 2
    assert got[("x", "y")] == 2.0


def test_exact_edge_betweenness_guards_fail_loud(spark):
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        exact_edge_betweenness,
    )

    # path 0-1-2-3-4 has eccentricity 4 from the ends
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], ["src", "dst"])
    with pytest.raises(ValueError, match="unvisited"):
        exact_edge_betweenness(edges, max_depth=2)
    with pytest.raises(ValueError, match="max_nodes"):
        exact_edge_betweenness(edges, max_depth=8, max_nodes=3)


def test_pagerank_matches_power_iteration(spark):
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import pagerank

    raw = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    # 'e' dangling via edge into it only
    raw.append(("c", "e"))
    edges = spark.createDataFrame(raw, ["src", "dst"])
    got = {r.node: r.pagerank for r in pagerank(edges, n_iter=10).collect()}

    nodes = sorted({n for e in raw for n in e})
    out = {n: [v for u, v in raw if u == n] for n in nodes}
    rank = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(10):
        dmass = sum(rank[n] for n in nodes if not out[n])
        new = {}
        for n in nodes:
            inflow = sum(rank[u] / len(out[u]) for u in nodes if n in out[u])
            new[n] = 0.15 / len(nodes) + 0.85 * (inflow + dmass / len(nodes))
        rank = new

    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - rank[n]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_triangle_counts_hand_graph(spark):
    """Known graph: K4 on {1,2,3,4} (4 triangles, each node in 3) plus
    a pendant 5-6 edge (no triangles) plus a hub 0 connected to
    everything (turning each K4 edge + the pendant edge into extra
    triangles).  Direction/duplication of the input edges must not
    matter."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(5, 6)] + [(0, n) for n in range(1, 7)]
    # duplicates + reversed copies should collapse
    edges = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    # triangles: C(4,3)=4 inside K4; hub 0 + each K4 edge (6); hub + 5-6
    assert got[0] == 7
    assert all(got[n] == 3 + 3 for n in (1, 2, 3, 4))  # 3 in K4 + 3 via hub
    assert got[5] == 1 and got[6] == 1
    assert sum(got.values()) % 3 == 0  # each triangle counted thrice


def test_optional_with_disjoint_vars_keeps_left_rows(spark):
    """OPTIONAL sharing no variables must keep every left row (with the
    optional vars unbound when the group is empty) — the crossJoin
    shortcut silently dropped all rows (round-6 review finding)."""
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("c", "p", "d")],
        ["subject", "predicate", "object"])
    got = compile_sparql("""
      SELECT ?x ?y ?z ?w WHERE {
        ?x <p> ?y OPTIONAL { ?z <missing> ?w }
      }""", tri).collect()
    assert {(r.x, r.y, r.z, r.w) for r in got} == {
        ("a", "b", None, None), ("c", "d", None, None)}
    # non-empty disjoint optional: every combination, left rows kept
    got2 = compile_sparql("""
      SELECT DISTINCT ?x ?z WHERE {
        ?x <p> ?y OPTIONAL { ?z <p> ?w }
      }""", tri).collect()
    assert len(got2) == 4


def test_not_exists_with_disjoint_vars_is_all_or_nothing(spark):
    """FILTER NOT EXISTS with no shared vars: any inner match removes
    every row; an empty inner group keeps every row (used to raise
    IndexError from an empty join-on list)."""
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("c", "q", "d")],
        ["subject", "predicate", "object"])
    kept = compile_sparql("""
      SELECT ?x WHERE {
        ?x <p> ?y FILTER NOT EXISTS { ?z <nosuch> ?w }
      }""", tri).collect()
    assert [r.x for r in kept] == ["a"]
    removed = compile_sparql("""
      SELECT ?x WHERE {
        ?x <p> ?y FILTER NOT EXISTS { ?z <q> ?w }
      }""", tri).collect()
    assert removed == []


def test_transitive_closure_preserves_numeric_id_types(spark):
    """The driver-BFS fast path must emit the INPUT column types, like
    the distributed branch (it hardcoded strings and crashed on bigint
    edges under the 10k gate)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.bgp import (
        transitive_closure,
    )

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = transitive_closure(e)
    assert dict(out.dtypes) == {"src": "bigint", "dst": "bigint"}
    assert {(r.src, r.dst) for r in out.collect()} == {
        (1, 2), (2, 3), (1, 3)}


def test_label_propagation_matches_sync_simulation(spark):
    """Two triangles joined by a bridge: compare against an
    independent pure-Python synchronous-LPA simulation (mode of
    neighbor labels, ties to the lexicographically smallest), and
    assert the triangles end in different communities."""
    import collections

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        label_propagation,
    )

    raw = [("a0", "a1"), ("a1", "a2"), ("a0", "a2"), ("a2", "b0"),
           ("b0", "b1"), ("b1", "b2"), ("b0", "b2")]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    got = {r.node: r.community
           for r in label_propagation(edges, n_iter=4).collect()}

    nbrs = collections.defaultdict(set)
    for u, v in raw:
        nbrs[u].add(v)
        nbrs[v].add(u)
    lab = {n: n for n in nbrs}
    for _ in range(4):
        lab = {
            n: min(collections.Counter(
                       [lab[u] for u in nbrs[n]] + [lab[n]]).items(),
                   key=lambda kv: (-kv[1], kv[0]))[0]
            for n in nbrs
        }
    assert got == lab
    assert got["a0"] == got["a1"] == got["a2"]
    assert got["b0"] == got["b1"] == got["b2"]
    assert got["a0"] != got["b0"]


def test_label_propagation_isolated_component_keeps_min_label(spark):
    """A disconnected pair converges to its own 2-node community
    (the self-vote kills the sync-LPA two-coloring oscillation a bare
    edge would otherwise flip-flop on), untouched by the larger
    component."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        label_propagation,
    )

    raw = [("x", "y"), ("p", "q"), ("q", "r"), ("p", "r")]
    got = {r.node: r.community for r in label_propagation(
        spark.createDataFrame(raw, ["src", "dst"]), n_iter=4).collect()}
    assert got["x"] == got["y"]
    assert got["p"] == got["q"] == got["r"]
    assert got["x"] != got["p"]


def test_label_propagation_random_graphs_match_simulation(spark):
    """Property form: random graphs (dense, sparse, with isolated-pair
    components) against the independent python simulation — exercises
    tie-break paths the two hand graphs can't."""
    import collections
    import random

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(41)
    for trial in range(5):
        n = rng.randint(5, 12)
        nodes = [f"n{i:02d}" for i in range(n)]
        p = rng.choice([0.15, 0.3, 0.6])
        raw = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]
               if rng.random() < p]
        raw += [("z0", "z1")]  # guaranteed isolated pair
        if not raw:
            continue
        k = rng.choice([1, 3, 4])
        got = {r.node: r.community for r in label_propagation(
            spark.createDataFrame(raw, ["src", "dst"]), n_iter=k).collect()}

        nbrs = collections.defaultdict(set)
        for u, v in raw:
            nbrs[u].add(v)
            nbrs[v].add(u)
        lab = {x: x for x in nbrs}
        for _ in range(k):
            lab = {
                x: min(collections.Counter(
                           [lab[u] for u in nbrs[x]] + [lab[x]]).items(),
                       key=lambda kv: (-kv[1], kv[0]))[0]
                for x in nbrs
            }
        assert got == lab, (trial, p, k)


def test_clustering_coefficient_hand_graph(spark):
    """K4 on {1..4} (cc=1 everywhere) plus a pendant node 5—1: node 1
    gains a neighbor that closes nothing; node 5 (degree 1) is
    excluded."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        clustering_coefficient,
    )

    raw = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1)]
    got = {r.node: (r.degree, r.n_triangles, r.clustering)
           for r in clustering_coefficient(
               spark.createDataFrame(raw, ["src", "dst"])).collect()}
    assert set(got) == {1, 2, 3, 4}
    # node 1: degree 4, still 3 triangles -> 2*3/(4*3) = 0.5
    assert got[1] == (4, 3, 0.5)
    for n in (2, 3, 4):
        assert got[n] == (3, 3, 1.0)


def test_kcore_peels_trees_keeps_cycle(spark):
    """2-core of a cycle with tree decorations = the cycle; the
    pendant chain peels over multiple rounds (cascade)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        kcore,
    )

    cycle = [("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1")]
    chain = [("c1", "t1"), ("t1", "t2"), ("t2", "t3")]  # 3-deep cascade
    got = {r.node: r.core_degree for r in kcore(
        spark.createDataFrame(cycle + chain, ["src", "dst"]),
        k=2, rounds=5).collect()}
    assert got == {"c1": 2, "c2": 2, "c3": 2, "c4": 2}


def test_kcore_fixpoint_reached_on_testdata(spark, sf_dir):
    """The registry entry's fixed round count must actually reach the
    fixpoint on the shipped graph: every survivor's degree ≥ k."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_graph import (
        _KCORE_K,
        graph_kcore_peel,
    )

    out = graph_kcore_peel(spark, sf_dir).collect()
    assert all(r.core_degree >= _KCORE_K for r in out)


def test_bfs_distances_hand_graph(spark):
    """Chain with two seeds, a shortcut, and an unreachable island:
    min-distance semantics, multi-source min, depth cut-off."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        bfs_distances,
    )

    edges = [("s1", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
             ("s2", "c"),            # second seed shortcuts c and d
             ("x", "y")]             # island, no seed
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(
        spark.createDataFrame(edges, ["src", "dst"]), seeds,
        max_depth=2).collect()}
    # d: via s2→c→d = 2 (not 4 via s1); beyond-depth + island absent
    assert got == {"s1": 0, "s2": 0, "a": 1, "c": 1, "b": 2, "d": 2}


def test_bfs_distances_depth_bound_is_exact(spark):
    """Nodes exactly at max_depth are reported; deeper ones are not."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        bfs_distances,
    )

    chain = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4")]
    seeds = spark.createDataFrame([("n0",)], ["node"])
    got = {r.node: r.dist for r in bfs_distances(
        spark.createDataFrame(chain, ["src", "dst"]), seeds,
        max_depth=3).collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}


def test_sssp_weighted_strong_ties_beat_direct_weak_edge(spark):
    """A 2-hop path of cheap strong ties must beat the direct weak
    edge — the semantics hop-count BFS cannot express."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sssp_weighted,
    )

    edges = [("s", "t", 10), ("s", "m", 2), ("m", "t", 3),
             ("t", "z", 1)]
    seeds = spark.createDataFrame([("s",)], ["node"])
    got = {r.node: r.dist for r in sssp_weighted(
        spark.createDataFrame(edges, ["src", "dst", "w"]), seeds,
        rounds=4).collect()}
    assert got == {"s": 0, "m": 2, "t": 5, "z": 6}


def test_sssp_fixpoint_reached_on_testdata(spark, sf_dir):
    """The registry entry's fixed round count must reach the true
    fixpoint on the shipped graph: one more relaxation round changes
    nothing."""
    from pyspark.sql import functions as F

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sssp_weighted,
    )
    from remove_na_lgbtiq_queer_knowledge_graph_spark.queries_graph import (
        _SSSP_ROUNDS,
        _repeated_coorder_pairs,
        graph_sssp_weighted,
    )

    weighted = _repeated_coorder_pairs(spark, sf_dir, with_count=True) \
        .select("p1", "p2", F.expr("1000000 div c").cast("long").alias("w"))
    seeds = (
        weighted.select(F.col("p1").alias("node"))
        .unionAll(weighted.select(F.col("p2").alias("node")))
        .filter(F.col("node") % 97 == 0).distinct()
    )
    at_k = {(r.node, r.dist) for r in graph_sssp_weighted(spark, sf_dir).collect()}
    plus_one = {(r.node, r.dist) for r in sssp_weighted(
        weighted, seeds, _SSSP_ROUNDS + 1,
        src="p1", dst="p2", weight="w", node="node").collect()}
    assert at_k == plus_one


def test_link_prediction_hand_graph(spark):
    """Open wedge scores the non-edge; existing edges excluded; the
    hub-middle cut drops pairs whose only common neighbor is a hub
    (documented recall trade)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        link_prediction_jaccard,
    )

    # square a-b-c-d-a plus hub h connected to everything
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
             ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.u, r.w): (r.common, r.jaccard)
           for r in link_prediction_jaccard(df).collect()}
    # non-edges: (a,c) via b, d, h → common 3; N(a)=N(c)={b,d,h} → J=1
    assert got[("a", "c")] == (3, 1.0)
    assert got[("b", "d")] == (3, 1.0)
    assert ("a", "b") not in got            # existing edge excluded
    # with hub middles cut (degree ≤ 3 keeps the square, drops h):
    # the score is the jaccard of the hub-REMOVED graph — numerator
    # AND denominator from the cut neighbor table (round-11 advice):
    # N'(a)=N'(c)={b,d} → common 2, union 2, J = 1.0 (the old uncut
    # denominator gave the inconsistent 2/(3+3-2) = 0.5)
    cut = {(r.u, r.w): (r.common, r.jaccard)
           for r in link_prediction_jaccard(
               df, max_middle_degree=3).collect()}
    assert cut[("a", "c")] == (2, 1.0)      # b and d remain as middles
    assert cut[("b", "d")] == (2, 1.0)


def test_bfs_per_source_keeps_sources_separate(spark):
    """Per-source distances must not collapse to min-over-sources: a
    node reached at different depths from two seeds reports both."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        bfs_distances_per_source,
    )

    edges = [("s1", "a"), ("a", "b"), ("s2", "b")]
    seeds = spark.createDataFrame([("s1",), ("s2",)], ["node"])
    got = {(r.source, r.node): r.dist for r in bfs_distances_per_source(
        spark.createDataFrame(edges, ["src", "dst"]), seeds,
        max_depth=3).collect()}
    assert got[("s1", "b")] == 2 and got[("s2", "b")] == 1
    assert got[("s1", "s2")] == 3          # s1→a→b→s2
    assert got[("s1", "s1")] == 0 and got[("s2", "s2")] == 0


def test_sssp_property_vs_brute_dijkstra(spark):
    """Random weighted graphs: bounded Bellman-Ford must equal a
    round-bounded brute-force relaxation (pure-python reference) —
    including multi-seed minima and beyond-rounds truncation."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sssp_weighted,
    )

    edge = st.tuples(st.integers(0, 7), st.integers(0, 7),
                     st.integers(1, 9))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(edge, min_size=1, max_size=14),
           st.sets(st.integers(0, 7), min_size=1, max_size=3),
           st.integers(1, 4))
    def check(raw, seeds, rounds):
        edges = [(a, b, w) for a, b, w in raw if a != b]
        if not edges:
            return
        # brute: synchronous relaxation over the symmetric edge set,
        # exactly `rounds` rounds (same truncation semantics)
        sym = {}
        for a, b, w in edges:
            sym.setdefault(a, []).append((b, w))
            sym.setdefault(b, []).append((a, w))
        nodes_in_graph = set(sym)
        dist = {s: 0 for s in seeds if s in nodes_in_graph or True}
        for _ in range(rounds):
            nxt = dict(dist)
            for u, d in dist.items():
                for v, w in sym.get(u, []):
                    if v not in nxt or d + w < nxt[v]:
                        nxt[v] = d + w
            dist = nxt
        got = {r.node: r.dist for r in sssp_weighted(
            spark.createDataFrame(edges, "src long, dst long, w long"),
            spark.createDataFrame([(s,) for s in seeds], ["node"]),
            rounds, check_convergence=False).collect()}
        assert got == dist

    check()


def test_sssp_insufficient_rounds_fails_loud(spark):
    """The round-11 convergence guard: rounds below the weighted
    diameter must raise, not silently return short distances."""
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sssp_weighted,
    )

    # path 0-1-2-3-4: diameter 4 hops from seed 0
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(4)], "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], ["node"])
    with pytest.raises(ValueError, match="not at fixpoint"):
        sssp_weighted(edges, seeds, rounds=2)
    # deliberate truncation stays available, and the guarded full run
    # returns the exact distances
    trunc = {r.node: r.dist for r in sssp_weighted(
        edges, seeds, rounds=2, check_convergence=False).collect()}
    assert trunc == {0: 0, 1: 1, 2: 2}
    full = {r.node: r.dist for r in sssp_weighted(
        edges, seeds, rounds=4).collect()}
    assert full == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_link_prediction_property_vs_brute(spark):
    """Random graphs: wedge-join link prediction equals the O(n²)
    brute force over all non-adjacent pairs with ≥1 common neighbor."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        link_prediction_jaccard,
    )

    edge = st.tuples(st.integers(0, 9), st.integers(0, 9))

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(edge, min_size=1, max_size=20))
    def check(raw):
        edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
        if not edges:
            return
        nb = {}
        for a, b in edges:
            nb.setdefault(a, set()).add(b)
            nb.setdefault(b, set()).add(a)
        eset = set(edges)
        expect = {}
        nodes = sorted(nb)
        for i, u in enumerate(nodes):
            for w in nodes[i + 1:]:
                if (u, w) in eset:
                    continue
                common = len(nb[u] & nb[w])
                if common >= 1:
                    expect[(u, w)] = (
                        common, len(nb[u] | nb[w]))
        got = {(r.u, r.w): (r.common,) for r in link_prediction_jaccard(
            spark.createDataFrame(edges, ["src", "dst"])).collect()}
        assert set(got) == set(expect)
        for k, (common,) in got.items():
            assert common == expect[k][0], k

    check()


def test_personalized_pagerank_distribution_and_locality(spark):
    """PPR invariants: ranks sum to 1; nodes unreachable from the seed
    set score exactly 0; mass concentrates near the seeds (direct
    successor of the seed out-ranks a two-hop node)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        personalized_pagerank,
    )

    # component A: s -> a -> b (seeded); component B: x -> y (unseeded)
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("x", "y")], "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r.node: r.ppr
           for r in personalized_pagerank(edges, seeds, n_iter=12).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert got["s"] > got["a"] > got["b"] > 0


def test_personalized_pagerank_seed_outside_edges(spark):
    """A seed absent from the edge set is still a node of the
    computation: it keeps its restart mass (isolated seed = rank 1 for
    a single-seed run) instead of vanishing."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("z",)], "node string")
    got = {r.node: r.ppr
           for r in personalized_pagerank(edges, seeds, n_iter=6).collect()}
    assert got["z"] == 1.0
    assert got["a"] == 0.0 and got["b"] == 0.0


def test_tree_betweenness_guards_fail_loud(spark):
    """tree_edge_betweenness must RAISE (not return wrong numbers) on
    (a) non-forest input — a child with two parents double-counts
    subtree sizes — and (b) max_depth below the tree height, where the
    bottom-up size loop stops before fixpoint; at the exact height the
    straddling 3-level chain must pass and give the textbook values."""
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        tree_edge_betweenness,
    )

    # 3-level chain: 1->2->3->4 (heights need 3 size rounds)
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "child long, parent long")
    with pytest.raises(ValueError, match="not at fixpoint"):
        tree_edge_betweenness(chain, max_depth=2)
    got = {(r.src, r.dst): r.betweenness
           for r in tree_edge_betweenness(chain, max_depth=3).collect()}
    # edge (c,p): below(c) * (4 - below(c))
    assert got == {(1, 2): 3, (2, 3): 4, (3, 4): 3}

    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "child long, parent long")
    with pytest.raises(ValueError, match="not a forest"):
        tree_edge_betweenness(diamond, max_depth=4)

    cycle = spark.createDataFrame(
        [(1, 2), (2, 1)], "child long, parent long")
    with pytest.raises(ValueError, match="not a forest|not at fixpoint"):
        tree_edge_betweenness(cycle, max_depth=4)


def test_sssp_malformed_weight_fails_loud(spark):
    """The non-negative-LONG weight contract is enforced IN-PLAN (review
    finding: a bare cast('long') silently truncated fractional weights
    to wrong shortest paths; NULL weights propagated NULL distances;
    negatives were only caught under check_convergence)."""
    import pytest

    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sssp_weighted,
    )

    seeds = spark.createDataFrame([(1,)], "node long")
    neg = spark.createDataFrame(
        [(1, 2, 5), (2, 3, -1)], "src long, dst long, w long")
    with pytest.raises(Exception, match="non-negative integral"):
        sssp_weighted(neg, seeds, rounds=4)
    frac = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9)], "src long, dst long, w double")
    with pytest.raises(Exception, match="non-negative integral"):
        # guard fires even with the convergence probe OFF
        sssp_weighted(frac, seeds, rounds=4, check_convergence=False)
    nul = spark.createDataFrame(
        [(1, 2, 5), (2, 3, None)], "src long, dst long, w long")
    with pytest.raises(Exception, match="non-negative integral"):
        sssp_weighted(nul, seeds, rounds=4)
    # integral doubles are fine (exactly representable -> same longs)
    ok = spark.createDataFrame(
        [(1, 2, 5.0), (2, 3, 2.0)], "src long, dst long, w double")
    got = {r.node: r.dist for r in sssp_weighted(ok, seeds, rounds=4).collect()}
    assert got == {1: 0, 2: 5, 3: 7}


def test_sampled_betweenness_empty_result_keeps_id_types(spark):
    """The empty-contribs path must carry the INPUT id type (long
    here), not a hardcoded string schema — output types must not flip
    with the data shape (the transitive_closure lesson)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        sampled_edge_betweenness,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    pivots = spark.createDataFrame([(99,)], "p long")  # disjoint pivot
    for depth in (0, 3):  # 0 forces the empty-contribs early return
        out = sampled_edge_betweenness(edges, pivots, max_depth=depth)
        assert out.count() == 0
        kinds = {f.name: f.dataType.simpleString()
                 for f in out.schema.fields}
        assert kinds == {"a": "bigint", "b": "bigint",
                         "betweenness": "double"}, depth


def test_transitive_closure_null_edges_and_cap(spark):
    """Round-13 review: NULL endpoints must not crash the driver-BFS
    branch (they ride through like the distributed one), and a closure
    whose output explodes falls back to the distributed loop."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.plans.bgp import (
        _driver_closure,
        transitive_closure,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "c")], "src string, dst string")
    got = {(r.src, r.dst) for r in transitive_closure(e).collect()}
    assert ("a", "b") in got and ("b", None) in got and (None, "c") in got
    # output-cap escape: a 60-node clique-chain exceeds a tiny cap
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(60)], "src string, dst string")
    assert _driver_closure(chain, False, spark, pair_cap=10) is None
    # and the public function still returns the right closure
    assert transitive_closure(chain).count() == 60 * 61 // 2


def test_in_out_degrees_merges_null_node(spark):
    """A graph with NULLs in BOTH src and dst must emit ONE node=NULL
    row (matching degrees()' groupBy semantics), not one per join side
    (review batch: plain full equi-join never matches NULL keys)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        degrees,
        in_out_degrees,
    )

    edges = spark.createDataFrame(
        [(None, 2), (3, None), (1, 2)], "src int, dst int")
    rows = in_out_degrees(edges).collect()
    null_rows = [r for r in rows if r.node is None]
    assert len(null_rows) == 1
    assert (null_rows[0].out_degree, null_rows[0].in_degree) == (1, 1)
    # degree view of the same graph agrees on the node set
    assert {r.node for r in rows} == \
        {r.node for r in degrees(edges).collect()}


def test_tree_betweenness_duplicate_edge_rows_collapse(spark):
    """A duplicated (child, parent) row is ONE edge: it must neither
    trip the multiple-parents guard nor double-count subtree sizes
    (review batch)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        tree_edge_betweenness,
    )

    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 2)], "child long, parent long")
    got = {(r.src, r.dst): r.betweenness
           for r in tree_edge_betweenness(dup, max_depth=3).collect()}
    assert got == {(1, 2): 2, (3, 2): 2}


def test_bfs_early_exit_keeps_results(spark):
    """Early exit on an exhausted frontier is byte-identical to running
    all max_depth rounds (review batch: diameter-3 graph, depth 20)."""
    from remove_na_lgbtiq_queer_knowledge_graph_spark.operators.graph import (
        bfs_distances,
        bfs_distances_per_source,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    deep = {r.node: r.dist
            for r in bfs_distances(edges, seeds, max_depth=20).collect()}
    shallow = {r.node: r.dist
               for r in bfs_distances(edges, seeds, max_depth=3).collect()}
    assert deep == shallow == {1: 0, 2: 1, 3: 2, 4: 3}
    per = {(r.source, r.node): r.dist for r in bfs_distances_per_source(
        edges, seeds, max_depth=20).collect()}
    assert per == {(1, 1): 0, (1, 2): 1, (1, 3): 2, (1, 4): 3}
