"""PageRank operator (operators/graph.py): closed-form pins on tiny
graphs plus structural invariants the power iteration must keep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _ranks(spark, edges, **kw):
    from dataengineerchallenge_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["pr"] for r in pagerank(df, **kw).collect()}


def test_symmetric_pair_is_uniform(spark):
    # two nodes linked both ways: every iteration maps (1,1)->(1,1)
    r = _ranks(spark, [(1, 2), (2, 1)], iters=5)
    assert r == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_directed_star_closed_form(spark):
    # hub 0 -> leaves 1..3, leaves -> hub. Symmetric in/out so mass is
    # conserved; the hub accumulates: fixed point (scaled, d=0.85)
    # satisfies hub = 0.15 + 0.85*3*leaf ; leaf = 0.15 + 0.85*hub/3.
    edges = [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)]
    hub_fp = 0.15 * (1 + 3 * 0.85) / (1 - 0.85 * 0.85)
    leaf_fp = 0.15 + 0.85 * hub_fp / 3
    # geometric convergence at rate 0.85^2 per iteration pair: 30 iters
    # lands within ~1e-2, and the error must CONTRACT vs 10 iters
    r10 = _ranks(spark, edges, iters=10)
    r = _ranks(spark, edges, iters=30)
    assert r[0] == pytest.approx(hub_fp, abs=2e-2)
    for leaf in (1, 2, 3):
        assert r[leaf] == pytest.approx(leaf_fp, abs=2e-2)
    assert abs(r[0] - hub_fp) < abs(r10[0] - hub_fp) / 10


def test_mass_conserved_on_symmetric_graph(spark):
    # undirected (symmetrized) graph: no dangling mass, so scaled ranks
    # sum to |V| at every iteration count
    und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = und + [(b, a) for a, b in und]
    for iters in (1, 3, 7):
        r = _ranks(spark, edges, iters=iters)
        assert sum(r.values()) == pytest.approx(len(r), rel=1e-9)


def test_higher_degree_ranks_higher(spark):
    # node 1 has degree 3, node 4 degree 1 in the symmetrized graph
    und = [(1, 2), (1, 3), (1, 4)]
    edges = und + [(b, a) for a, b in und]
    r = _ranks(spark, edges, iters=10)
    assert r[1] > r[2] == pytest.approx(r[3]) and r[2] > 0


def test_registered_query_shape(spark):
    from dataengineerchallenge_spark.queries.graph import part_copurchase_pagerank

    out = part_copurchase_pagerank(spark, SF_SMOKE)
    rows = out.collect()
    assert rows and set(out.columns) == {"part_key", "pr"}
    # co-purchase graph is symmetric -> scaled mass == node count,
    # up to the 4-decimal rounding the contract applies per node
    total = sum(r["pr"] for r in rows)
    assert total == pytest.approx(len(rows), abs=len(rows) * 1e-4 + 0.01)


def test_graph_bench_artifact_persist_pays_at_scale():
    """Artifact-gated: at the largest measured edge rung the persisted
    loop invariants must beat recompute (the small-rung loss is the
    documented crossover, not a failure)."""
    import json
    import os

    import pytest

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_graph.json"
    )
    if not os.path.exists(path):
        pytest.skip("BENCH_graph.json not generated on this machine")
    res = json.load(open(path))["results"]
    # the artifact also carries cc_chain_*/tri_* rungs (r13); the
    # persist crossover claim is about the pr_* rows only
    pr = [r for k, r in res.items() if k.startswith("pr_")]
    assert pr, "BENCH_graph.json has no pagerank rungs"
    biggest = max(pr, key=lambda r: r["edges"])
    assert biggest["persist_speedup"] >= 1.2
    for r in pr:
        assert r["rank_mass_rel_err"] < 1e-9
    # r13 star-CC rungs: log-round convergence on chains (rounds must
    # grow like log2(n), nowhere near the diameter)
    chains = {k: r for k, r in res.items() if k.startswith("cc_chain_")}
    for r in chains.values():
        assert r["star_rounds"] <= 25
        assert r["projected_speedup"] > 10


def test_triangle_counts_closed_forms(spark):
    from dataengineerchallenge_spark.operators.graph import triangle_counts

    def tc(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    # K4: 4 triangles, every node in exactly 3; input deliberately noisy
    # (both directions + duplicates + self-loop) to exercise canonicalization
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 0), (1, 2)]
    assert tc(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # path graph: no triangles at all
    assert tc([(1, 2), (2, 3), (3, 4)]) == {}
    # two triangles sharing an edge (bowtie-ish): shared nodes count 2
    two = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    assert tc(two) == {1: 1, 2: 2, 3: 2, 4: 1}


def test_hop_distances_closed_forms(spark):
    from dataengineerchallenge_spark.operators.graph import hop_distances

    def hd(edges, source, **kw):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["hops"] for r in hop_distances(df, source, **kw).collect()}

    # directed path 1->2->3->4: exact hop counts, early termination at 3
    path = [(1, 2), (2, 3), (3, 4)]
    assert hd(path, 1) == {1: 0, 2: 1, 3: 2, 4: 3}
    # max_hops bound truncates the far tail
    assert hd(path, 1, max_hops=2) == {1: 0, 2: 1, 3: 2}
    # cycle: BFS takes the SHORT way around; disconnected node absent
    cyc = [(1, 2), (2, 3), (3, 1), (1, 3), (7, 8)]
    assert hd(cyc, 1) == {1: 0, 2: 1, 3: 1}


# --- connected_components_star (round 13) --------------------------------


def _star_labels(spark, edges, **kw):
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["node"], r["component"])
        for r in connected_components_star(df, **kw).collect()
    }


def _uf_labels(edges):
    """Exact union-find reference, labeled by component min."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import defaultdict

    groups = defaultdict(set)
    for n in parent:
        groups[find(n)].add(n)
    out = set()
    for ns in groups.values():
        m = min(ns)
        out |= {(n, m) for n in ns}
    return out


def test_star_cc_closed_forms(spark):
    # chain, hub, two components, K4+bowtie
    assert _star_labels(spark, [(1, 2), (2, 3), (3, 4)]) == {
        (1, 1), (2, 1), (3, 1), (4, 1)
    }
    hub = [(0, i) for i in range(1, 8)]
    assert _star_labels(spark, hub) == {(i, 0) for i in range(8)}
    two = [(1, 2), (2, 3), (10, 11), (11, 12)]
    assert _star_labels(spark, two) == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)
    }


def test_star_cc_matches_union_find_on_random_graphs(spark):
    import random

    random.seed(41)
    for _ in range(3):
        n = 250
        edges = [
            (random.randrange(n), random.randrange(n)) for _ in range(260)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _star_labels(spark, edges) == _uf_labels(edges)


def test_star_cc_converges_log_rounds_beyond_min_label_reach(spark):
    """The reason this operator exists: a 512-node chain has diameter 511
    — min-label at its default 25-round cap CANNOT finish it, while star
    contraction must land every node in component 1 within ~2·log2(n)
    alternations (the Kiveris bound; measured 7-9 on chains)."""
    stats: dict = {}
    edges = [(i, i + 1) for i in range(1, 512)]
    labels = _star_labels(spark, edges, stats=stats)
    assert labels == {(i, 1) for i in range(1, 513)}
    assert stats["rounds"] <= 20, f"star CC took {stats['rounds']} rounds"


def test_star_cc_orientation_and_duplicate_invariance(spark):
    """Reversed, duplicated, and self-loop-polluted edge lists must
    produce identical labels (the operator canonicalizes first)."""
    base = [(1, 2), (2, 3), (3, 4), (5, 6)]
    messy = [(b, a) for a, b in base] + base + [(2, 2), (5, 5)]
    assert _star_labels(spark, messy) == _star_labels(spark, base)


def test_star_cc_distinct_pairs_promise_identical(spark):
    """`distinct_pairs=True` (r21: skip the opening distinct when the
    caller promises one row per unordered pair) must label identically
    to the default path on a distinct src<dst edge list."""
    base = [(1, 2), (2, 3), (3, 4), (5, 6), (4, 9), (7, 8)]
    want = _star_labels(spark, base)
    assert _star_labels(spark, base, distinct_pairs=True) == want


def test_star_cc_agrees_with_min_label_on_near_dup_graph(spark):
    """Drop-in parity with the dedup clustering contract: on the actual
    near-dup pair graph, star CC's (node, component) labels equal an
    independent reference — a pure-Python union-find over the collected
    pairs that labels each component by its minimum node id."""
    from dataengineerchallenge_spark.registry import queries

    pairs = queries()["near_dup_jaccard"](spark, SF_SMOKE).select("id_a", "id_b")
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        parent[max(ra, rb)] = min(ra, rb)
    ref = {(node, find(node)) for node in parent}
    star = {
        (r["node"], r["component"])
        for r in _star_from_pairs(spark, pairs).collect()
    }
    assert star == ref
    assert len(star) > 0


def _star_from_pairs(spark, pairs):
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    return connected_components_star(pairs, src="id_a", dst="id_b")


# --- personalized PageRank (round 14) -------------------------------------


def test_personalized_pagerank_mass_and_seed_locality(spark):
    """Two disconnected triangles, seeds only in the first: total mass
    stays exactly |V| every iteration (restart + symmetric inflow
    conserve it), the seedless component's mass decays by the damping
    factor per round (it receives no restart), and the seed node
    outranks every node of the far component."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    tri = [(10, 11), (11, 12), (12, 10), (21, 22), (22, 23), (23, 21)]
    edges = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "src long, dst long"
    )
    seeds = spark.createDataFrame([(10,)], "node long")
    iters = 5
    ranks = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iters=iters, teleport=seeds).collect()
    }
    assert sum(ranks.values()) == pytest.approx(6.0, abs=1e-9)
    far_mass = ranks[21] + ranks[22] + ranks[23]
    assert far_mass == pytest.approx(3 * 0.85**iters, abs=1e-9)
    assert ranks[10] > max(ranks[21], ranks[22], ranks[23])


def test_personalized_pagerank_dangling_mass_reenters_at_seeds(spark):
    """Directed chain with a sink, seeded at the head: the sink's mass
    re-enters through the restart distribution (not uniformly), so
    total mass stays exactly |V| — the personalized form of the
    dangling correction."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    ranks = {
        r["node"]: r["pr"]
        for r in pagerank(edges, iters=5, dangling=True, teleport=seeds).collect()
    }
    assert sum(ranks.values()) == pytest.approx(3.0, abs=1e-9)
    assert ranks[1] > ranks[3]


def test_personalized_pagerank_rejects_seedless_graph(spark):
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")  # not a graph node
    with pytest.raises(ValueError, match="no teleport seed"):
        pagerank(edges, teleport=seeds)


# --- directed PageRank: dangling mass + tolerance (round 13) -------------


def test_dangling_mass_conserved_on_directed_graph(spark):
    """Bipartite sink graph (1,2 -> 11,12,13): without the correction the
    sink side leaks all its mass every step; with dangling=True the
    scaled total must stay exactly |V| (up to float-sum noise)."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = [(1, 11), (1, 12), (2, 12), (2, 13)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = pagerank(df, iters=6, dangling=True)
    total = ranks.agg(F.sum("pr")).collect()[0][0]
    assert abs(total - 5.0) < 1e-9
    # and the uncorrected run genuinely leaks (the reason the flag exists)
    leaked = pagerank(df, iters=6).agg(F.sum("pr")).collect()[0][0]
    assert leaked < 4.0


def test_dangling_closed_form_two_node_chain(spark):
    """1 -> 2, d=0.85, scaled form with uniform redistribution (N=2):
    fixpoint satisfies pr1 = 0.15 + 0.85*pr2/2 and
    pr2 = 0.15 + 0.85*(pr1 + pr2/2); solving the 2x2 system gives
    pr1 = 0.15/0.371739*... ≈ 0.70176, pr2 ≈ 1.29824 — and mass
    pr1 + pr2 = 2 exactly (contraction factor 0.85 ⇒ ~1e-3 at 45
    rounds)."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    r = {
        row["node"]: row["pr"]
        for row in pagerank(df, iters=45, dangling=True).collect()
    }
    assert abs(r[1] + r[2] - 2.0) < 1e-9
    assert abs(r[1] - 0.70176) < 2e-3
    assert abs(r[2] - 1.29824) < 2e-3


def test_tolerance_termination_stops_early_and_matches_fixed(spark):
    """tol-driven iteration must stop before the cap once max |Δpr| dips
    under tol, and the converged ranks must agree with a long fixed run
    to within the tolerance."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    tol_ranks = {
        r["node"]: r["pr"]
        for r in pagerank(df, iters=60, tol=1e-3, stats=stats).collect()
    }
    assert stats["iterations"] < 60
    assert stats["delta"] is not None and stats["delta"] < 1e-3
    # |pr_k - pr*| <= delta/(1-d): a 1e-3 stop is within 7e-3 of the
    # fixpoint a longer fixed run approximates
    fixed = {
        r["node"]: r["pr"] for r in pagerank(df, iters=80, tol=1e-7).collect()
    }
    for n in fixed:
        assert abs(fixed[n] - tol_ranks[n]) < 7e-3


def test_dangling_with_tolerance_composes(spark):
    """Both extensions together: a sink graph run to convergence keeps
    mass |V| and stops early."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = [(1, 3), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    ranks = pagerank(df, iters=80, dangling=True, tol=1e-4, stats=stats)
    total = ranks.agg(F.sum("pr")).collect()[0][0]
    assert abs(total - 4.0) < 1e-8
    assert stats["iterations"] < 80


# ---------------------------------------------------------------- HITS


def _hits_scores(spark, edges, iters):
    from dataengineerchallenge_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["kind"], r["node"]): r["s"] for r in hits(df, iters=iters).collect()
    }


def test_hits_closed_form_two_iterations(spark):
    # bipartite: hubs {1, 2}, authorities {10, 20};
    # 1 -> {10, 20}, 2 -> {10}. Hand-unrolled mean-1 iteration:
    #   a1 raw (10: 2, 20: 1)  -> x 2/3   -> (4/3, 2/3)
    #   h1 raw (1: 2, 2: 4/3)  -> x 3/5   -> (1.2, 0.8)
    #   a2 raw (10: 2, 20: 1.2)-> x 2/3.2 -> (1.25, 0.75)
    #   h2 raw (1: 2, 2: 1.25) -> x 2/3.25-> (0.6154, 0.3846) x 2
    s = _hits_scores(spark, [(1, 10), (1, 20), (2, 10)], iters=2)
    assert s[("authority", 10)] == pytest.approx(1.25)
    assert s[("authority", 20)] == pytest.approx(0.75)
    assert s[("hub", 1)] == pytest.approx(2 * 2 / 3.25)
    assert s[("hub", 2)] == pytest.approx(2 * 1.25 / 3.25)


def test_hits_mean_one_per_side(spark):
    # normalization invariant: each side averages exactly 1 every round
    edges = [(c, p) for c in range(1, 8) for p in range(100, 100 + (c % 3) + 1)]
    s = _hits_scores(spark, edges, iters=4)
    hubs = [v for (k, _), v in s.items() if k == "hub"]
    auths = [v for (k, _), v in s.items() if k == "authority"]
    assert sum(hubs) / len(hubs) == pytest.approx(1.0)
    assert sum(auths) / len(auths) == pytest.approx(1.0)


def test_hits_authority_ranks_discernment_over_volume(spark):
    # the HITS signature: part 100 is bought by the two hub customers
    # (who buy everything), part 200 by three narrow one-part buyers.
    # Raw in-degree says 200 > 100; mutual reinforcement says 100 > 200.
    edges = (
        [(1, p) for p in (100, 101, 102, 103)]
        + [(2, p) for p in (100, 101, 102, 103)]
        + [(c, 200) for c in (30, 31, 32)]
    )
    s = _hits_scores(spark, edges, iters=5)
    assert s[("authority", 100)] > s[("authority", 200)]


# ------------------------------------------------- weighted pagerank


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    from dataengineerchallenge_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    un = spark.createDataFrame(edges, "src long, dst long")
    we = spark.createDataFrame(
        [(s, d, 7.0) for s, d in edges], "src long, dst long, w double"
    )
    r_un = {r["node"]: r["pr"] for r in pagerank(un, iters=4).collect()}
    r_we = {r["node"]: r["pr"] for r in pagerank(we, iters=4, weight="w").collect()}
    for n in r_un:
        assert r_we[n] == pytest.approx(r_un[n])


def test_weighted_pagerank_follows_the_heavy_edge(spark):
    # hub 1 splits onto 2 (w=9) and 3 (w=1): node 2 must out-rank node 3;
    # unweighted would tie them. Mass stays |V| (scaled-form invariant).
    we = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        "src long, dst long, w double",
    )
    from dataengineerchallenge_spark.operators.graph import pagerank

    r = {x["node"]: x["pr"] for x in pagerank(we, iters=8, weight="w").collect()}
    assert r[2] > r[3]
    assert sum(r.values()) == pytest.approx(3.0)


# ---------------------------------------------------------------- coreness


def _cores(spark, und_edges, iters=5):
    from dataengineerchallenge_spark.operators.graph import coreness

    edges = und_edges + [(b, a) for a, b in und_edges]
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["core"] for r in coreness(df, iters=iters).collect()}


def _peel_cores(und_edges):
    """Sequential Matula-Beck reference peel: repeatedly remove the
    minimum-degree node; its core number is the running max of the
    minimum degree seen so far."""
    adj: dict[int, set[int]] = {}
    for a, b in und_edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core: dict[int, int] = {}
    k = 0
    live = dict(adj)
    while live:
        v = min(live, key=lambda n: (len(live[n]), n))
        k = max(k, len(live[v]))
        core[v] = k
        for u in live[v]:
            live[u].discard(v)
        del live[v]
    return core


def test_coreness_closed_forms(spark):
    # triangle + pendant: triangle nodes are 2-core, the pendant is 1
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert _cores(spark, und) == {1: 2, 2: 2, 3: 2, 4: 1}
    # K4: every node coreness 3
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _cores(spark, k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # path graph: all coreness 1
    path = [(i, i + 1) for i in range(5)]
    assert set(_cores(spark, path).values()) == {1}


def test_coreness_matches_sequential_peel_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        und = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(80)
                )
                if a != b
            }
        )
        # h-index iteration converges within diameter-ish rounds on a
        # 30-node graph; 12 is generous
        assert _cores(spark, und, iters=12) == _peel_cores(und)


def test_coreness_fixture_rounds_are_converged(spark):
    """The registered 16-round form has already reached the Matula-Beck
    fixpoint on the fixture co-purchase graph: round 5 == round 6, so
    the hash-green row certifies true core numbers, not a mid-descent
    iterate."""
    from dataengineerchallenge_spark.queries.graph import (
        _CORE_ITERS,
        _staged_copurchase_edges,
    )
    from dataengineerchallenge_spark.operators.graph import coreness

    root = _staged_copurchase_edges(spark, SF_SMOKE)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    edges = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = {r["node"]: r["core"] for r in coreness(edges, iters=_CORE_ITERS).collect()}
    b = {
        r["node"]: r["core"]
        for r in coreness(edges, iters=_CORE_ITERS + 1).collect()
    }
    assert a == b


def test_coreness_rejects_bad_iters(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    from dataengineerchallenge_spark.operators.graph import coreness

    with pytest.raises(ValueError):
        coreness(df, iters=0)


# ------------------------------------------------- deterministic walks


def _u32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_deterministic_walks_replay_with_hashlib(spark):
    """The operator's transitions must match an independent pure-Python
    replay of the argmin-md5 rule on a small random graph."""
    import random

    from dataengineerchallenge_spark.operators.graph import deterministic_walks

    rng = random.Random(11)
    n = 12
    und = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(25))
            if a != b
        }
    )
    edges = und + [(b, a) for a, b in und]
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in deterministic_walks(df, steps=3).collect()
    }
    for start in adj:
        node = start
        assert got[(start, 0)] == start
        for i in (1, 2, 3):
            node = min(adj[node], key=lambda v: (_u32(f"{start}:{i}:{v}"), v))
            assert got[(start, i)] == node


def test_deterministic_walks_visit_distribution_is_uniformish(spark):
    # on a complete graph every neighbor should be drawn with roughly
    # equal frequency across walks/steps — the md5 draw is a uniform
    from collections import Counter

    from dataengineerchallenge_spark.operators.graph import deterministic_walks

    n = 20
    edges = [(a, b) for a in range(n) for b in range(n) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = deterministic_walks(df, steps=10).collect()
    c = Counter(r["node"] for r in rows if r["step"] > 0)
    # 200 draws over 20 candidates: expect ~10 each, allow wide slack
    assert set(c) == set(range(n))
    assert max(c.values()) <= 4 * min(c.values())


def test_deterministic_walks_rejects_bad_steps(spark):
    from dataengineerchallenge_spark.operators.graph import deterministic_walks

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        deterministic_walks(df, steps=0)


# ---------------------------------------------------------------- truss


def _truss(spark, und_edges, k=3, iters=3):
    from dataengineerchallenge_spark.operators.graph import truss

    df = spark.createDataFrame(und_edges, "src long, dst long")
    return {
        (r["src"], r["dst"]): r["support"]
        for r in truss(df, k=k, iters=iters).collect()
    }


def test_truss_closed_forms(spark):
    # triangle + pendant: the pendant edge has support 0 and dies; the
    # triangle survives with support 1 per edge
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert _truss(spark, und, k=3) == {(1, 2): 1, (2, 3): 1, (1, 3): 1}
    # K4: every edge sits in 2 triangles; 4-truss keeps all of K4
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _truss(spark, k4, k=4) == {e: 2 for e in k4}
    # two triangles sharing an edge, plus a 4-truss probe: the shared
    # edge has support 2, the others 1 — the 4-truss peel kills the
    # support-1 edges, which then strands the shared edge (support
    # recomputed on survivors drops to 0) — the CASCADE that makes the
    # peel iterative
    bowtie = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    assert _truss(spark, bowtie, k=4, iters=3) == {}


def test_truss_cascade_needs_iterations(spark):
    # chain of triangles: t1=(1,2,3), t2=(2,3,4) sharing (2,3), and a
    # pendant triangle feeder (4,5),(4,6),(5,6) plus bridge (1,5)
    # (N(1) and N(5) are disjoint, so it closes no triangle): the
    # bridge dies round 1 (support 0) — everything else survives k=3
    und = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 6), (1, 5)]
    got = _truss(spark, und, k=3)
    assert (1, 5) not in got
    assert set(got) == {(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 6)}


def test_truss_rejects_bad_args(spark):
    from dataengineerchallenge_spark.operators.graph import truss

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        truss(df, k=2)
    with pytest.raises(ValueError):
        truss(df, iters=0)


def test_clustering_coefficient_closed_forms(spark, tmp_path):
    """K4 has cc 1.0 everywhere; a star's hub has cc 0; a pendant node
    carries the undefined sentinel — via a synthetic lineitem fixture so
    the registered query (not just an operator) is exercised."""
    import os

    # orders as cliques: order 1 buys parts 1-4 twice (support >= 2 K4);
    # order 3 adds part 5 bought with part 1 twice (pendant on the K4)
    rows = []
    oid = 0
    for _ in range(2):  # twice -> every pair reaches support 2
        oid += 1
        rows += [(oid, p) for p in (1, 2, 3, 4)]
    for _ in range(2):
        oid += 1
        rows += [(oid, 1), (oid, 5)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    sf = os.path.join(str(tmp_path), "cc")
    df.write.mode("overwrite").parquet(os.path.join(sf, "lineitem.parquet"))
    # the staged store also reads orders.parquet for its content tag
    spark.createDataFrame(
        [(i, 1) for i in range(1, oid + 1)], "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
    from dataengineerchallenge_spark.queries.graph import (
        copurchase_clustering_coefficient,
    )

    got = {
        r["part_key"]: r
        for r in copurchase_clustering_coefficient(spark, sf).collect()
    }
    # parts 2,3,4: neighbors {1,+2 others} all connected -> cc 1.0
    for p in (2, 3, 4):
        assert got[p]["cc_micropoints"] == 1000000, got[p]
    # part 1: degree 4 (2,3,4,5), triangles 3 (within K4) -> 2*3/(4*3)=0.5
    assert got[1]["degree"] == 4 and got[1]["n_triangles"] == 3
    assert got[1]["cc_micropoints"] == 500000
    # pendant part 5: degree 1 -> undefined sentinel
    assert got[5]["cc_micropoints"] == -1
