"""Registered graph queries: PageRank over the part co-purchase graph.

The iterative-join algorithm class (power iteration) on the TPC-H-ish
fixture: parts are linked when they appear in the same order, and five
PageRank iterations rank parts by co-purchase centrality. The oracle is
the SAME five iterations UNROLLED as chained CTEs — DuckDB has no loop
construct, but a fixed iteration count is just five nested SELECTs, so
the query stays fully hash-checked (scaled ranks rounded to 4 decimals
on both sides, the repo's standard float discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineerchallenge_spark.operators.graph import (
    _bc,
    _iterate,
    _loop_cache,
    _release,
    pagerank,
)
from dataengineerchallenge_spark.registry import register
from dataengineerchallenge_spark.sources.tables import load_table, local_frame

_ITERS = 5
_DAMPING = 0.85


def _pagerank_oracle(iters: int, li_pred: str = "") -> str:
    """Unrolled power-iteration oracle: r0 = 1.0 everywhere, then
    r{i+1}(v) = 0.15 + 0.85 * sum over in-edges of r{i}(u)/outdeg(u).
    The co-purchase graph is symmetric, so nodes = distinct src and no
    dangling-mass correction is needed (operators/graph.py docstring).
    ``li_pred`` restricts the fact rows the edge list derives from —
    the retraction rung passes the corpus-minus-takedown predicate so
    the SAME oracle grades the delete-delta-maintained store."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""r{i + 1} AS (
      SELECT n.node, {1 - _DAMPING} + {_DAMPING} * COALESCE(s.inflow, 0.0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr / od.outdeg) AS inflow
        FROM e
        JOIN r{i} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey{li_pred}
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), od AS (
      SELECT src, count(*) AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    ),
    {chain}
    SELECT node AS part_key, ROUND(pr, 4) AS pr FROM r{iters}
    """


@register("part_copurchase_pagerank", oracle=_pagerank_oracle(_ITERS))
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm as pure DataFrame algebra: PageRank
    (5 power iterations, damping 0.85) over the part co-purchase graph —
    parts co-occurring in one order are linked both ways. Ranks are the
    |V|-scaled form (mean 1.0) rounded to 4 decimals.

    Scale: the edge build is one self-join shuffling lineitem on
    l_orderkey (per-order fanout is bounded by order size, ~7 lines, so
    no quadratic blowup); each iteration is one src-join + one dst-sum
    over the edge list — see operators/graph.py for the bucketed-edge /
    checkpointing story at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    ranks = pagerank(edges, iters=_ITERS, damping=_DAMPING)
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


@register(
    "part_copurchase_triangles",
    oracle="""
    WITH e AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1
      JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ), members AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM members GROUP BY node
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (per-node participation) on the co-purchase
    graph — the local-clustering primitive behind community detection
    and recommendation diversity screens. The Spark side orients edges
    by DEGREE rank (wedge fanout bounded O(sqrt(E)) per node, the trick
    that survives hub-skewed real graphs); the oracle uses the simpler
    raw-id orientation — per-node counts are orientation-invariant, so
    they hash-match anyway (operators/graph.py:triangle_counts).

    Edges carry a SUPPORT >= 2 threshold (pairs co-purchased in at least
    two orders — the standard market-basket cut): the raw co-occurrence
    graph is quadratically dense in order size (1.2M pairs at sf0.1,
    average degree ~90, wedge fanout OOMs a default-heap local run and
    would be a shuffle bomb at 100 TB), while the supported graph stays
    ~4k edges at EVERY fixture scale because repeated co-purchase is a
    genuine signal, not combinatorial noise."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .drop("support")
    )
    from dataengineerchallenge_spark.operators.graph import triangle_counts

    out = triangle_counts(edges)
    return out.select(
        F.col("node").alias("part_key"), F.col("n_triangles").cast("long").alias("n_triangles")
    )


@register(
    "part_copurchase_hops",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), reach(node, hops) AS (
      SELECT (SELECT MIN(u) FROM e), 0
      UNION
      SELECT e.v, r.hops + 1
      FROM reach r JOIN e ON e.u = r.node
      WHERE r.hops < 6
    )
    SELECT node AS part_key, CAST(MIN(hops) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def part_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from the lowest-id part over the support>=2
    co-purchase graph (<= 6 hops) — 'how far is everything from this
    product in repeated-co-purchase space', the neighborhood primitive
    under related-item carousels. Iterative frontier-expansion joins
    with early termination (operators/graph.py:hop_distances); the
    oracle is a depth-bounded recursive CTE whose UNION-dedup keeps the
    row space nodes x hops, with MIN(hops) collapsing re-reaches to the
    BFS distance."""
    from dataengineerchallenge_spark.operators.graph import hop_distances

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    canon = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .drop("support")
    )
    edges = canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).union(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # source defaults to min(src) INSIDE hop_distances, read from its
    # cached edge frame — computing it here would run the self-join
    # edge build twice
    out = hop_distances(edges, max_hops=6)
    return out.select(
        F.col("node").alias("part_key"), F.col("hops").cast("int").alias("hops")
    )


def _directed_pagerank_oracle(iters: int) -> str:
    """Unrolled power iteration WITH the dangling-mass correction over
    the customer→part purchase digraph: every part node is a rank sink
    (no out-edges), so each step redistributes the entire part-side mass
    uniformly — r{i+1}(v) = 0.15 + 0.85·(inflow(v) + d{i}/|V|). Mass is
    exactly |V| every step (pinned in pytest on the Spark side)."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""d{i} AS (
      SELECT COALESCE(SUM(r.pr), 0.0) AS ds
      FROM r{i} r JOIN dang g ON r.node = g.node
    ), r{i + 1} AS (
      SELECT n.node,
             {1 - _DAMPING} + {_DAMPING} * (COALESCE(s.inflow, 0.0) + d{i}.ds / nn.n) AS pr
      FROM nodes n
      CROSS JOIN d{i}
      CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr / od.outdeg) AS inflow
        FROM e
        JOIN r{i} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS src,
             -l.l_partkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), od AS (
      SELECT src, count(*) AS outdeg FROM e GROUP BY src
    ), dang AS (
      SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM od)
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    ),
    {chain}
    SELECT node, ROUND(pr, 4) AS pr FROM r{iters}
    """


@register("directed_purchase_pagerank", oracle=_directed_pagerank_oracle(_ITERS))
def directed_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank generalized to GENUINELY DIRECTED graphs (VERDICT r12
    #3): the customer→part purchase digraph, where every part node is a
    sink (parts never buy), so without the per-iteration dangling-mass
    redistribution the whole part side's rank would leak every step and
    total mass would collapse toward (1-d)·|V|. With the correction the
    scaled mass stays exactly |V| (mass-conservation pytest extended to
    the dangling case in tests/test_graph.py), and the oracle unrolls
    the SAME corrected update as chained CTEs — so the query is
    hash-checked end to end, sinks and all.

    Scale shape: identical per-iteration plan to the symmetric query
    (one src-join + one dst-sum) plus one broadcast 1-row dangling-sum
    aggregate — the correction costs a semi-join over |V| rows, never an
    edge-set pass. Part nodes are NEGATED (node -p = part p, node c =
    customer c): the two key spaces can never collide at ANY scale
    factor, where an additive offset silently aliases part nodes onto
    customer nodes once o_custkey outgrows it (ADVICE r13 #4; part keys
    are strictly positive, so the sign is a total disambiguator)."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_partkey")).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, iters=_ITERS, damping=_DAMPING, dangling=True)
    return ranks.select("node", F.round("pr", 4).alias("pr"))


def _personalized_pagerank_oracle(iters: int) -> str:
    """Unrolled personalized power iteration over the symmetric
    co-purchase graph: restart mass lands only on the seed parts
    (part_key % 10 = 0), t(v) = |V|/|S| on seeds else 0 —
    r{i+1}(v) = 0.15·t(v) + 0.85·inflow(v). Symmetric graph ⇒ no
    dangling mass; total stays exactly |V| (pinned Spark-side)."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""r{i + 1} AS (
      SELECT n.node,
             {1 - _DAMPING} * CASE WHEN n.node % 10 = 0
                                   THEN nn.n / ns.s ELSE 0.0 END
             + {_DAMPING} * COALESCE(sx.inflow, 0.0) AS pr
      FROM nodes n
      CROSS JOIN nn CROSS JOIN ns
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr / od.outdeg) AS inflow
        FROM e
        JOIN r{i} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
      ) sx ON n.node = sx.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
    ), ns AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM nodes WHERE node % 10 = 0
    ), od AS (
      SELECT src, count(*) AS outdeg FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    ),
    {chain}
    SELECT node AS part_key, ROUND(pr, 4) AS pr FROM r{iters}
    """


@register(
    "personalized_copurchase_pagerank",
    oracle=_personalized_pagerank_oracle(_ITERS),
)
def personalized_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1++ PERSONALIZED (topic-sensitive) PageRank (Haveliwala WWW'02):
    restart mass lands only on a seed set — here parts with
    part_key % 10 = 0 stand in for 'the products this user already
    bought' — so ranks measure co-purchase proximity TO THE SEEDS, the
    related-items primitive behind personalized recommendation rails,
    where global PageRank measures popularity. Seeds get t = |V|/|S|
    (mean-1 restart vector), every update conserves total mass |V| on
    the symmetric graph, and the oracle unrolls the same seeded update
    as chained CTEs — hash-checked end to end.

    Scale shape: identical per-iteration plan to the global query (one
    src-join + one dst-sum over the cached edge list); the seed
    indicator is one broadcast join onto the node frame, built once as
    a loop invariant — personalization costs nothing per iteration."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    seeds = (
        li.select(F.col("l_partkey").alias("node"))
        .filter(F.col("node") % 10 == 0)
        .distinct()
    )
    ranks = pagerank(
        edges, iters=_ITERS, damping=_DAMPING, teleport=seeds
    )
    return ranks.select(
        F.col("node").alias("part_key"), F.round("pr", 4).alias("pr")
    )


@register(
    "copurchase_components",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), reach(node, comp) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e) t
      UNION
      SELECT e.v, r.comp
      FROM reach r JOIN e ON e.u = r.node
    )
    SELECT node AS part_key, CAST(MIN(comp) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the support>=2 co-purchase graph via
    alternating large-star/small-star contraction (operators/graph.py
    connected_components_star) — 'which parts belong to the same
    repeatedly-bought-together cluster', the graph capstone the dedup
    clustering family needs at 100 TB where min-label's
    diameter-proportional rounds are the bottleneck. Component id = the
    minimum part key in the component, so the result is deterministic
    and the oracle is a recursive-CTE reachability fixpoint: every node
    keeps the MIN node id it can reach, which over an undirected edge
    set is exactly the component min. O(log n) round convergence and
    min-label/union-find parity are pinned in tests/test_graph.py; the
    chain-graph scaling crossover vs min-label is measured in
    BENCH_graph.json."""
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .drop("support")
    )
    # the groupBy output holds each src<dst pair exactly once -> the
    # operator may skip its opening distinct (r21).
    out = connected_components_star(edges, distinct_pairs=True)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "part_pair_affinity",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op
    ), freq AS (
      SELECT l_partkey, count(*) AS f FROM op GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS supp
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT p.u, p.v, CAST(p.supp AS BIGINT) AS supp,
           ROUND(p.supp * n.n_orders / (fa.f * CAST(fb.f AS DOUBLE)), 4) AS lift
    FROM pairs p
    JOIN freq fa ON fa.l_partkey = p.u
    JOIN freq fb ON fb.l_partkey = p.v
    CROSS JOIN n
    """,
)
def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair affinity: support (orders containing both
    parts, >= 2) and LIFT (observed co-occurrence over the independence
    expectation) for every repeatedly co-purchased pair — the scoring
    layer on the same supported-pair graph the triangle/BFS queries
    walk. Lift > 1 = genuinely associated, < 1 = co-occurring less than
    chance; the integer support and exact integer frequencies make the
    one float expression identical on both engines (ROUND 4).

    Scale: (order, part) distinct-collapse, the self-join shuffles on
    l_orderkey with per-order bounded fanout, frequencies broadcast back
    onto the pair frame — no step carries more than the pair set."""
    # r20: the distinct (order, part) frame feeds every consumer below
    # from ONE shuffle on the self-join key + lazy checkpoint: the
    # checkpoint's LogicalRDD preserves the hash partitioning
    # (SPARK-23515), so the self-join needs no further exchange and no
    # consumer re-derives the distinct (guide §2.4; profiled on
    # part_pair_affinity: the distinct subtree executed once per
    # consumer, two identical 5.95 MB exchanges for the self-join alone
    # at sf0.1).
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .repartition("l_orderkey")
        .localCheckpoint(eager=False)
    )
    n_orders = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    freq = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("u"), F.col("f").alias("fa"))
    fb = freq.select(F.col("l_partkey").alias("v"), F.col("f").alias("fb"))
    return (
        pairs.join(F.broadcast(fa), "u")
        .join(F.broadcast(fb), "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "u",
            "v",
            F.col("supp").cast("long").alias("supp"),
            F.round(
                F.col("supp") * F.col("n_orders")
                / (F.col("fa") * F.col("fb").cast("double")),
                4,
            ).alias("lift"),
        )
    )


def _hits_oracle(iters: int) -> str:
    """Unrolled HITS mutual power iteration: h0 = 1.0 on every customer,
    then per iteration the authority update (sum of hub scores over
    in-edges) and the hub update (sum of authority scores over
    out-edges), each renormalized to mean 1 over its side — the exact
    update operators/graph.py:hits runs, as chained CTEs.

    Every step CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    reference, and each normalization references its raw frame twice
    (values + the 1-row sum), so un-materialized chaining doubles the
    inlined plan per HALF-iteration — 4^iters copies of the base join,
    the exact blow-up the Spark side's per-round localCheckpoint
    prevents (operator docstring). MATERIALIZED keeps the oracle
    linear in iters."""
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""a{i}r AS MATERIALIZED (
      SELECT e.dst AS node, SUM(h.s) AS s
      FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
    ), a{i} AS MATERIALIZED (
      SELECT node, s * (SELECT n FROM na) / (SELECT SUM(s) FROM a{i}r) AS s
      FROM a{i}r
    ), h{i}r AS MATERIALIZED (
      SELECT e.src AS node, SUM(a.s) AS s
      FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ), h{i} AS MATERIALIZED (
      SELECT node, s * (SELECT n FROM nh) / (SELECT SUM(s) FROM h{i}r) AS s
      FROM h{i}r
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nh AS (SELECT COUNT(DISTINCT src) AS n FROM e),
    na AS (SELECT COUNT(DISTINCT dst) AS n FROM e),
    h0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS s FROM e),
    {chain}
    SELECT node AS node_key, 'hub' AS kind, ROUND(s, 4) AS score FROM h{iters}
    UNION ALL
    SELECT node AS node_key, 'authority' AS kind, ROUND(s, 4) AS score FROM a{iters}
    """


@register("purchase_hits", oracle=_hits_oracle(_ITERS))
def purchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities (Kleinberg JACM'99) over the bipartite
    customer -> part purchase graph: a customer is a good HUB when they
    buy high-authority parts; a part is a good AUTHORITY when bought by
    high-hub customers — the mutual-reinforcement ranking PageRank's
    single score can't express (a part bought once by ten discerning
    buyers can out-rank one bought often by drive-by customers).

    Five iterations, scores renormalized to mean 1 per side each
    half-step (the repo's scaled-form convention — any fixed rescaling
    preserves the principal-eigenvector direction, see the operator
    docstring), ROUND(4) on both engines; the oracle unrolls the SAME
    updates as chained CTEs, so the query is hash-checked end to end.

    Scale: two pagerank-shaped join+agg passes per iteration, score
    frames broadcast by AQE, rounds localCheckpoint-ed (constant plan
    depth). No namespace trick needed: hub and authority frames never
    union raw ids without the `kind` discriminator column."""
    from dataengineerchallenge_spark.operators.graph import hits

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    scored = hits(edges, iters=_ITERS)
    return scored.select(
        F.col("node").alias("node_key"), "kind", F.round("s", 4).alias("score")
    )


def _weighted_pagerank_oracle(iters: int) -> str:
    """Unrolled WEIGHTED power iteration: inflow(v) = sum over in-edges
    of r(u) * w(u,v) / W(u) — the same five chained CTEs as the
    unweighted oracle with the row-stochastic weight share swapped in."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""r{i + 1} AS (
      SELECT n.node, {1 - _DAMPING} + {_DAMPING} * COALESCE(s.inflow, 0.0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr * e.w / od.sw) AS inflow
        FROM e
        JOIN r{i} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*)::DOUBLE AS w
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), od AS (
      SELECT src, SUM(w) AS sw FROM e GROUP BY src
    ), r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes
    ),
    {chain}
    SELECT node AS part_key, ROUND(pr, 4) AS pr FROM r{iters}
    """


@register(
    "weighted_copurchase_pagerank", oracle=_weighted_pagerank_oracle(_ITERS)
)
def weighted_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 weighted: PageRank over the co-purchase graph with edge weight
    = co-purchase support (number of shared orders), so a part's rank
    flows preferentially along its STRONG associations instead of
    splitting evenly across every incidental pairing — the difference
    between "bought together twice" and "bought together in one big
    basket" that the unweighted twin (`part_copurchase_pagerank`)
    deliberately erases. Row-stochastic share pr(u)·w(u,v)/W(u): all
    mass properties carry over; the graph is symmetric so total mass
    stays exactly \\|V\\| with no dangling correction.

    Scale: identical per-iteration plan to the unweighted query — the
    weight rides the persisted edge frame, W(u) is the same one-time
    invariant as outdeg, zero extra shuffles."""
    from dataengineerchallenge_spark.operators.graph import pagerank

    # r20: the distinct (order, part) frame feeds every consumer below
    # from ONE shuffle on the self-join key + lazy checkpoint: the
    # checkpoint's LogicalRDD preserves the hash partitioning
    # (SPARK-23515), so the self-join needs no further exchange and no
    # consumer re-derives the distinct (guide §2.4; profiled on
    # part_pair_affinity: the distinct subtree executed once per
    # consumer, two identical 5.95 MB exchanges for the self-join alone
    # at sf0.1).
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .repartition("l_orderkey")
        .localCheckpoint(eager=False)
    )
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = pagerank(edges, iters=_ITERS, damping=_DAMPING, weight="w")
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


def _staged_copurchase_edges(spark: SparkSession, sf_dir: str) -> str:
    """Build-once purchase-graph EDGE STORE (the build half of the
    G-family build/serve split — VERDICT r14 #1). Every inline graph
    headliner re-derived its edge list from the lineitem self-join per
    query (~1/3 of the graph block's cost, and at 100 TB a re-shuffle
    of the fact table per analytics call); ANN and dedup already stage
    their index state, so graph analytics gets the same treatment:
    derive the edge tables ONCE per fixture content version, publish
    content-addressed, and serve every algorithm from the staged frames.

    Artifacts under the slot (each written repartitioned by src — on a
    cluster this would be a bucketed/sorted layout so the per-iteration
    src-join is co-located; single-file fixtures just get cluster-width
    files):

    - ``sym/``   (src, dst, w, wr): symmetric co-purchase edges over
      parts, with BOTH support notions the inline family uses —
      w = number of shared DISTINCT orders (the weighted-PageRank
      weight, duplicate lines must not double an association) and
      wr = RAW co-occurring line-pair count (what the support>=2
      components/triangles threshold counts; the fixture does carry
      duplicate (order, part) lines, so the two genuinely differ).
      The UNWEIGHTED edge set is exactly ``select src, dst``, the
      weighted graph uses w, and the support>=2 canonical set is
      ``filter wr >= 2 AND src < dst`` — one frame serves the whole
      symmetric family.
    - ``symdeg/`` (src, outdeg, sw): per-source edge count and weight
      sum — the degree invariants pagerank needs, precomputed at build.
    - ``bip/``   (src, dst): distinct customer->part purchase edges
      (the bipartite digraph HITS and directed PageRank walk).
    - ``bipdeg/`` (src, outdeg): per-customer out-degree of ``bip``.

    The content tag keys on lineitem.parquet, with orders.parquet's
    mtime folded into the salt (bip joins both tables; either fixture
    rewrite must invalidate the slot).
    """
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a, b = li.alias("a"), li.alias("b")
        # one raw self-join yields both support notions: count(*) is the
        # raw line-pair count, count_distinct(orderkey) the shared-order
        # count (== the distinct-op self-join's group size)
        sym = (
            a.join(b, "l_orderkey")
            .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
            .groupBy(
                F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
            )
            .agg(
                F.count_distinct("l_orderkey").cast("double").alias("w"),
                F.count(F.lit(1)).alias("wr"),
            )
        )
        write_result(sym.repartition("src"), str(out / "sym"))
        sym_staged = spark.read.parquet(str(out / "sym"))
        write_result(
            sym_staged.groupBy("src").agg(
                F.count(F.lit(1)).alias("outdeg"), F.sum("w").alias("sw")
            ),
            str(out / "symdeg"),
        )
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        bip = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
            .distinct()
        )
        write_result(bip.repartition("src"), str(out / "bip"))
        bip_staged = spark.read.parquet(str(out / "bip"))
        write_result(
            bip_staged.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")),
            str(out / "bipdeg"),
        )

    orders_mtime = (Path(sf_dir) / "orders.parquet").stat().st_mtime_ns
    return staged(
        spark,
        "gedges",
        Path(sf_dir) / "lineitem.parquet",
        f"copurchase_v1:orders{orders_mtime}",
        build,
    )


@register("part_copurchase_pagerank_staged", oracle=_pagerank_oracle(_ITERS))
def part_copurchase_pagerank_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `part_copurchase_pagerank`: identical algorithm and
    oracle, but the edge list and out-degrees come from the staged store
    (`_staged_copurchase_edges`) instead of the per-query lineitem
    self-join — the plan touches ONLY the staged parquet, never the fact
    table. This is the 100 TB-correct shape: the edge build amortizes
    across every graph analytics call, exactly as the IVF-PQ index
    amortizes across ANN lookups."""
    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    deg = spark.read.parquet(f"{root}/symdeg").select("src", "outdeg")
    ranks = pagerank(
        sym.select("src", "dst"), iters=_ITERS, damping=_DAMPING, outdeg=deg
    )
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


@register(
    "weighted_copurchase_pagerank_staged", oracle=_weighted_pagerank_oracle(_ITERS)
)
def weighted_copurchase_pagerank_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `weighted_copurchase_pagerank`: the support weights
    ride the staged edge frame and the out-weight sums are the staged
    `symdeg.sw` column — zero aggregation over the fact table at serve
    time, same oracle, same hash."""
    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    degw = spark.read.parquet(f"{root}/symdeg").select(
        "src", F.col("sw").alias("outdeg")
    )
    ranks = pagerank(
        sym, iters=_ITERS, damping=_DAMPING, weight="w", outdeg=degw
    )
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


@register("purchase_hits_staged", oracle=_hits_oracle(_ITERS))
def purchase_hits_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `purchase_hits`: the bipartite customer->part edge
    list reads from the staged store's `bip/` frame — the orders-to-
    lineitem join and distinct-collapse happened once at build."""
    from dataengineerchallenge_spark.operators.graph import hits

    root = _staged_copurchase_edges(spark, sf_dir)
    edges = spark.read.parquet(f"{root}/bip")
    scored = hits(edges, iters=_ITERS)
    return scored.select(
        F.col("node").alias("node_key"), "kind", F.round("s", 4).alias("score")
    )


@register(
    "directed_purchase_pagerank_staged", oracle=_directed_pagerank_oracle(_ITERS)
)
def directed_purchase_pagerank_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `directed_purchase_pagerank`: reads the staged
    bipartite edges and negates the part side at read (the namespace
    disambiguation documented on the inline twin); out-degrees are the
    staged `bipdeg/` frame (negation leaves src untouched). The
    dangling-mass correction runs exactly as inline."""
    root = _staged_copurchase_edges(spark, sf_dir)
    edges = spark.read.parquet(f"{root}/bip").select(
        "src", (-F.col("dst")).alias("dst")
    )
    deg = spark.read.parquet(f"{root}/bipdeg")
    ranks = pagerank(
        edges, iters=_ITERS, damping=_DAMPING, dangling=True, outdeg=deg
    )
    return ranks.select("node", F.round("pr", 4).alias("pr"))


@register(
    "copurchase_components_staged",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), reach(node, comp) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM e) t
      UNION
      SELECT e.v, r.comp
      FROM reach r JOIN e ON e.u = r.node
    )
    SELECT node AS part_key, CAST(MIN(comp) AS BIGINT) AS component
    FROM reach GROUP BY node
    """,
)
def copurchase_components_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `copurchase_components`: the support>=2 canonical
    edge set is a FILTER over the staged symmetric frame (wr >= 2 AND
    src < dst selects each unordered pair once — sym holds both
    directions, and the raw pair count is direction-symmetric since the
    (p1, p2) count per order is n1*n2 either way), so star contraction
    starts from staged parquet with no fact-table scan. The filter uses
    the RAW support column `wr` because that is what the inline query
    and its oracle threshold on — the fixture carries duplicate
    (order, part) lines, so thresholding the distinct-order support `w`
    would drop edges the oracle keeps."""
    from dataengineerchallenge_spark.operators.graph import (
        connected_components_star,
    )

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    edges = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    # src < dst over the symmetric store selects each unordered pair
    # exactly once -> the operator may skip its opening distinct (r21).
    out = connected_components_star(edges, distinct_pairs=True)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "part_copurchase_triangles_staged",
    oracle="""
    WITH e AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1
      JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    ), members AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM members GROUP BY node
    """,
)
def part_copurchase_triangles_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `part_copurchase_triangles`: the support>=2 edge
    set filters off the staged symmetric frame (raw support column wr —
    what the inline threshold counts), so the degree-oriented wedge
    join starts from staged parquet with no lineitem self-join."""
    from dataengineerchallenge_spark.operators.graph import triangle_counts

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    edges = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    out = triangle_counts(edges)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


@register(
    "part_copurchase_hops_staged",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), reach(node, hops) AS (
      SELECT (SELECT MIN(u) FROM e), 0
      UNION
      SELECT e.v, r.hops + 1
      FROM reach r JOIN e ON e.u = r.node
      WHERE r.hops < 6
    )
    SELECT node AS part_key, CAST(MIN(hops) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def part_copurchase_hops_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE rung of `part_copurchase_hops`: the staged support>=2
    canonical set unions both directions and feeds the same BFS
    frontier expansion — the per-query self-join is gone, completing
    the staged serve family (every G-headliner now has a serve twin)."""
    from dataengineerchallenge_spark.operators.graph import hop_distances

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    edges = canon.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        canon.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    out = hop_distances(edges, max_hops=6)
    return out.select(
        F.col("node").alias("part_key"), F.col("hops").cast("int").alias("hops")
    )


def _copurchase_pair_counts(rows: DataFrame) -> DataFrame:
    """(src, dst, w, wr) co-purchase supports from (l_orderkey,
    l_partkey) rows: w = shared DISTINCT orders, wr = raw co-occurring
    line pairs. ADDITIVE over any order-partitioned split of the fact
    table — each order's contribution is independent of every other
    order's, which is what makes both the batch append and the
    streaming drain exact."""
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(
            F.count_distinct("l_orderkey").cast("double").alias("w"),
            F.count(F.lit(1)).alias("wr"),
        )
    )


def _staged_copurchase_edges_appended(spark: SparkSession, sf_dir: str) -> str:
    """INCREMENTAL edge-store maintenance (the append half the ANN index
    and MinHash band store already have): the base store builds from
    orders with o_orderkey % 10 != 0 (the 'history' delivery), the
    delta aggregates ONLY the held-out orders' line pairs, and the two
    MERGE by summing supports per (src, dst) — correct because
    co-purchase edges are per-order pair counts, so a new order's
    contribution is independent of history (additive by construction;
    no old edge is ever re-derived). The merged sym/symdeg frames must
    equal the full-corpus rebuild EXACTLY — pinned in
    tests/test_graph_r15.py and proven on real data by
    `part_copurchase_pagerank_appended` hash-matching the SAME oracle
    the rebuild serves.

    100 TB shape: a daily order delta touches only its own rows — the
    delta aggregate is delta-sized, the merge is one shuffle keyed on
    (src, dst) over (store + delta-sized frame), and symdeg re-derives
    from the merged edges (|E|-bounded, no fact-table scan). History is
    never re-joined."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        base = _copurchase_pair_counts(li.filter(F.col("l_orderkey") % 10 != 0))
        delta = _copurchase_pair_counts(li.filter(F.col("l_orderkey") % 10 == 0))
        merged = (
            base.unionByName(delta)
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"), F.sum("wr").cast("long").alias("wr"))
        )
        write_result(merged.repartition("src"), str(out / "sym"))
        sym_staged = spark.read.parquet(str(out / "sym"))
        write_result(
            sym_staged.groupBy("src").agg(
                F.count(F.lit(1)).alias("outdeg"), F.sum("w").alias("sw")
            ),
            str(out / "symdeg"),
        )

    return staged(
        spark,
        "gedges_app",
        Path(sf_dir) / "lineitem.parquet",
        "copurchase_append_v1",
        build,
    )


@register("part_copurchase_pagerank_appended", oracle=_pagerank_oracle(_ITERS))
def part_copurchase_pagerank_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append≡rebuild proof rung for the graph edge store: PageRank
    served from the INCREMENTALLY MAINTAINED store (history build +
    order-delta merge, `_staged_copurchase_edges_appended`) against the
    SAME full-corpus oracle as the inline and rebuilt-staged twins — a
    green row proves the delta merge reconstructed the exact edge set
    and degrees on real data, the standard this repo's ANN appends and
    MinHash delivery rungs already meet."""
    root = _staged_copurchase_edges_appended(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    deg = spark.read.parquet(f"{root}/symdeg").select("src", "outdeg")
    ranks = pagerank(
        sym.select("src", "dst"), iters=_ITERS, damping=_DAMPING, outdeg=deg
    )
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


def _staged_copurchase_edges_retracted(spark: SparkSession, sf_dir: str) -> str:
    """RETRACTION maintenance on the edge store — the delete half the
    lifecycle was missing (build / append / streaming-append are all
    proven; GDPR-class takedown was not). The takedown set is every
    order with o_orderkey % 10 == 0; its line pairs aggregate into a
    NEGATIVE (−w, −wr) delta that folds into the already-staged FULL
    store by the same (src, dst) sum-merge the append path uses, then a
    zero-support cleanup drops rows with wr == 0. Correct because both
    supports are per-order pair counts partitioned BY ORDER: a deleted
    order's contribution is independent of history, so subtracting it
    leaves exactly the corpus-minus-takedown aggregate — and an edge
    whose whole support came from deleted orders hits (0, 0) and is
    swept, matching a from-scratch rebuild row-for-row (pinned in
    tests/test_graph_r17.py; proven on real data by
    `part_copurchase_pagerank_retracted` hash-matching the oracle
    computed on the filtered corpus).

    Which stores inherit this for free: every LINEAR register store —
    count-min cells, AMS counters, the (cent, count) GK registers, the
    per-score eval tallies — un-folds the same way (subtract the
    delta's registers). Stores keyed on SELECTED data need tombstones
    instead: KMV/bottom-k registers (a deleted minimum must be
    re-filled from history), inverted-index postings and ANN codes
    (per-doc rows — delete is an anti-join on doc_id, cheap but not
    algebraic), and trained state (IVF centroids) is append-frozen by
    contract and only retrains.

    100 TB shape: the takedown delta touches only its own rows, the
    fold is one (src, dst)-keyed shuffle over (store + delta), symdeg
    re-derives |E|-bounded — history is never re-joined."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        base_root = _staged_copurchase_edges(spark, sf_dir)
        base = spark.read.parquet(f"{base_root}/sym")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        delta = _copurchase_pair_counts(li.filter(F.col("l_orderkey") % 10 == 0))
        neg = delta.select(
            "src", "dst", (-F.col("w")).alias("w"), (-F.col("wr")).alias("wr")
        )
        merged = (
            base.unionByName(neg)
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"), F.sum("wr").cast("long").alias("wr"))
            .filter(F.col("wr") > 0)
        )
        write_result(merged.repartition("src"), str(out / "sym"))
        sym_staged = spark.read.parquet(str(out / "sym"))
        write_result(
            sym_staged.groupBy("src").agg(
                F.count(F.lit(1)).alias("outdeg"), F.sum("w").alias("sw")
            ),
            str(out / "symdeg"),
        )

    return staged(
        spark,
        "gedges_ret",
        Path(sf_dir) / "lineitem.parquet",
        "copurchase_retract_v1",
        build,
    )


@register(
    "part_copurchase_pagerank_retracted",
    oracle=_pagerank_oracle(_ITERS, li_pred=" AND a.l_orderkey % 10 != 0"),
)
def part_copurchase_pagerank_retracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete≡rebuild proof rung: PageRank served from the edge store
    AFTER folding in the takedown orders' negative delta
    (`_staged_copurchase_edges_retracted`), graded against the oracle
    computed directly on the corpus WITHOUT those orders. A green row
    proves the retraction left the store exactly as if the deleted
    orders had never been ingested — the GDPR-class guarantee — and
    completes the store lifecycle triple: build / append≡rebuild /
    delete≡rebuild."""
    root = _staged_copurchase_edges_retracted(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    deg = spark.read.parquet(f"{root}/symdeg").select("src", "outdeg")
    ranks = pagerank(
        sym.select("src", "dst"), iters=_ITERS, damping=_DAMPING, outdeg=deg
    )
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


def _lpa_oracle(iters: int) -> str:
    """Unrolled synchronous label propagation: per round, each node
    takes the most frequent neighbor label (min label on ties) — all
    integer, so the query hash-checks exactly. Round CTEs MATERIALIZED
    (each is referenced by a count CTE that DuckDB would otherwise
    inline per reference — same discipline as the HITS oracle)."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""c{i} AS MATERIALIZED (
      SELECT e.v AS node, l.label, count(*) AS c
      FROM e JOIN l{i} l ON e.u = l.node GROUP BY e.v, l.label
    ), l{i + 1} AS MATERIALIZED (
      SELECT node, label FROM c{i}
      QUALIFY row_number() OVER (PARTITION BY node
                                 ORDER BY c DESC, label) = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS label FROM e
    ),
    {chain}
    SELECT node AS part_key, CAST(label AS BIGINT) AS community
    FROM l{iters}
    """


@register("copurchase_communities_lpa", oracle=_lpa_oracle(_ITERS))
def copurchase_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 community detection by synchronous label propagation
    (Raghavan et al. 2007) over the support>=2 co-purchase graph,
    SERVED from the staged edge store (the G-family serve discipline
    from birth — no lineitem self-join in this plan): communities are
    the mesoscale structure between components (too coarse: any bridge
    merges) and triangles (too local) — the 'which products form a
    repeatedly-bought-together neighborhood' view a recommender's
    diversity screen uses. Deterministic min-label ties make the
    5-round result a pure integer function of the edge set; the oracle
    unrolls the same rounds as MATERIALIZED CTEs — hash-checked end to
    end."""
    from dataengineerchallenge_spark.operators.graph import label_propagation

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    edges = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = label_propagation(edges, iters=_ITERS)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("community").cast("long").alias("community"),
    )


def _coreness_oracle(iters: int) -> str:
    """Unrolled synchronous h-index iteration: h0 = degree; each round a
    node takes max(least(rank, value)) over its neighbors' previous
    values sorted descending — the textbook h-index form. All integer,
    so the query hash-checks exactly. Round CTEs MATERIALIZED (each is
    referenced through a windowed subquery that DuckDB would otherwise
    inline per reference — same discipline as the LPA/HITS oracles)."""
    steps = []
    for i in range(iters):
        steps.append(
            f"""h{i + 1} AS MATERIALIZED (
      SELECT node, MAX(LEAST(rn, c)) AS c FROM (
        SELECT e.v AS node, h.c,
               row_number() OVER (PARTITION BY e.v ORDER BY h.c DESC) AS rn
        FROM e JOIN h{i} h ON e.u = h.node)
      GROUP BY node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), h0 AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY u
    ),
    {chain}
    SELECT node AS part_key, CAST(c AS BIGINT) AS coreness
    FROM h{iters}
    """


_CORE_ITERS = 16


@register("copurchase_coreness", oracle=_coreness_oracle(_CORE_ITERS))
def copurchase_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 k-core decomposition by synchronous h-index iteration (Lü et
    al. 2016) over the support>=2 co-purchase graph, SERVED from the
    staged edge store (no lineitem self-join in this plan). Coreness is
    the graph family's density axis — components say 'connected', LPA
    says 'which neighborhood', triangles say 'locally clustered';
    core number says HOW DEEP a product sits in the repeatedly-bought-
    together mesh, the standard signal for filtering a co-occurrence
    graph down to its load-bearing core before expensive downstream
    analytics (and the classic 100 TB trick: k-core-prune the edge set
    once, then run everything else on the survivor subgraph). The
    fixed 16-round form is a pure integer function of the edge set and
    the oracle unrolls the same rounds as MATERIALIZED CTEs — the hash
    check holds round-for-round whether or not the fixpoint is reached;
    16 is chosen ABOVE the measured convergence round (14 at sf0.001,
    7 at sf0.01, <=16 verified at sf0.1 — sparser graphs have LONGER
    h-index gradient paths, so fixture convergence is the slow case),
    and
    pytest pins both fixpoint convergence at fixture scale and parity
    with a sequential Matula-Beck peel on random graphs."""
    from dataengineerchallenge_spark.operators.graph import coreness

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    edges = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = coreness(edges, iters=_CORE_ITERS)
    return out.select(
        F.col("node").alias("part_key"), F.col("core").cast("long").alias("coreness")
    )


_WALK_STEPS = 4


def _walks_oracle(steps: int) -> str:
    """Unrolled deterministic-walk replay: step i picks the neighbor v
    minimizing the explicit md5-u32 of 'walk_id:i:v' (ties on smallest
    v) — the same common-random-numbers draw as the Spark operator.
    Step CTEs MATERIALIZED (each is referenced by the next step AND the
    final union; DuckDB would otherwise inline per reference)."""
    from dataengineerchallenge_spark.functions.hashing import duck_u32

    parts = []
    for i in range(1, steps + 1):
        key = f"CAST(w.walk_id AS VARCHAR) || ':{i}:' || CAST(e.v AS VARCHAR)"
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT walk_id, v AS node FROM (
        SELECT w.walk_id, e.v,
               row_number() OVER (PARTITION BY w.walk_id
                                  ORDER BY ({duck_u32(key)}), e.v) AS rn
        FROM s{i - 1} w JOIN e ON e.u = w.node) WHERE rn = 1
    )"""
        )
    chain = ",\n    ".join(parts)
    union = "\n    UNION ALL ".join(
        f"SELECT walk_id, {i} AS step, node FROM s{i}" for i in range(steps + 1)
    )
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), s0 AS MATERIALIZED (
      SELECT DISTINCT u AS walk_id, u AS node FROM e
    ),
    {chain}
    {union}
    """


@register("copurchase_deterministic_walks", oracle=_walks_oracle(_WALK_STEPS))
def copurchase_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8 walk-corpus generation (DeepWalk/node2vec prep, Perozzi et
    al. KDD'14) over the support>=2 co-purchase graph, SERVED from the
    staged edge store: one 4-step uniform random walk per node, with
    the RNG replaced by the repo's explicit md5-u32 draw over
    '(walk, step, candidate)' so the corpus is a pure function of the
    edge set — both engines replay it bit-for-bit (the reproducibility
    a training pipeline needs before it will trust graph embeddings:
    re-running the sweep after an infra change must yield byte-identical
    sentences or the embedding diff is unattributable). Long format
    (walk_id, step, node); a skip-gram trainer consumes it grouped by
    walk_id. Hash-checked end to end against the unrolled replay."""
    from dataengineerchallenge_spark.operators.graph import deterministic_walks

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    edges = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return deterministic_walks(edges, steps=_WALK_STEPS).select(
        "walk_id", "step", "node"
    )


_TRUSS_K = 3
_TRUSS_ITERS = 3


def _truss_oracle(k: int, iters: int) -> str:
    """Unrolled synchronous k-truss peel with raw-id edge orientation
    (per-edge support is orientation-invariant, so this matches the
    Spark side's degree-ordered enumeration value-for-value — the same
    cross-orientation argument as the triangle oracle). Round CTEs
    MATERIALIZED (each edge set feeds a 3-reference triangle join that
    DuckDB would otherwise inline per reference)."""
    thr = k - 2
    parts = []
    for i in range(iters + 1):
        parts.append(
            f"""t{i} AS MATERIALIZED (
      SELECT x.u AS a, x.v AS b, y.v AS c
      FROM e{i} x JOIN e{i} y ON x.u = y.u AND x.v < y.v
      JOIN e{i} z ON z.u = x.v AND z.v = y.v
    ), s{i} AS MATERIALIZED (
      SELECT u, v, count(*) AS c FROM (
        SELECT a AS u, b AS v FROM t{i}
        UNION ALL SELECT a AS u, c AS v FROM t{i}
        UNION ALL SELECT b AS u, c AS v FROM t{i}) GROUP BY u, v
    )"""
        )
        if i < iters:
            parts.append(
                f"""e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      LEFT JOIN s{i} s ON s.u = e.u AND s.v = e.v
      WHERE COALESCE(s.c, 0) >= {thr}
    )"""
            )
    chain = ",\n    ".join(parts)
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    {chain}
    SELECT e.u AS src, e.v AS dst,
           CAST(COALESCE(s.c, 0) AS BIGINT) AS support
    FROM e{iters} e LEFT JOIN s{iters} s ON s.u = e.u AND s.v = e.v
    """


@register("copurchase_truss", oracle=_truss_oracle(_TRUSS_K, _TRUSS_ITERS))
def copurchase_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 k-truss backbone (Cohen 2008) of the support>=2 co-purchase
    graph, SERVED from the staged edge store: iteratively delete edges
    in fewer than k-2 triangles until every surviving tie is
    triangle-reinforced — the EDGE-level analog of `copurchase_coreness`
    (coreness keeps well-connected nodes; truss keeps well-REINFORCED
    ties), and the standard denoise before community detection: a
    bridge edge has support 0 and dies in round one no matter how
    high-degree its endpoints are. k=3 — the triangle-reinforced
    backbone; on this fixture's co-purchase topology the 4-truss is
    EMPTY above sf0.001 (measured), so k=3 is the informative setting,
    and the peel converges by round 1 at all three fixture SFs
    (measured) — 3 registered rounds sit above convergence, and the output support column is
    recomputed ON the survivor set so a green row certifies
    support >= k-2 everywhere. Hash-checked against the unrolled
    raw-id-orientation replay at all three SFs."""
    from dataengineerchallenge_spark.operators.graph import truss

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    return truss(canon, k=_TRUSS_K, iters=_TRUSS_ITERS)


@register(
    "copurchase_clustering_coefficient",
    oracle="""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY u),
    tri AS (
      SELECT x.u AS a, x.v AS b, y.v AS c
      FROM e0 x JOIN e0 y ON x.u = y.u AND x.v < y.v
      JOIN e0 z ON z.u = x.v AND z.v = y.v
    ),
    tn AS (
      SELECT node, count(*) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY node
    )
    SELECT deg.node AS part_key,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN CAST(ROUND(COALESCE(tn.t, 0) * 2000000.0
                                / (deg.d * (deg.d - 1))) AS BIGINT)
                ELSE -1 END AS cc_micropoints
    FROM deg LEFT JOIN tn ON tn.node = deg.node
    """,
)
def copurchase_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2+ LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz, Nature 1998
    — the canonical graph metric) over the support>=2 co-purchase
    graph, SERVED from the staged edge store: cc(v) = 2T(v) /
    (d(v)(d(v)-1)) — the fraction of a node's neighbor pairs that are
    themselves connected, normalizing the raw triangle counts the G2
    rung emits into the comparable [0,1] 'how clique-like is this
    product's neighborhood' score (degree-1 nodes carry the -1
    sentinel: the coefficient is undefined with fewer than one neighbor
    pair). Ships as integer micropoints over exact triangle/degree
    counts — bigint end to end; the Spark side reuses the
    degree-oriented `triangle_counts` operator (per-node counts are
    orientation-invariant, so the raw-id oracle matches — the G2
    argument).

    Scale shape: the staged edge scan + triangle_counts' bounded wedge
    plan + one degree aggregate and a left join — no new shuffle shape
    beyond the G2 rung it normalizes."""
    from dataengineerchallenge_spark.operators.graph import triangle_counts

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym")
    canon = sym.filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst"))).select(
        "src", "dst"
    )
    und = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    tn = triangle_counts(canon)
    cc = F.when(
        F.col("d") >= 2,
        F.round(
            F.coalesce("n_triangles", F.lit(0))
            * 2000000.0
            / (F.col("d") * (F.col("d") - 1)),
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(-1).cast("bigint"))
    return (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias("part_key"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            cc.alias("cc_micropoints"),
        )
    )


def _staged_copurchase_history(spark: SparkSession, sf_dir: str) -> str:
    """HISTORY-ONLY edge store for the streaming-maintenance rung: the
    co-purchase supports of orders with l_orderkey % 10 != 0 (the same
    history/delta split the batch append rung uses). The held-out
    orders arrive later as a micro-batched stream; this store is what
    the stream folds into."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        hist = _copurchase_pair_counts(li.filter(F.col("l_orderkey") % 10 != 0))
        write_result(hist.repartition("src"), str(out / "sym"))

    return staged(
        spark,
        "gedges_hist",
        Path(sf_dir) / "lineitem.parquet",
        "copurchase_hist_v1",
        build,
    )


def _staged_order_delta_stream(spark: SparkSession, sf_dir: str) -> str:
    """Order-delta payload for the streaming edge maintenance: the
    held-out orders' lineitem rows written as 3 parquet files hashed on
    l_orderkey — every order's rows land WHOLLY inside one file, so each
    micro-batch sees complete orders and the per-batch pair aggregate is
    exact (the additivity precondition `_copurchase_pair_counts`
    documents; same one-file-per-trigger delivery shape as the dedup
    stream's `_staged_delivery_stream`)."""
    from pathlib import Path

    from dataengineerchallenge_spark.sources.sinks import write_result
    from dataengineerchallenge_spark.staging import staged

    def build(out: Path) -> None:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        write_result(
            li.filter(F.col("l_orderkey") % 10 == 0).repartition(3, "l_orderkey"),
            str(out),
        )

    return staged(
        spark,
        "gdelta_stream",
        Path(sf_dir) / "lineitem.parquet",
        "copurchase_delta_stream_v1",
        build,
    )


def stream_copurchase_edge_merge(
    spark: SparkSession, sf_dir: str, epochs: list | None = None, timeout_s: int = 300
) -> DataFrame:
    """Drive the ONLINE edge-store maintenance loop (VERDICT r15 #3 —
    the graph twin of the MinHash store's epoch-keyed streaming commit):
    tail the order-delta payload as a file stream (one delivery file per
    trigger) and, per micro-batch, aggregate the batch's co-purchase
    pair supports and COMMIT them under an epoch_id-keyed overwrite —
    retry-idempotent, and each batch's work is delta-sized (the history
    store is never re-joined, never even read inside the loop; supports
    are additive registers, the linear-sketch drain stance).

    After the drain, history + committed deltas fold by addition into
    the maintained (src, dst, w, wr) frame, eagerly localCheckpoint-ed
    so the returned DataFrame outlives the run-scoped scratch. The
    maintained store must equal the full-corpus rebuild EXACTLY —
    pinned row-for-row in tests/test_graph_r16.py and proven on real
    data by `stream_copurchase_edge_store` hash-matching the same
    full-corpus oracle every pagerank twin serves."""
    import shutil
    import tempfile

    import time

    hist_root = _staged_copurchase_history(spark, sf_dir)
    payload = _staged_order_delta_stream(spark, sf_dir)
    schema = spark.read.parquet(payload).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(payload)
    )
    scratch = tempfile.mkdtemp(prefix="spark_graft_stream_gedges_")
    ckpt, committed = f"{scratch}/ckpt", f"{scratch}/committed"

    def serve(mb: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        _copurchase_pair_counts(mb).write.mode("overwrite").parquet(
            f"{committed}/epoch_id={epoch_id}"
        )
        if epochs is not None:
            epochs.append((epoch_id, round(time.time() - t0, 3)))

    from dataengineerchallenge_spark.streaming.runner import drain_foreach_batch

    try:
        drain_foreach_batch(sdf, serve, ckpt, "edge-store stream", timeout_s=timeout_s)
        merged = (
            spark.read.parquet(f"{hist_root}/sym")
            .unionByName(
                spark.read.parquet(committed).select("src", "dst", "w", "wr")
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"), F.sum("wr").cast("long").alias("wr"))
            .localCheckpoint()  # eager: detach from the scratch dir
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return merged


@register("stream_copurchase_edge_store", oracle=_pagerank_oracle(_ITERS))
def stream_copurchase_edge_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G*×T6 STREAMING edge-store maintenance, HASH-VERIFIED (VERDICT
    r15 #3 — the graph family's last lifecycle gap): held-out orders
    arrive as a micro-batched file stream; each micro-batch's
    co-purchase supports commit epoch-keyed via foreachBatch
    (`stream_copurchase_edge_merge`), and the drained store — history +
    additive delta folds — serves the standard 5-iteration PageRank
    against the SAME full-corpus oracle as the inline, staged, and
    batch-appended twins. A green row proves the online loop maintained
    the exact edge set and degrees: online ≡ append ≡ rebuild, the full
    build/serve/append/stream lifecycle the MinHash and ANN stores
    already have.

    Scale: per-trigger work is delta-sized (one order-hashed file →
    one pair aggregate → one epoch-keyed write); the history store is
    read once AFTER the drain, and the fold is one shuffle keyed on
    (src, dst). Degrees re-derive from the merged frame (|E|-bounded)."""
    merged = stream_copurchase_edge_merge(spark, sf_dir)
    edges = merged.select("src", "dst")
    deg = merged.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = pagerank(edges, iters=_ITERS, damping=_DAMPING, outdeg=deg)
    return ranks.select(F.col("node").alias("part_key"), F.round("pr", 4).alias("pr"))


# Directed SCC (VERDICT r16 next-round #4). The graph: the purchase-
# SEQUENCE digraph over parts — an edge u -> v when u's order line
# immediately precedes v's inside one order (l_linenumber adjacency),
# hash-sparsified to every 4th pair with the cross-engine md5-u32 draw
# (the full successor graph is one giant SCC on this fixture — the
# sparsified one has the classic bow-tie: a giant core plus a singleton
# periphery, measured 1399 SCCs at sf0.1). The schedule bounds (peels,
# hops) are FIXED and shared with the oracle; they exceed the measured
# need (5 peels / 14 hops at sf0.1) with margin, and the result is
# pinned against an in-test Tarjan in tests/test_graph_r17.py.
_SCC_PEELS = 7
_SCC_HOPS = 18


def _scc_oracle(peels: int, hops: int) -> str:
    """The FB min-label peeling unrolled: per peel, ``hops`` synchronous
    min-propagation rounds forward and backward, the fwd==bwd pivot
    assignment, then the alive-set contraction. EVERY round CTE is
    MATERIALIZED — each is referenced twice (self union + edge join), so
    un-materialized inlining would double the plan per round and go
    exponential over ~250 rounds (the LPA/HITS oracle discipline)."""
    from dataengineerchallenge_spark.functions.hashing import duck_u32

    u32 = duck_u32("a.l_partkey || '~' || b.l_partkey")
    parts = [
        f"""e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND b.l_linenumber = a.l_linenumber + 1
      WHERE a.l_partkey != b.l_partkey AND ({u32}) % 4 = 0
    ), n0 AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)
    )"""
    ]
    for p in range(peels):
        for tag, jsrc, jdst in (("f", "src", "dst"), ("b", "dst", "src")):
            parts.append(
                f"{tag}{p}_0 AS MATERIALIZED (SELECT node, node AS m FROM n{p})"
            )
            for k in range(1, hops + 1):
                parts.append(
                    f"""{tag}{p}_{k} AS MATERIALIZED (
      SELECT node, MIN(m) AS m FROM (
        SELECT node, m FROM {tag}{p}_{k - 1}
        UNION ALL
        SELECT e.{jdst} AS node, x.m
        FROM e{p} e JOIN {tag}{p}_{k - 1} x ON x.node = e.{jsrc}
      ) GROUP BY node)"""
                )
        parts.append(
            f"""a{p} AS MATERIALIZED (
      SELECT f.node, f.m AS scc_id FROM f{p}_{hops} f
      JOIN b{p}_{hops} b ON b.node = f.node AND b.m = f.m)"""
        )
        parts.append(
            f"""n{p + 1} AS MATERIALIZED (
      SELECT node FROM n{p} WHERE node NOT IN (SELECT node FROM a{p}))"""
        )
        parts.append(
            f"""e{p + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{p} e
      JOIN n{p + 1} s ON s.node = e.src
      JOIN n{p + 1} d ON d.node = e.dst)"""
        )
    union = " UNION ALL ".join(
        f"SELECT node, scc_id FROM a{p}" for p in range(peels)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node AS part_key, CAST(scc_id AS BIGINT) AS scc_id
    FROM ({union})"""
    )


@register("purchase_scc", oracle=_scc_oracle(_SCC_PEELS, _SCC_HOPS))
def purchase_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed purchase-sequence
    graph (G-family's missing directed labeling — the standard
    preprocessing for dangling-mass analysis and link-farm detection
    next to directed/personalized PageRank and HITS): scc_id = min
    part key of each component, computed by forward-backward min-label
    peeling over the existing BFS-style join machinery
    (operators/graph.py scc_fb_minlabel) with a fixed (peels, hops)
    schedule the oracle replays round-for-round. The fixture graph's
    bow-tie comes out directly: one giant core SCC labeled by the
    global min part plus a singleton periphery — all hash-checked."""
    from dataengineerchallenge_spark.functions.hashing import spark_u32
    from dataengineerchallenge_spark.operators.graph import scc_fb_minlabel

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
        )
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .filter(
            F.expr(
                spark_u32("concat(cast(src as string), '~', cast(dst as string))")
            )
            % 4
            == 0
        )
    )
    out = scc_fb_minlabel(edges, peels=_SCC_PEELS, hops=_SCC_HOPS)
    return out.select(
        F.col("node").alias("part_key"), F.col("scc_id").cast("long").alias("scc_id")
    )


@register(
    "part_association_rules",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    f AS (SELECT l_partkey, COUNT(*) AS fr FROM op GROUP BY l_partkey),
    p AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS supp
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    rules AS (
      SELECT u AS antecedent, v AS consequent, supp FROM p
      UNION ALL
      SELECT v AS antecedent, u AS consequent, supp FROM p
    )
    SELECT r.antecedent, r.consequent, CAST(r.supp AS BIGINT) AS support,
           CAST(ROUND(r.supp * 1000000.0 / fa.fr, 0) AS BIGINT)
             AS confidence_micropoints,
           CAST(ROUND((r.supp * 1.0 / n.n_orders
                       - fa.fr * 1.0 * fc.fr / (n.n_orders * 1.0 * n.n_orders))
                      * 1000000000.0, 0) AS BIGINT) AS leverage_nanopoints
    FROM rules r
    JOIN f fa ON fa.l_partkey = r.antecedent
    JOIN f fc ON fc.l_partkey = r.consequent
    CROSS JOIN n
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED association rules (Agrawal, Imieliński & Swami 1993) on
    the supported pair frame — the rule layer `part_pair_affinity`'s
    symmetric lift stops short of: each supported pair yields both
    u⇒v and v⇒u with CONFIDENCE = supp/freq(antecedent) (direction
    matters: a niche part implying a staple is high-confidence, the
    reverse is not) and LEVERAGE = P(u,v) − P(u)P(v) (Piatetsky-
    Shapiro; the additive independence gap, robust where ratio-lift
    explodes on rare pairs). All frequencies are exact integers; the
    two float expressions integerize with identical operand DAGs.

    Scale: identical dataflow to part_pair_affinity (distinct-collapse,
    orderkey-shuffled self-join with bounded per-order fanout,
    broadcast frequency attach) — the rule expansion is 2 rows per
    supported pair."""
    # r20: the distinct (order, part) frame feeds every consumer below
    # from ONE shuffle on the self-join key + lazy checkpoint: the
    # checkpoint's LogicalRDD preserves the hash partitioning
    # (SPARK-23515), so the self-join needs no further exchange and no
    # consumer re-derives the distinct (guide §2.4; profiled on
    # part_pair_affinity: the distinct subtree executed once per
    # consumer, two identical 5.95 MB exchanges for the self-join alone
    # at sf0.1).
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .repartition("l_orderkey")
        .localCheckpoint(eager=False)
    )
    n_orders = op.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    freq = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("fr"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
    )
    rules = pairs.select(
        F.col("u").alias("antecedent"), F.col("v").alias("consequent"), "supp"
    ).unionByName(
        pairs.select(
            F.col("v").alias("antecedent"), F.col("u").alias("consequent"), "supp"
        )
    )
    fa = freq.select(F.col("l_partkey").alias("antecedent"), F.col("fr").alias("fa"))
    fc = freq.select(F.col("l_partkey").alias("consequent"), F.col("fr").alias("fc"))
    return (
        rules.join(F.broadcast(fa), "antecedent")
        .join(F.broadcast(fc), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("supp").cast("long").alias("support"),
            F.round(F.col("supp") * 1000000.0 / F.col("fa"), 0)
            .cast("bigint")
            .alias("confidence_micropoints"),
            F.round(
                (
                    F.col("supp") * 1.0 / F.col("n_orders")
                    - F.col("fa")
                    * 1.0
                    * F.col("fc")
                    / (F.col("n_orders") * 1.0 * F.col("n_orders"))
                )
                * 1000000000.0,
                0,
            )
            .cast("bigint")
            .alias("leverage_nanopoints"),
        )
    )


@register(
    "copurchase_link_prediction",
    oracle="""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u AS z, COUNT(*) AS d FROM e GROUP BY u),
    wedge AS (
      SELECT a.u AS u, b.v AS v, a.v AS z
      FROM e a JOIN e b ON a.v = b.u AND a.u < b.v
      WHERE NOT EXISTS (SELECT 1 FROM e0 x WHERE x.u = a.u AND x.v = b.v)
    ),
    sc AS (
      SELECT w.u, w.v,
             COUNT(*) AS cn,
             SUM(CAST(ROUND(1000000.0 / ln(d.d), 0) AS BIGINT)) AS aa_micro
      FROM wedge w JOIN deg d ON d.z = w.z
      GROUP BY w.u, w.v
    )
    SELECT u AS part_a, v AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(aa_micro AS BIGINT) AS adamic_adar_micropoints
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY cn DESC, aa_micro DESC, u, v) <= 100
    """,
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the support>=2 co-purchase graph — the
    "products likely to be bought together next" primitive
    (Liben-Nowell & Kleinberg 2003): for every NON-adjacent pair at
    distance 2, common-neighbor count and Adamic-Adar (Σ 1/ln deg(z)
    over shared neighbors — rare shared neighbors weigh more), top-100
    with deterministic tie-breaks. Per-wedge AA terms integerize to
    micropoints before the sum (a wedge center always has deg >= 2, so
    ln never hits zero); ln() on identical integer-derived operands is
    the FS/JSD family's proven surface. Served from the STAGED edge
    store — candidate generation is the triangle machinery's wedge
    join, bounded by Σ deg², never all-pairs, and the existing-edge
    exclusion is one anti-join against the store."""
    root = _staged_copurchase_edges(spark, sf_dir)
    canon = (
        spark.read.parquet(f"{root}/sym")
        .filter((F.col("wr") >= 2) & (F.col("src") < F.col("dst")))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = e.groupBy(F.col("u").alias("z")).agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("u").alias("wu"), F.col("v").alias("z"))
    b = e.select(F.col("u").alias("z"), F.col("v").alias("wv"))
    wedge = (
        a.join(b, "z")
        .filter(F.col("wu") < F.col("wv"))
        .join(
            canon.select(F.col("u").alias("wu"), F.col("v").alias("wv")),
            ["wu", "wv"],
            "left_anti",
        )
    )
    sc = (
        wedge.join(F.broadcast(deg), "z")
        .groupBy("wu", "wv")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(
                F.round(1000000.0 / F.log(F.col("d")), 0).cast("bigint")
            ).alias("aa_micro"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.desc("cn"), F.desc("aa_micro"), F.asc("wu"), F.asc("wv")
    )
    return (
        sc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 100)
        .select(
            F.col("wu").alias("part_a"),
            F.col("wv").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("aa_micro").cast("long").alias("adamic_adar_micropoints"),
        )
    )


_SSSP_ROUNDS = 24


def _sssp_oracle(rounds: int) -> str:
    """Unrolled synchronous Bellman-Ford: d0 = {source: 0}, then
    d_{k+1}(v) = MIN(d_k(v), MIN over in-edges of d_k(u) + cost). Every
    distance is an exact bigint (integer micro-costs), each round CTE is
    MATERIALIZED (referenced twice — the DuckDB inlining rule), and extra
    rounds past the fixpoint are no-ops, so the fixed schedule equals the
    Spark side's early-exit loop."""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.cost AS dist
        FROM d{k - 1} d JOIN e ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v,
             COUNT(DISTINCT a.l_orderkey) AS w
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u AS src, v AS dst, 1000000 // CAST(w AS BIGINT) AS cost FROM e0
      UNION ALL
      SELECT v, u, 1000000 // CAST(w AS BIGINT) FROM e0
    ), d0 AS MATERIALIZED (
      SELECT (SELECT src FROM e GROUP BY src
              ORDER BY COUNT(*) DESC, src LIMIT 1) AS node,
             CAST(0 AS BIGINT) AS dist
    ),
    {chain}
    SELECT node AS part_key, CAST(dist AS BIGINT) AS dist_microcost
    FROM d{rounds}
    """


@register("copurchase_weighted_distances", oracle=_sssp_oracle(_SSSP_ROUNDS))
def copurchase_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths over the support>=2
    co-purchase graph, served from the staged edge store — the min-plus
    distance operator the graph family lacked (every centrality/labeling
    op existed, no weighted distance; VERDICT r17 next-round #4). Edge
    cost is the integer micro-reciprocal of co-purchase support,
    1_000_000 div w (strongly co-purchased parts are CLOSE), so "distance
    from the anchor product" is cheapest-association-path length — the
    related-item radius a merchandising traversal actually wants, where
    BFS hops treat a 100-order association like a 2-order one.

    Algorithm: operators/graph.py:weighted_sssp — synchronous Bellman-
    Ford relaxation rounds (MIN(dist + cost)), exactly the hop_distances
    machinery with min-plus in place of MIN(hops+1). Integer costs make
    every relaxation exact; the {_SSSP_ROUNDS}-round schedule is shared
    with the fully-unrolled MATERIALIZED-CTE oracle (measured
    convergence: <= 12 rounds at all three fixture SFs, 24 is the 2x
    margin — the purchase_scc discipline), Spark early-exits at the
    proven (count, sum) fixpoint and RAISES if the budget is ever
    insufficient.
    The triangle-inequality contract (dist(v) <= dist(u) + cost(u, v)
    for every edge) is pinned in tests/test_r18.py.

    Scale: the staged support-filtered edge frame is the loop invariant
    (no fact-table touch at serve time); each round is one edge-join +
    min-agg, localCheckpoint-ed. Rounds scale with the WEIGHTED diameter
    of the pruned graph, not |V|."""
    from dataengineerchallenge_spark.operators.graph import weighted_sssp

    root = _staged_copurchase_edges(spark, sf_dir)
    sym = spark.read.parquet(f"{root}/sym").filter(F.col("wr") >= 2)
    e = sym.select(
        "src", "dst", F.expr("1000000 div cast(w as bigint)").alias("cost")
    )
    # anchor = max-degree node, min-id tie-break (the "popular product"
    # a merchandising traversal starts from; min-id anchoring is the
    # BFS-hops rung's territory, and at sparse SFs its component is tiny)
    src_node = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("src"))
        .first()["src"]
    )
    out = weighted_sssp(e, source=src_node, rounds=_SSSP_ROUNDS)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("dist").cast("long").alias("dist_microcost"),
    )


_BC_PIVOTS = 4
_BC_DEPTH = 14
_BC_G = 1_000_000_000


def _betweenness_oracle(pivots: int = _BC_PIVOTS, depth: int = _BC_DEPTH) -> str:
    """Unrolled pivot-exact Brandes: per pivot a level-synchronous BFS
    with integer path counts (f{j}_{k}: node, sigma), then the backward
    dependency accumulation on the 1e-9 INTEGER grid —
    delta(v) = Σ over successors w of (sigma_v * (G + delta_w)) div
    sigma_w — every operation is exact integer arithmetic, so the whole
    operator is float-free. Levels beyond the measured depth are empty
    frames (no-ops), the SCC fixed-schedule discipline."""
    parts = []
    finals = []
    for j in range(1, pivots + 1):
        steps = [
            f"""p{j} AS MATERIALIZED (
      SELECT src AS s FROM deg
      QUALIFY row_number() OVER (ORDER BY d DESC, src) = {j}
    ), f{j}_0 AS MATERIALIZED (
      SELECT s AS node, CAST(1 AS BIGINT) AS sigma FROM p{j}
    ), vis{j}_0 AS MATERIALIZED (SELECT node FROM f{j}_0)"""
        ]
        for k in range(1, depth + 1):
            steps.append(
                f"""f{j}_{k} AS MATERIALIZED (
      SELECT e.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM f{j}_{k - 1} f JOIN e ON e.src = f.node
      WHERE e.dst NOT IN (SELECT node FROM vis{j}_{k - 1})
      GROUP BY e.dst
    ), vis{j}_{k} AS MATERIALIZED (
      SELECT node FROM vis{j}_{k - 1} UNION ALL SELECT node FROM f{j}_{k}
    )"""
            )
        steps.append(
            f"""d{j}_{depth} AS MATERIALIZED (
      SELECT node, sigma, CAST(0 AS BIGINT) AS delta FROM f{j}_{depth}
    )"""
        )
        for k in range(depth - 1, 0, -1):
            steps.append(
                f"""d{j}_{k} AS MATERIALIZED (
      SELECT f.node, f.sigma,
             CAST(COALESCE(SUM((f.sigma * ({_BC_G} + w.delta)) // w.sigma), 0)
                  AS BIGINT) AS delta
      FROM f{j}_{k} f
      LEFT JOIN e ON e.src = f.node
      LEFT JOIN d{j}_{k + 1} w ON w.node = e.dst
      GROUP BY f.node, f.sigma
    )"""
            )
        parts.append(",\n    ".join(steps))
        finals.extend(
            f"SELECT node, delta FROM d{j}_{k}" for k in range(1, depth)
        )
    chain = ",\n    ".join(parts)
    union = "\n      UNION ALL ".join(finals)
    return f"""
    WITH e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e0
      UNION ALL SELECT v, u FROM e0
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS d FROM e GROUP BY src
    ),
    {chain}
    SELECT node AS part_key,
           CAST(SUM(delta) AS BIGINT) AS betweenness_nano
    FROM ({union})
    GROUP BY node
    """


@register(
    "copurchase_pivot_betweenness",
    oracle=_betweenness_oracle(),
)
def copurchase_pivot_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT-EXACT BETWEENNESS on the support>=2 co-purchase graph —
    the betweenness-class centrality the graph family lacked (named in
    VERDICT r17 What's-missing #4 next to weighted SSSP; pre-landed
    here): Brandes' dependency accumulation (Brandes 2001) run EXACTLY
    from a deterministic pivot set (the {_BC_PIVOTS} highest-degree
    nodes, min-id tie-break — the k-pivot estimator of Brandes & Pich
    2007 with hash-free deterministic pivots), so the output is the
    exact aggregate dependency of every node w.r.t. those sources —
    the "which products broker the co-purchase traffic" readout.

    Float-free by construction: forward BFS path counts sigma are exact
    integers (level-synchronous unrolled frontier joins — the
    hop_distances machinery carrying a SUM instead of a flag), and the
    backward pass runs Brandes' delta on the 1e-9 INTEGER grid:
    delta(v) = Σ_succ (sigma_v · (10⁹ + delta_w)) div sigma_w — integer
    division both engines compute identically, nested exactly alike
    through the level recursion (measured: max sigma 60, max depth 9,
    max product 3.7e13 — far inside int64; the {_BC_DEPTH}-level
    schedule is the purchase_scc margin discipline, and the Spark side
    RAISES if a BFS is still expanding at the bound).

    Scale: ALL pivots ride one (pivot, node)-keyed frame (r19 — the
    serial per-pivot loop quartered: 146 → 40 executions measured at
    sf0.01), so forward = one frontier×edges join per level over the
    staged support-filtered edge frame and backward = one
    level-to-level join per level REGARDLESS of pivot count; pivot
    count is the precision/cost dial and now scales the frame width,
    not the driver round-trips (exact-all-sources Brandes is |V|
    pivots — the estimator's point is that brokerage ranking
    stabilizes at k ≪ |V|; r20's BENCH_betweenness.json measures the
    accuracy-vs-k curve against exact all-sources Brandes)."""
    root = _staged_copurchase_edges(spark, sf_dir)
    canon = (
        spark.read.parquet(f"{root}/sym")
        .filter(F.col("wr") >= 2)
        .select("src", "dst")
    )
    return pivot_betweenness_frame(spark, canon, _BC_PIVOTS)


def pivot_betweenness_frame(
    spark: SparkSession, canon: DataFrame, n_pivots: int
) -> DataFrame:
    """The batched (pivot, node)-keyed Brandes pass over a symmetric
    edge frame, parameterized over pivot-set size — n_pivots =
    _BC_PIVOTS IS the registered query (the refactor is a pure
    extraction; hash re-verified unchanged at all three SFs), larger
    budgets feed the r20 accuracy-vs-pivot-count sweep
    (tools/bench_betweenness.py)."""
    from pyspark import StorageLevel

    e = canon.persist(StorageLevel.MEMORY_AND_DISK)
    pivots = [
        r["src"]
        for r in e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), F.asc("src"))
        .limit(n_pivots)
        .collect()
    ]
    # all pivots ride ONE (pivot, node)-keyed frame per level
    # (VERDICT r18 next-round #4): the 4 BFS+accumulation passes were
    # independent, so batching them turns 4 serialized driver loops
    # into one level-synchronous loop — ~4× fewer executions, same
    # per-(pivot, node) integer recursion, hash unchanged. A pivot
    # whose BFS exhausts early simply stops contributing rows to later
    # levels, and its deepest-level nodes get delta 0 from the empty
    # successor join — exactly the explicit 0 the serial walk appended.
    levels = [
        local_frame(
            spark, [(s, s, 1) for s in pivots], "pivot long, node long, sigma long"
        ).localCheckpoint()
    ]
    visited = levels[0].select("pivot", "node")
    while True:
        if len(levels) > _BC_DEPTH:
            e.unpersist()
            raise RuntimeError(
                f"betweenness BFS exceeded the depth={_BC_DEPTH} "
                f"schedule shared with the oracle — raise _BC_DEPTH"
            )
        nxt = (
            _bc(levels[-1])
            .join(e, levels[-1]["node"] == e["src"])
            .select("pivot", F.col("dst").alias("node"), "sigma")
            .join(_bc(visited), ["pivot", "node"], "left_anti")
            .groupBy("pivot", "node")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = visited.union(nxt.select("pivot", "node")).localCheckpoint()
    deltas = []
    # backward: delta at each pivot's deepest level is 0; walk upward
    dprev = levels[-1].withColumn("delta", F.lit(0).cast("long"))
    for k in range(len(levels) - 2, 0, -1):
        f = levels[k]
        w = dprev.select(
            F.col("pivot").alias("wpivot"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        t = (
            f.join(e, f["node"] == e["src"], "left")
            .join(
                _bc(w),
                (F.col("dst") == F.col("wnode"))
                & (F.col("pivot") == F.col("wpivot")),
                "left",
            )
            .groupBy("pivot", "node", "sigma")
            .agg(
                F.coalesce(
                    F.sum(
                        F.expr(f"(sigma * ({_BC_G} + wdelta)) div wsigma")
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("delta")
            )
            .localCheckpoint()
        )
        deltas.append(t.select("node", "delta"))
        dprev = t
    deltas.append(
        levels[-1].select("node", F.lit(0).cast("long").alias("delta"))
        if len(levels) > 1
        else spark.createDataFrame([], "node long, delta long")
    )
    e.unpersist()
    out = deltas[0]
    for d in deltas[1:]:
        out = out.unionByName(d)
    return out.groupBy(F.col("node").alias("part_key")).agg(
        F.sum("delta").cast("long").alias("betweenness_nano")
    )


_SB_ROUNDS = 48
_SB_G = 100_000  # iterate magnitude grid (|x| <= G)
_SB_SALT = "~fiedler"
# rounds fused per localCheckpoint (VERDICT r19 next-round #4): the
# renorm still runs EVERY round inside the plan (the trajectory — and
# hence the hash — must not change; skipping renorms would alter the
# integer iterates), and `ckpt_every` lets the execution barrier land
# only every m rounds. MEASURED (BENCH_spectral.json, sf0.01, 3
# samples, trajectory asserted bit-identical at every cadence):
# m=1 14.6 s, m=2 20.4 s, m=3 57.3 s, m=4 141.7 s — fusing LOSES.
# Each round references the prior iterate 4x (matvec join + the two
# renorm-stat cross joins), and Spark materializes no common subtree
# without an exchange boundary, so the fused block's work grows ~4^m
# while barriers shrink only linearly. Per-round materialization IS
# the optimal schedule for this loop shape; the parameter and the
# bench stay as the measured negative result.
_SB_CKPT = 1


def _sb_x_case(div_op: str) -> str:
    """The renormalization step over columns (z, mz) — shared text up
    to the integer-division spelling (Spark ``div``, DuckDB ``//``);
    abs() makes both operands non-negative, where the two operators
    agree, so the sign·(abs·G div mz) form is engine-identical."""
    sign = "(CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1 ELSE 0 END)"
    return (
        f"CASE WHEN mz = 0 THEN 0 "
        f"ELSE {sign} * ((abs(z) * {_SB_G}) {div_op} mz) END"
    )


def spectral_smoothing(
    spark: SparkSession,
    e: DataFrame,
    rounds: int = _SB_ROUNDS,
    ckpt_every: int = _SB_CKPT,
) -> DataFrame:
    """Deflated integer power iteration on M = c·I − L (L = D − A the
    unnormalized Laplacian, c = 2·max-degree ≥ λmax by Gershgorin) over
    a symmetric (src, dst) edge frame — the Fiedler-direction iterate
    entirely in EXACT bigint arithmetic:

    - matvec: y_v = (c − d_v)·x_v + Σ_{w~v} x_w  (integer, order-free)
    - Hotelling deflation of the trivial constant eigenvector WITHOUT a
      division: z_v = n·y_v − Σy (power iteration is scale-invariant,
      so multiplying by n instead of subtracting the mean is exact)
    - renormalization to the ±G grid by sign·(abs(z)·G div max|z|),
      where max|z| = GREATEST(n·max(y) − Σy, −(n·min(y) − Σy)) — the
      per-round aggregate RIDES THE PLAN (one-row cross join, the
      oracle's own shape), so a round is ONE execution, no driver
      collect.

    Returns the round-``rounds`` iterate (node, v) on the ±G grid. Every
    operation is integer, so the whole trajectory is engine-exact; the
    one guard is the int64 bound 2·n·c·G² (raise-don't-truncate)."""

    def one_round(x: DataFrame, ep: DataFrame, degc: DataFrame, n: int, c: int):
        nb = (
            ep.join(_bc(x), x["node"] == ep["dst"])
            .groupBy(ep["src"].alias("node"))
            .agg(F.sum("v").alias("nbs"))
        )
        y = (
            degc.join(_bc(x), degc["src"] == x["node"])
            .join(_bc(nb), "node", "left")
            .select(
                "node",
                F.expr(f"({c} - d) * v + coalesce(nbs, 0)").alias("y"),
            )
        )
        a = y.agg(
            F.sum("y").alias("sy"),
            F.max("y").alias("my"),
            F.min("y").alias("ny"),
        ).select(
            "sy",
            F.expr(
                f"greatest({n} * my - sy, -({n} * ny - sy))"
            ).alias("mz"),
        )
        return (
            y.crossJoin(F.broadcast(a))
            .select(
                "node",
                F.expr(f"{n} * y - sy").alias("z"),
                "mz",
            )
            .select(
                "node",
                F.expr(_sb_x_case("div")).cast("long").alias("v"),
            )
        )

    return _sb_power(e, _SB_SALT, "spectral smoothing", rounds, ckpt_every, one_round)


def _sb_power(
    e: DataFrame, salt: str, name: str, rounds: int, ckpt_every: int, one_round
) -> DataFrame:
    """The scaffold both deflated power iterations share: the keyed edge
    cache, the degree frame, the int64 guard, the hashed ±G start vector
    and ``rounds`` rounds of ``one_round(x, ep, degc, n, c)`` with an
    execution barrier every ``ckpt_every`` rounds — the renorm still
    runs every round, so the integer trajectory (and the hash) is the
    same at any cadence."""
    from dataengineerchallenge_spark.functions.hashing import spark_u32

    if rounds % ckpt_every:
        raise ValueError(f"ckpt_every={ckpt_every} must divide rounds={rounds}")
    # r21 change 2 (guide §2.4; the pagerank Change-12 layout applied to
    # the repo's two heaviest registered plans): the per-round matvec is
    # groupBy(src) over the loop-invariant edge cache, so laying the
    # cache out HashPartitioning(src, k) once makes all `rounds`
    # neighbor-sum aggregations exchange-free in place on the cache —
    # the legacy layout paid one edge-scale partial-agg → Exchange →
    # final-agg stage pair PER ROUND. deg then derives from the keyed
    # cache (same groupBy key: also exchange-free, and its collect
    # doubles as the cache-materializing action).
    with _loop_cache(e, "stats", "src") as (ep, _):
        deg = ep.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        stats = deg.agg(
            F.count(F.lit(1)).alias("n"), F.max("d").alias("dmax")
        ).collect()[0]
        n, c = stats["n"], 2 * stats["dmax"]
        if 2 * n * c * _SB_G * _SB_G > 9_000_000_000_000_000_000:
            raise RuntimeError(
                f"{name}: int64 bound exceeded (n={n}, c={c}, G={_SB_G}) — "
                f"coarsen the grid before the registers wrap"
            )
        x = deg.select(
            F.col("src").alias("node"),
            (
                F.expr(spark_u32(f"concat(cast(src as string), '{salt}')"))
                % (2 * _SB_G + 1)
                - _SB_G
            )
            .cast("long")
            .alias("v"),
        )
        degc = deg.localCheckpoint()

        def step(x: DataFrame) -> DataFrame:
            for _ in range(ckpt_every):
                x = one_round(x, ep, degc, n, c)
            return x

        x, _, _ = _iterate(x, step, rounds // ckpt_every)
        _release(degc)
    return x


_SB_EDGE_SQL = """e0 AS (
      SELECT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), e AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e0
      UNION ALL SELECT v, u FROM e0
    ), deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
    )"""


def _spectral_chain(rounds: int = _SB_ROUNDS) -> str:
    """The fully-unrolled direction-1 recursion as MATERIALIZED round
    CTEs (the SSSP/SCC fixed-schedule discipline) from cn/x0 through
    x{rounds} — shared by the bipartition oracle and, as the prefix
    producing the stored first iterate, by the direction-2 oracles."""
    from dataengineerchallenge_spark.functions.hashing import duck_u32

    steps = [
        f"""cn AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(2 * MAX(d) AS BIGINT) AS c
      FROM deg
    ), x0 AS MATERIALIZED (
      SELECT src AS node,
             CAST(({duck_u32(f"CAST(src AS VARCHAR) || '{_SB_SALT}'")})
                  % {2 * _SB_G + 1} - {_SB_G} AS BIGINT) AS v
      FROM deg
    )"""
    ]
    for r in range(1, rounds + 1):
        steps.append(
            f"""y{r} AS MATERIALIZED (
      SELECT x.node,
             (cn.c - dg.d) * x.v + COALESCE(nb.nbs, 0) AS y
      FROM x{r - 1} x
      JOIN deg dg ON dg.src = x.node
      CROSS JOIN cn
      LEFT JOIN (
        SELECT e.src AS node, CAST(SUM(xx.v) AS BIGINT) AS nbs
        FROM e JOIN x{r - 1} xx ON xx.node = e.dst GROUP BY e.src
      ) nb ON nb.node = x.node
    ), a{r} AS MATERIALIZED (
      SELECT CAST(SUM(y) AS BIGINT) AS sy,
             GREATEST(cn.n * MAX(y) - CAST(SUM(y) AS BIGINT),
                      -(cn.n * MIN(y) - CAST(SUM(y) AS BIGINT))) AS mz
      FROM y{r} CROSS JOIN cn GROUP BY cn.n
    ), x{r} AS MATERIALIZED (
      SELECT node, CAST({_sb_x_case("//")} AS BIGINT) AS v
      FROM (
        SELECT y.node, cn.n * y.y - a.sy AS z, a.mz AS mz
        FROM y{r} y CROSS JOIN a{r} a CROSS JOIN cn
      )
    )"""
        )
    return ",\n    ".join(steps)


def _spectral_oracle(rounds: int = _SB_ROUNDS) -> str:
    """Bipartition oracle: edge derivation + direction-1 chain + the
    sign/units projection, with n and c computed from the same edge
    derivation."""
    return f"""
    WITH {_SB_EDGE_SQL},
    {_spectral_chain(rounds)}
    SELECT node AS part_key,
           CAST(CASE WHEN v > 0 THEN 1 ELSE 0 END AS BIGINT) AS side,
           CAST(v AS BIGINT) AS fiedler_units
    FROM x{rounds}
    """


_SB2_SALT = "~fiedler2"


def _sb2_q(div_op: str, s_ref: str) -> str:
    """The integer projection coefficient q = sign(p)·(|p| div S) —
    shared text up to the division spelling and the S reference (Spark
    inlines the collected bigint literal, DuckDB reads its s2 CTE);
    abs() puts both operands where truncating div and flooring //
    agree, the sign/negative-division discipline of `_sb_x_case`."""
    sign = "(CASE WHEN p > 0 THEN 1 WHEN p < 0 THEN -1 ELSE 0 END)"
    return f"{sign} * (abs(p) {div_op} {s_ref})"


def _spectral_chain2(rounds: int = _SB_ROUNDS, rounds2: int = _SB_ROUNDS) -> str:
    """Direction-1 chain + the stored first iterate (xone) and its
    squared norm (s2) + the fully-unrolled SECOND deflated direction:
    per round, matvec w = M·x, integer-division projection against
    xone (t = w − q·v1, q = sign(p)·(|p| // S)), constant deflation
    n·t − Σt, renorm to the ±G grid — the N3-r4 deflation ladder's
    discipline on the Laplacian, division-free up to the one exact
    integer division per round. Ends at x2_{rounds2}."""
    from dataengineerchallenge_spark.functions.hashing import duck_u32

    steps = [
        _spectral_chain(rounds),
        f"""xone AS MATERIALIZED (
      SELECT node, v FROM x{rounds}
    ), s2 AS MATERIALIZED (
      SELECT CAST(SUM(v * v) AS BIGINT) AS s FROM xone
    ), x2_0 AS MATERIALIZED (
      SELECT src AS node,
             CAST(({duck_u32(f"CAST(src AS VARCHAR) || '{_SB2_SALT}'")})
                  % {2 * _SB_G + 1} - {_SB_G} AS BIGINT) AS v
      FROM deg
    )""",
    ]
    for r in range(1, rounds2 + 1):
        steps.append(
            f"""w2_{r} AS MATERIALIZED (
      SELECT x.node,
             (cn.c - dg.d) * x.v + COALESCE(nb.nbs, 0) AS w,
             x1.v AS v1
      FROM x2_{r - 1} x
      JOIN deg dg ON dg.src = x.node
      JOIN xone x1 ON x1.node = x.node
      CROSS JOIN cn
      LEFT JOIN (
        SELECT e.src AS node, CAST(SUM(xx.v) AS BIGINT) AS nbs
        FROM e JOIN x2_{r - 1} xx ON xx.node = e.dst GROUP BY e.src
      ) nb ON nb.node = x.node
    ), p2_{r} AS MATERIALIZED (
      SELECT CAST(SUM(v1 * w) AS BIGINT) AS p FROM w2_{r}
    ), z2_{r} AS MATERIALIZED (
      SELECT w.node, w.w - ({_sb2_q("//", "s2.s")}) * w.v1 AS t
      FROM w2_{r} w CROSS JOIN p2_{r} CROSS JOIN s2
    ), a2_{r} AS MATERIALIZED (
      SELECT CAST(SUM(t) AS BIGINT) AS sz,
             GREATEST(cn.n * MAX(t) - CAST(SUM(t) AS BIGINT),
                      -(cn.n * MIN(t) - CAST(SUM(t) AS BIGINT))) AS mz
      FROM z2_{r} CROSS JOIN cn GROUP BY cn.n
    ), x2_{r} AS MATERIALIZED (
      SELECT node, CAST({_sb_x_case("//")} AS BIGINT) AS v
      FROM (
        SELECT z.node, cn.n * z.t - a.sz AS z, a.mz AS mz
        FROM z2_{r} z CROSS JOIN a2_{r} a CROSS JOIN cn
      )
    )"""
        )
    return ",\n    ".join(steps)


def spectral_second_direction(
    spark: SparkSession,
    e: DataFrame,
    x1: DataFrame,
    rounds: int = _SB_ROUNDS,
    ckpt_every: int = 1,
) -> DataFrame:
    """SECOND Hotelling-deflated direction (VERDICT r19 next-round #2):
    power iteration on c·I − L deflated against BOTH the constant
    eigenvector AND the stored first iterate ``x1`` — exactly how the
    N3-r4 covariance ladder deflates PC1, transplanted to the
    Laplacian and kept in exact integer arithmetic:

    - matvec: w = M·x (integer, order-free)
    - projection against x1 WITHOUT a float division: q = sign(p)·
      (|p| div S) with p = x1ᵀw (one-row aggregate riding the plan)
      and S = x1ᵀx1 (loop-invariant, collected once as one bigint) —
      integer division, engine-identical under the abs/sign spelling;
      t = w − q·x1 removes the x1 component up to the sub-S remainder,
      which the NEXT round's projection re-attenuates (the fixed-
      schedule answer to exact orthogonalization, whose S·w products
      would overflow int64)
    - constant deflation n·t − Σt and the ±G renorm, verbatim from
      direction 1.

    int64 bounds, all under the direction-1 guard 2·n·c·G²: |w| ≤ 2cG,
    |p| ≤ 2ncG², |q| ≤ 2nc (S ≥ G² — the renorm pins max|x1| = G),
    |t| ≤ 2(n+1)cG, |n·t − Σt| ≤ 4(n+1)·n·c·G ≪ 2ncG².

    Checkpoint cadence is 1, like direction 1's — but for an even
    stronger reason: the two sequential one-row aggregates per round
    (projection p, then renorm stats) give this round-plan reference
    multiplicity 8 on the prior iterate, so fusing m rounds costs
    ~8^m (measured to drown the engine at m=3 — 512 leaf copies —
    before direction 1's 4^m sweep even showed fusion losing at m=2;
    BENCH_spectral.json carries that direction-1 curve, the measured
    negative that set both defaults to per-round)."""
    x1c = x1.select("node", F.col("v").alias("v1")).localCheckpoint()
    s = x1c.agg(F.sum(F.expr("v1 * v1")).alias("s")).collect()[0]["s"]

    def one_round(x: DataFrame, ep: DataFrame, degc: DataFrame, n: int, c: int):
        nb = (
            ep.join(_bc(x), x["node"] == ep["dst"])
            .groupBy(ep["src"].alias("node"))
            .agg(F.sum("v").alias("nbs"))
        )
        w = (
            degc.join(_bc(x), degc["src"] == x["node"])
            .join(_bc(nb), "node", "left")
            .join(_bc(x1c), "node")
            .select(
                "node",
                F.expr(f"({c} - d) * v + coalesce(nbs, 0)").alias("w"),
                "v1",
            )
        )
        p = w.agg(F.sum(F.expr("v1 * w")).alias("p"))
        t = w.crossJoin(F.broadcast(p)).select(
            "node",
            F.expr(f"w - ({_sb2_q('div', str(s))}) * v1").alias("t"),
        )
        a = t.agg(
            F.sum("t").alias("st"),
            F.max("t").alias("mt"),
            F.min("t").alias("nt"),
        ).select(
            F.col("st").alias("sz"),
            F.expr(
                f"greatest({n} * mt - st, -({n} * nt - st))"
            ).alias("mz"),
        )
        return (
            t.crossJoin(F.broadcast(a))
            .select(
                "node",
                F.expr(f"{n} * t - sz").alias("z"),
                "mz",
            )
            .select(
                "node",
                F.expr(_sb_x_case("div")).cast("long").alias("v"),
            )
        )

    # same keyed-cache layout and scaffold as direction 1
    x = _sb_power(e, _SB2_SALT, "spectral second direction", rounds, ckpt_every, one_round)
    _release(x1c)
    return x


@register("copurchase_spectral_bipartition", oracle=_spectral_oracle())
def copurchase_spectral_bipartition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPECTRAL BIPARTITION of the support>=2 co-purchase graph — the
    spectral lens the graph family lacked (VERDICT r18 next-round #5):
    a {_SB_ROUNDS}-round DEFLATED POWER ITERATION on c·I − L (Hotelling
    deflation of the constant eigenvector — the N3-r4 discipline
    applied to the graph Laplacian), run ENTIRELY in exact bigint
    arithmetic on the staged edge frame, with the per-round
    normalization riding the plan as a one-row cross join (one
    execution per round — cheaper than the SCC peel schedule). Side =
    sign of the round-{_SB_ROUNDS} iterate; the iterate itself ships on
    the ±{_SB_G} integer grid as ``fiedler_units``.

    What the fixed budget buys is stated honestly (measured, numpy
    spectra at all three SFs): the iteration suppresses the HIGH end of
    the spectrum geometrically, so the sign pattern lands in the
    low-eigenvalue subspace — the good-cut region — long before the
    exact Fiedler DIRECTION resolves (λ3 − λ2 here is 0.01–0.08, so
    full eigenvector separation needs thousands of rounds on ANY power
    method; rounds is the precision dial exactly as pivots are for
    betweenness). On the barbell graph the budget converges to the
    true Fiedler split in 6 rounds (closed-form pin,
    tests/test_r19.py); on the disconnected sf0.1 graph the cut falls
    162 → 37 edges between rounds 48 and 96 toward the true 0-cut
    component split; on the DENSE sf0.001 graph λ2 = 5.66 ≈ λ3 — an
    expander has no sparse cut, and no spectral method would find one
    (the measured negative result; cut quality vs LPA is pinned as a
    comparison, not a win claim).

    Scale: each round is one edge join + one global 3-register
    aggregate over a |V|-row frame — PageRank-shaped work; the
    trajectory is integer-exact so the unrolled oracle replays it
    bit-for-bit at any engine parallelism."""
    root = _staged_copurchase_edges(spark, sf_dir)
    e = (
        spark.read.parquet(f"{root}/sym")
        .filter(F.col("wr") >= 2)
        .select("src", "dst")
    )
    x = spectral_smoothing(spark, e)
    return x.select(
        F.col("node").alias("part_key"),
        F.when(F.col("v") > 0, 1).otherwise(0).cast("long").alias("side"),
        F.col("v").cast("long").alias("fiedler_units"),
    )


def _sb_lambda_text(c_ref: str) -> str:
    """λ̂_L = c − xᵀMx / xᵀx on the 1e-6 grid — ONE double division
    inside ROUND with the identical operand DAG both engines (xmx, xx
    are exact bigints; ``c_ref`` is the integer c as a Spark literal /
    DuckDB cn.c)."""
    return (
        f"cast(round(({c_ref} * 1.0 - (xmx * 1.0) / (xx * 1.0))"
        " * 1000000.0, 0) as bigint)"
    )


def _sb_rayleigh(
    x: DataFrame, ep: DataFrame, degc: DataFrame, c: int
) -> DataFrame:
    """One extra exact matvec over the final iterate → the two Rayleigh
    registers (xx = xᵀx, xmx = xᵀMx) as a one-row frame. |xmx| ≤
    2·n·c·G² — the loop guard's own bound, so no new headroom check."""
    nb = (
        ep.join(x, x["node"] == ep["dst"])
        .groupBy(ep["src"].alias("node"))
        .agg(F.sum("v").alias("nbs"))
    )
    w = (
        degc.join(x, degc["src"] == x["node"])
        .join(nb, "node", "left")
        .select(
            "node",
            F.expr(f"({c} - d) * v + coalesce(nbs, 0)").alias("w"),
            "v",
        )
    )
    return w.agg(
        F.sum(F.expr("v * v")).alias("xx"),
        F.sum(F.expr("v * w")).alias("xmx"),
    )


def _sb_edge_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _staged_copurchase_edges(spark, sf_dir)
    return (
        spark.read.parquet(f"{root}/sym")
        .filter(F.col("wr") >= 2)
        .select("src", "dst")
    )


def _sb_rq_sql(tag: str, src_cte: str) -> str:
    """Rayleigh CTE pair over a final-iterate CTE: the same matvec
    shape as a round, dotted back against the iterate."""
    return f"""rw{tag} AS MATERIALIZED (
      SELECT x.node,
             (cn.c - dg.d) * x.v + COALESCE(nb.nbs, 0) AS w,
             x.v AS v
      FROM {src_cte} x
      JOIN deg dg ON dg.src = x.node
      CROSS JOIN cn
      LEFT JOIN (
        SELECT e.src AS node, CAST(SUM(xx.v) AS BIGINT) AS nbs
        FROM e JOIN {src_cte} xx ON xx.node = e.dst GROUP BY e.src
      ) nb ON nb.node = x.node
    ), rq{tag} AS MATERIALIZED (
      SELECT CAST(SUM(v * v) AS BIGINT) AS xx,
             CAST(SUM(v * w) AS BIGINT) AS xmx
      FROM rw{tag}
    )"""


@register(
    "copurchase_spectral_profile",
    oracle=f"""
    WITH {_SB_EDGE_SQL},
    {_spectral_chain2()},
    {_sb_rq_sql("1", f"x{_SB_ROUNDS}")},
    {_sb_rq_sql("2", f"x2_{_SB_ROUNDS}")}
    SELECT CAST(1 AS BIGINT) AS direction, xx, xmx,
           {_sb_lambda_text("cn.c")} AS lambda_l_micropoints
    FROM rq1 CROSS JOIN cn
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS direction, xx, xmx,
           {_sb_lambda_text("cn.c")} AS lambda_l_micropoints
    FROM rq2 CROSS JOIN cn
    """,
)
def copurchase_spectral_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GREEN EIGENVALUE READOUT (VERDICT r19 next-round #2): the
    spectrum as a QUERY, not a docstring — λ̂_L = c − xᵀMx / xᵀx for
    both deflated directions, computed from one extra exact matvec per
    direction (Rayleigh registers xᵀx, xᵀMx are exact bigints; the one
    double division lands in ROUND with the identical DAG both
    engines). Direction 1 is `spectral_smoothing`'s Fiedler-direction
    iterate; direction 2 is `spectral_second_direction`'s — deflated
    against BOTH the constant vector and the computed first iterate,
    the N3-r4 ladder's Hotelling step on the Laplacian.

    Honesty contract carried from the bipartition rung: after the
    fixed {_SB_ROUNDS}-round budget the iterates live in the
    LOW-eigenvalue subspace but are not resolved eigenvectors when
    λ3 − λ2 is tiny (0.01–0.08 here, measured) — so λ̂(1) ≤ λ̂(2) is
    NOT guaranteed by the method and is not claimed; what the readout
    gives is the measured Rayleigh position of each direction, pinned
    exactly on K_m (every deflated direction is an exact eigenvector,
    λ̂ = m bit-for-bit) in tests/test_r20.py.

    Scale: two matvec-shaped joins + two one-row aggregates beyond the
    two iteration chains; driver sees only bounded scalars."""
    e = _sb_edge_frame(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n"), F.max("d").alias("dmax")
    ).collect()[0]
    c = 2 * stats["dmax"]

    with _loop_cache(e) as (ep, _):
        degc = deg.localCheckpoint()
        x1 = spectral_smoothing(spark, e)
        x2 = spectral_second_direction(spark, e, x1)
        lam = _sb_lambda_text(str(c))
        return (
            _sb_rayleigh(x1, ep, degc, c)
            .select(
                F.lit(1).cast("long").alias("direction"),
                "xx",
                "xmx",
                F.expr(lam).alias("lambda_l_micropoints"),
            )
            .unionByName(
                _sb_rayleigh(x2, ep, degc, c).select(
                    F.lit(2).cast("long").alias("direction"),
                    "xx",
                    "xmx",
                    F.expr(lam).alias("lambda_l_micropoints"),
                )
            )
        )


@register(
    "copurchase_spectral_quadrants",
    oracle=f"""
    WITH {_SB_EDGE_SQL},
    {_spectral_chain2()}
    SELECT x1.node AS part_key,
           CAST(CASE WHEN x1.v > 0 THEN 1 ELSE 0 END AS BIGINT) AS side,
           CAST(CASE WHEN x2.v > 0 THEN 1 ELSE 0 END AS BIGINT) AS side2,
           CAST(2 * (CASE WHEN x1.v > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN x2.v > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS quadrant,
           CAST(x1.v AS BIGINT) AS fiedler_units,
           CAST(x2.v AS BIGINT) AS second_units
    FROM x{_SB_ROUNDS} x1 JOIN x2_{_SB_ROUNDS} x2 ON x2.node = x1.node
    """,
)
def copurchase_spectral_quadrants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """4-WAY SPECTRAL PARTITION (VERDICT r19 next-round #2): quadrant =
    (sign of direction 1, sign of direction 2) — the two-eigenvector
    embedding every spectral clustering pipeline cuts on, here with
    both directions integer-exact and hash-verified against the
    fully-unrolled two-chain oracle. On a 4-clique chain the quadrant
    labels recover the 4 cliques exactly (the two-eigenpair
    closed-form pin: v2 splits (A,B | C,D), v3 splits (A,D | B,C) —
    pinned in tests/test_r20.py alongside the conductance of this
    4-way cut vs the bipartition's)."""
    e = _sb_edge_frame(spark, sf_dir)
    x1 = spectral_smoothing(spark, e)
    x2 = spectral_second_direction(spark, e, x1)
    s1 = F.when(F.col("fiedler_units") > 0, 1).otherwise(0)
    s2 = F.when(F.col("second_units") > 0, 1).otherwise(0)
    return (
        x1.select("node", F.col("v").alias("fiedler_units"))
        .join(
            x2.select("node", F.col("v").alias("second_units")), "node"
        )
        .select(
            F.col("node").alias("part_key"),
            s1.cast("long").alias("side"),
            s2.cast("long").alias("side2"),
            (2 * s1 + s2).cast("long").alias("quadrant"),
            F.col("fiedler_units").cast("long"),
            F.col("second_units").cast("long"),
        )
    )
