"""Iterative graph algorithms as DataFrame joins: PageRank by power
iteration, HITS, star-contraction connected components and their kin.

Spark has no native graph operator set, but PageRank's update is pure
relational algebra — one join (current ranks onto out-edges) and one
aggregation (sum contributions per destination) per iteration — so the
whole computation stays inside Catalyst/Tungsten with zero Python in
the hot path. The driver-side ``for`` loop only *builds* the plan; no
data touches the driver.

Scale shape (100 TB edge set):
- Edges are the big side and are touched once per iteration; ranks are
  |V| rows. Each iteration shuffles contributions on ``dst`` and joins
  ranks on ``src`` — the rank side carries an explicit broadcast hint
  (``_bc``; r20 — AQE does NOT rescue the unrolled lazy plan: with no
  materialized stage under the mid-plan iterate it planned
  SortMergeJoin and re-sorted the edge cache every round, 95 s of task
  time at sf0.1), so the join leg is map-side by construction.
  Pre-partitioning the cached edges by ``dst``
  to make the contribution sum exchange-free was tried and measured
  SLOWER at 2.4M edges / 20k nodes (18.8 s vs 13.8 s: the upfront
  repartition of the full edge list costs more than five partial-agg
  shuffles of ~|V|-per-partition combined rows save); it becomes the
  right trade only when per-iteration shuffled volume, not the one-time
  layout pass, dominates — i.e. much larger |V| or many more iterations.
- One rule for every Python-side round loop, enforced by two helpers: the
  loop-invariant edge projection lives in a ``_loop_cache`` scope
  (persisted, laid out once, every cached copy unpersisted on ANY exit),
  and ``_iterate`` runs the rounds — each round's frame is a
  localCheckpoint (lineage cut, plan depth constant), a convergence
  fingerprint is the round's ONE action, and round N-1's checkpoint
  blocks are released once round N is materialized. Only the unrolled
  fixed-iteration pagerank plan keeps a lazy chain (5 iterations stay
  well within planner comfort).
- Dangling nodes (no out-edges) leak rank mass; ``pagerank`` with
  ``dangling=True`` (r13) redistributes the dangling sum uniformly each
  iteration, conserving total mass on arbitrary directed graphs. For
  symmetric co-occurrence graphs (every node has in == out degree >= 1)
  there is no dangling mass by construction, so the plain update
  suffices and total mass stays |V| for free.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bc(df: DataFrame) -> DataFrame:
    """Broadcast hint for an ITERATE-side frame (|V|-bounded: ranks,
    labels, frontiers, h-index values, per-node degrees) joined against
    the loop-invariant |E|-row edge frame.

    Why an explicit hint (guide §3.1): a mid-loop iterate is either a
    localCheckpoint RDD or an unmaterialized join/agg chain — both give
    the planner NO usable size estimate (default 8-EiB stats), so every
    round's join planned as SortMergeJoin, re-exchanging AND re-sorting
    the cached edge frame each round. Measured on
    part_copurchase_pagerank_staged @ sf0.1 before the hint: 95 s of
    task time for a 5.1 s wall, with a 73 MiB Exchange + Sort of the
    2.39M-row edge cache in EVERY round (plans/r20/
    part_copurchase_pagerank_staged_before.txt). AQE cannot rescue it:
    the iterate side has no materialized shuffle stage below the join,
    so no runtime stats exist at planning time.

    Scale dial: ``spark.graft.graph.broadcastIterate`` (default true).
    The iterate is |V| rows — node-table scale, NOT edge scale — so the
    broadcast holds far beyond fixture sizes; on a cluster where |V|
    itself outgrows the broadcast budget (billions of nodes), set the
    conf to false and every join degrades to exactly the pre-hint
    shuffle strategy. Join-strategy hints never change the result set;
    for the two double-valued scores (pagerank, HITS) the oracle
    sweeps re-verify the ROUND(4) values at all three SFs.

    WHERE it applies is a measured per-operator decision, not a
    blanket (r20 A/B, 3-sample medians @ sf0.1, both flag settings):
    the hint wins exactly where the iterate join lives INSIDE a larger
    lazy plan that AQE cannot re-optimize mid-execution — pagerank's
    unrolled rounds (5.0 vs 5.6 s), hits' partition-preserving
    half-steps (6.0 vs 6.6 s), the spectral loops (18.4 vs 23.1 s) and
    batched-pivot betweenness (4.5 vs 5.9 s). In the per-round
    localCheckpoint loops whose round is its own small execution
    (star-CC 4.6 vs 3.4 s, coreness 7.4 vs 4.4 s, LPA 3.7 vs 2.1 s,
    BFS hops 4.7 vs 4.5 s, min-plus SSSP 3.1 vs 2.8 s, walks 3.2 vs
    2.8 s, SCC 24.9 vs 22.4 s) AQE already demotes the round join to
    broadcast from materialized runtime stats with LESS serialized
    build latency than the explicit hint, so those loops carry no
    hint — forcing one there was measured strictly slower. LPA and
    coreness are the exception since their edge caches went keyed: the
    hint keeps the keyed cache the streamed side (see ``_keyed``)."""
    if (
        df.sparkSession.conf.get("spark.graft.graph.broadcastIterate", "true")
        == "true"
    ):
        return F.broadcast(df)
    return df


# Per-partition row floor for compacted loop-invariant caches (_narrowed).
# ~64k narrow (2-3 bigint column) rows is a few MB per task — big enough
# that a round's per-task shuffle-file bookkeeping stops dominating, small
# enough that mid-size frames keep most of their natural parallelism. The
# clamp in _narrowed means frames at or above their natural width are
# never widened, so at 100 TB the layout is untouched.
_LOOP_CACHE_ROWS_PER_PART = 1 << 16

# Per-partition BYTE floor for keyed loop caches sized from plan stats
# (pagerank — see _keyed's docstring for why stats, not a count action).
# 256 KiB of scan bytes is a few MB decompressed in memory — the same
# few-MB-per-task floor the 64k-row constant expresses for counted
# frames; an unknown-stats plan (8-EiB default) clamps to the configured
# shuffle width, i.e. exactly the width of the exchanges being removed.
_LOOP_CACHE_BYTES_PER_PART = 256 << 10


def _narrowed(df: DataFrame, n_rows: int) -> DataFrame:
    """Compact a persisted loop-invariant frame to a width derived from
    its MEASURED row count (guide §2.2/§2.6: fewer, larger partitions;
    scale-adaptive, not a local-mode constant).

    Why: a persisted plan keeps the static ``spark.sql.shuffle.partitions``
    width — AQE does not re-plan under ``persist`` unless
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on
    (A/B'd: a wash, BENCH_cachepart.json) — so a few-thousand-row edge
    frame arrives as 32-64 near-empty partitions, and every loop round's
    join then schedules that many map tasks, each paying a shuffle-file
    create/commit serialized on the per-JVM IndexShuffleBlockResolver
    lock plus an mmap/unmap pair (jstack evidence: ~250 ms of blocked,
    zero-CPU runtime per wave; OPTIMIZATION_r20.md Change 6).

    ``coalesce`` is a narrow dependency reading the already-cached
    blocks, so this costs no shuffle and cannot change any result set —
    only the task count per round."""
    parts = df.rdd.getNumPartitions()
    want = max(1, min(parts, -(-n_rows // _LOOP_CACHE_ROWS_PER_PART)))
    if want < parts:
        return df.coalesce(want)
    return df


def _stats_keyed(e: DataFrame, key: str) -> DataFrame:
    """``repartition(k, key)`` with k sized from the frame's
    OPTIMIZED-PLAN stats (the pagerank Change-12 sizing, extracted so
    the spectral loops share it — r21 change 2): staged scans have
    exact file-size stats; an unknown mid-plan estimate (Spark's 8-EiB
    default) clamps k to the configured shuffle width, which is exactly
    the width the removed per-round exchanges used — never worse. Not
    persisted; callers persist the returned frame (keyed loop caches
    hold HashPartitioning(key, k), so every per-round operator
    clustered on ``key`` runs exchange-free on the cache)."""
    spark = e.sparkSession
    size = int(str(e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, min(cap, -(-size // _LOOP_CACHE_BYTES_PER_PART)))
    return e.repartition(k, key)


def _keyed(e_cached: DataFrame, n_rows: int, key: str):
    """Aggregation-keyed variant of ``_narrowed`` (r20 session 5, guide
    §2.4 "two operations keyed the same way can share one exchange").

    ``_narrowed``'s coalesce leaves the cache with UnknownPartitioning,
    so every loop round still pays an exchange (tiny, but a full
    map+reduce stage pair of scheduling latency) for its per-round
    groupBy / window / distinct. Laying the loop-invariant cache out as
    ``repartition(k, key)`` instead makes HashPartitioning(key, k) the
    cache's stored partitioning — any per-round operator clustered on
    ``key`` (or a superset of it: groupBy(key, x), a window partitioned
    by key, distinct over key) then satisfies its required distribution
    for ANY k and runs exchange-free, one stage per round, directly on
    the cached blocks. This is the HITS Change-2/7 layout generalized
    to the other keyed loops.

    k derives from the MEASURED row count with the same 64k-row floor
    and shuffle-width clamp as ``_narrowed``, so at 100 TB the cache
    keeps the configured cluster width and the one-time repartition
    replaces per-round edge-scale shuffles. The repartition reads the
    already-persisted raw cache (the caller counts it first), and the
    keyed frame is persisted itself — two cached copies held for the
    loop's lifetime (the documented HITS trade); the caller unpersists
    both.

    Returns the persisted keyed frame. Per-round-execution loops must
    broadcast-hint their iterate side so the keyed frame is the STREAMED
    join side: otherwise AQE may broadcast the edge cache itself and
    discard the layout.
    """
    spark = e_cached.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, min(cap, -(-n_rows // _LOOP_CACHE_ROWS_PER_PART)))
    return e_cached.repartition(k, key).persist(StorageLevel.MEMORY_AND_DISK)


@contextmanager
def _loop_cache(e: DataFrame, layout: str | None = None, key: str | None = None, aggs=()):
    """Scope of a loop's invariant edge projection ``e``: persist it, lay
    it out once for the rounds, yield ``(frame, row)``, and unpersist
    every cached copy in ``finally`` — a normal return, an exhausted
    round budget and any other error alike (an unreleased loop cache
    outlives the query for the whole session).

    ``layout``:
    - ``None``: ``e`` as given (already laid out, e.g. ``_stats_keyed``);
      no action, ``row`` is None.
    - ``"stats"``: ``_stats_keyed(e, key)``, sized from plan stats; no
      action, ``row`` is None.
    - ``"narrow"`` / ``"keyed"``: one aggregate action over the persisted
      frame counts it (and materializes the cache), then ``_narrowed``
      coalesces it or ``_keyed`` lays a second copy out on ``key``.
      ``aggs`` ride that same action; ``row`` holds them and ``n``.
    """
    if layout == "stats":
        e = _stats_keyed(e, key)
    frame = e.persist(StorageLevel.MEMORY_AND_DISK)
    copies = [frame]
    try:
        row = None
        if layout in ("narrow", "keyed"):
            row = e.agg(F.count(F.lit(1)).alias("n"), *aggs).collect()[0]
            if layout == "keyed":
                frame = _keyed(e, row["n"], key)
                copies.append(frame)
            else:
                frame = _narrowed(e, row["n"])
        yield frame, row
    finally:
        for c in copies:
            c.unpersist()


def _release(df: DataFrame) -> None:
    """Drop the blocks of a localCheckpoint-ed frame (a ``LogicalRDD``
    root). Reading the frame afterwards fails, so release a round only
    once nothing reads it any more."""
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _rows(df: DataFrame) -> int:
    """Row count of ``df`` as one RDD job over its partitions: no SQL
    aggregate, so no Exchange into a single partition (the emptiness
    fingerprint of a loop whose round frame has no other aggregate)."""
    return df._jdf.queryExecution().toRdd().count()


def _iterate(
    state: DataFrame,
    step,
    rounds: int,
    fingerprint=None,
    converged=None,
    name: str | None = None,
    stats: dict | None = None,
    keep: bool = False,
):
    """The round loop shared by the graph operators: up to ``rounds`` rounds of
    ``state = step(state)``, each round's frame a localCheckpoint (the
    initial ``state`` too), so plan depth stays constant.

    - Fixed rounds (no ``fingerprint``): eager checkpoints.
    - Fixpoint rounds: the checkpoint is lazy and ``fingerprint(frame)``
      is the round's ONLY action (a one-row aggregate's ``collect``, or
      ``_rows``), so it must read every partition and thereby
      materialize the whole checkpoint: ``isEmpty``/``take`` may read
      only the first partition, and Spark then runs a second job for
      the rest. The loop stops when ``converged(fp, prev_fp)`` holds
      (``prev_fp`` is None in round 1); without a ``converged`` it
      stops when the fingerprint repeats, the initial state's
      fingerprint included.
    - Once round N is materialized, round N-1's checkpoint blocks are
      released (``_release``), unless ``keep`` (the caller's output
      reads every round).

    Returns ``(state, rounds_run, converged)``. ``stats`` receives
    ``rounds`` and ``converged``; when ``name`` is given, exhausting the
    budget of a fixpoint loop raises RuntimeError naming the operator
    (a truncated fixpoint is a wrong answer, not an approximation).
    """
    lazy = fingerprint is not None

    def ckpt(df):
        return df.localCheckpoint(eager=not lazy)

    state = ckpt(state)
    prev = None
    if lazy and converged is None:
        prev = fingerprint(state)
    ran, done = 0, False
    for _ in range(rounds):
        ran += 1
        nxt = ckpt(step(state))
        fp = fingerprint(nxt) if lazy else None
        if not keep:
            _release(state)
        state = nxt
        if lazy:
            done = converged(fp, prev) if converged else fp == prev
            if done:
                break
            prev = fp
    if stats is not None:
        stats["rounds"] = ran
        stats["converged"] = done
    if lazy and not done and name is not None and rounds > 0:
        raise RuntimeError(
            f"{name} did not converge within {rounds} rounds; a "
            f"truncated result would be silently wrong — raise the round "
            f"budget (schedule bounds are shared with the SQL oracle)"
        )
    return state, ran, done


def _seed1(spark, source, seed_t: str, col2: str, val2: int, t2: str) -> DataFrame:
    """One-row (node, <col2>) seed frame on ONE partition.

    ``createDataFrame([one row])`` slices even a single row over
    ``defaultParallelism`` partitions, and the seed's width is inherited
    by every visited-union and anti-join map side downstream (measured:
    a 33-task final scan for a 2-wave BFS). ``spark.range(0, 1, 1, 1)``
    pins numPartitions=1 at the SOURCE — measured at sf0.1 BFS: 0.8 s
    total vs 3.2 s for the 32-slice createDataFrame seed. Do NOT reach
    for ``coalesce(1)`` instead: a Coalesce node over the parallelized
    seed RDD was measured ~8x SLOWER per round (23 s total) — it blocks
    the local-relation short-circuits for every plan the seed's lineage
    reaches (probe transcript in OPTIMIZATION_r20.md Change 6)."""
    return spark.range(0, 1, 1, 1).select(
        F.lit(source).cast(seed_t).alias("node"),
        F.lit(val2).cast(t2).alias(col2),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dangling: bool = False,
    tol: float | None = None,
    stats: dict | None = None,
    teleport: DataFrame | None = None,
    weight: str | None = None,
    outdeg: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list, returning
    (node, pr) where pr is the |V|-SCALED rank (mean 1.0, i.e. classic
    rank x N) — the scaled form keeps values O(1) so a fixed decimal
    rounding downstream doesn't erase the signal.

    Update rule per iteration (scaled form):
        pr'(v) = (1 - damping) + damping * (sum_{u -> v} pr(u) / outdeg(u)
                                            [+ dangling_sum / |V|])

    ``edges`` must not contain duplicate (src, dst) rows if an unweighted
    graph is intended — duplicates act as parallel edges (weight 2).
    Nodes are the union of src and dst values.

    ``dangling=True`` (r13, VERDICT r12 #3) redistributes the rank mass
    of no-out-edge nodes uniformly each iteration — the published
    correction that makes total mass exactly |V| on ARBITRARY directed
    graphs (without it a bipartite purchase graph leaks the entire sink
    side's mass every step). Cost: one broadcast 1-row semi-join sum per
    iteration; the symmetric-graph callers keep the free path.

    ``tol`` switches from a fixed unrolled plan to CONVERGENCE-TESTED
    iteration on ``_iterate``: each round is materialized
    (localCheckpoint) and the loop stops once max |pr' - pr| < tol, with
    ``iters`` now the round CAP. The max-delta aggregate is each round's
    one action — the trade a user makes when the iteration count is
    unknown for their graph. ``stats`` (optional) receives
    {"iterations": k, "delta": last_max_delta_or_None}.

    ``teleport`` (r14) turns the computation PERSONALIZED (topic-
    sensitive PageRank, Haveliwala WWW'02 — a public design): a
    one-column (node) seed frame replaces the uniform restart with a
    restart onto the seeds only, t(v) = |V|/|S| for seeds else 0 (mean
    1 over all nodes, so total mass stays |V| and ranks remain O(1)):

        pr'(v) = (1 - damping)·t(v) + damping·(inflow(v) [+ ds·t(v)/|V|])

    With ``dangling=True`` the dangling mass also re-enters through the
    teleport distribution (the standard personalized correction). Cost:
    one broadcast join of the tiny seed frame per plan, no extra
    shuffle — the seed indicator rides the node frame.

    ``weight`` (r14) names an edge-weight column and switches to the
    standard WEIGHTED update (the form in Brin & Page's original when
    links carry multiplicity): a node splits its rank over out-edges in
    proportion to weight, contribution pr(u)·w(u,v)/W(u) with W(u) the
    node's out-weight sum. Row-stochastic like 1/outdeg, so every mass
    property (conservation, dangling, teleport) holds unchanged; the
    unweighted path is untouched.

    ``outdeg`` (r15) optionally supplies the per-source degree frame
    precomputed — two columns (src, outdeg), where outdeg is the edge
    COUNT for unweighted graphs and the out-WEIGHT SUM for weighted
    ones. This is the serve half of the staged edge-store split
    (queries/graph.py:_staged_copurchase_edges): the degree aggregate
    is a build-time invariant of the edge set, so a staged store
    publishes it once and every serve call skips the groupBy entirely.
    When omitted, it is derived from ``edges`` exactly as before.
    """
    if weight is not None:
        # validate once at the column level (ADVICE r14): a null, zero or
        # negative weight makes W(u) null/zero and the per-edge share
        # null — F.sum would silently DROP the null contribution and
        # rank mass would leak with no error. raise_error folds the
        # check into the existing scan: zero extra actions, and the
        # first materialization of any consumer fails loudly instead.
        w_raw = F.col(weight).cast("double")
        w_ok = F.when(
            w_raw.isNull() | (w_raw <= 0.0),
            F.raise_error(
                F.format_string(
                    "pagerank: edge weight must be a positive non-null "
                    "number, got '%s' on edge (%s -> %s)",
                    w_raw.cast("string"),
                    F.col(src).cast("string"),
                    F.col(dst).cast("string"),
                )
            ).cast("double"),
        ).otherwise(w_raw)
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            w_ok.alias("w"),
        )
        if outdeg is None:
            outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    else:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if outdeg is None:
            outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    # out-edges annotated once with the constant outdegree; reused every
    # iteration so the per-iteration work is join + sum only.
    # Persist the loop invariants: without this every iteration's plan
    # subtree re-runs the upstream edge build (observed: 44 file scans /
    # 65 exchanges for 5 iterations on the co-purchase graph), which at
    # 100 TB means re-shuffling the raw fact table once per iteration.
    # Measured (BENCH_graph.json): the persist pays in proportion to the
    # upstream build cost — 3.1x on the co-purchase query (edges derive
    # from a lineitem self-join + distinct), 1.5x at 16M pre-materialized
    # edges, and LOSES ~25% at 1M pre-materialized edges where the cache
    # write costs more than the bare re-scan it saves.
    # MEMORY_AND_DISK so an edge set bigger than executor memory spills
    # instead of failing; both frames are lazy until the first action.
    # r20 session 5: the per-round contribution aggregate groups by
    # dst, and the executed plan paid one edge-scale partial-agg →
    # Exchange → final-agg stage pair PER ROUND for it
    # (plans/r20/part_copurchase_pagerank_staged_before_keyed.txt).
    # Laying the loop-invariant cache out as HashPartitioning(dst, k)
    # once makes every round's groupBy("dst") exchange-free in place
    # on the cache — the HITS Change-2 layout applied to pagerank.
    # Unlike HITS, k comes from the edge frame's OPTIMIZED-PLAN
    # stats, not a count action: a first-cut counted variant paid a
    # full extra pass over the edge build plus a second cached copy
    # (task-time A/B: CPU 24.8 → 34.4 s, shuffle 23.5 → 32.1 MB) —
    # the wrong trade at 100 TB. Sizing shared via _stats_keyed
    # (r21: the spectral loops use the same layout).
    with ExitStack() as scope:
        eo, _ = scope.enter_context(
            _loop_cache(_stats_keyed(e, "dst").join(_bc(outdeg), "src"))
        )
        nodes, _ = scope.enter_context(_loop_cache(nodes))
        dang = None
        n_nodes = None
        if dangling:
            # the dangling node set is a loop invariant too (nodes minus
            # edge sources); |V| is one scalar read off the cached nodes
            dang, _ = scope.enter_context(
                _loop_cache(
                    nodes.join(
                        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
                    )
                )
            )
            n_nodes = nodes.count()

        tele = None
        if teleport is not None:
            # restrict seeds to graph nodes (a seed outside the graph would
            # silently dilute the restart mass), annotate the node frame
            # once with the scaled restart weight — a loop invariant
            if n_nodes is None:
                n_nodes = nodes.count()
            with _loop_cache(
                teleport.select(F.col(teleport.columns[0]).alias("node"))
                .distinct()
                .join(nodes, "node", "left_semi")
            ) as (seeds, _):
                n_seeds = seeds.count()
                if n_seeds == 0:
                    raise ValueError(
                        "personalized pagerank: no teleport seed is a graph node"
                    )
                tele_plan = nodes.join(
                    F.broadcast(seeds.withColumn("_s", F.lit(1))), "node", "left"
                ).select(
                    "node",
                    F.when(F.col("_s").isNotNull(), F.lit(float(n_nodes) / n_seeds))
                    .otherwise(F.lit(0.0))
                    .alias("t"),
                )
            tele, _ = scope.enter_context(_loop_cache(tele_plan))

        def step(ranks: DataFrame) -> DataFrame:
            share = (
                F.col("pr") * F.col("w") / F.col("outdeg")
                if weight is not None
                else F.col("pr") / F.col("outdeg")
            )
            contrib = (
                eo.join(_bc(ranks), eo["src"] == ranks["node"])
                .select("dst", share.alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("inflow"))
            )
            base = tele if tele is not None else nodes
            nxt = base.join(_bc(contrib), base["node"] == contrib["dst"], "left")
            inflow = F.coalesce(F.col("inflow"), F.lit(0.0))
            if dangling:
                dsum = ranks.join(_bc(dang), "node", "left_semi").agg(
                    F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_ds")
                )
                nxt = nxt.crossJoin(F.broadcast(dsum))
                # dangling mass re-enters via the restart distribution:
                # uniform without teleport, onto the seeds with it
                dist = F.col("t") / F.lit(float(n_nodes)) if tele is not None else (
                    F.lit(1.0) / F.lit(float(n_nodes))
                )
                inflow = inflow + F.col("_ds") * dist
            restart = F.col("t") if tele is not None else F.lit(1.0)
            nxt = nxt.select(
                "node",
                (F.lit(1.0 - damping) * restart + F.lit(damping) * inflow).alias("pr"),
            )
            if tol is not None:
                # the previous rank rides the round's frame, so the
                # convergence fingerprint max |Δpr| is one aggregate over it
                nxt = nxt.join(ranks.select("node", F.col("pr").alias("_old")), "node")
            return nxt

        ranks = nodes.select("node", F.lit(1.0).alias("pr"))
        ran, delta = iters, None
        if tol is not None:

            def converged(d, prev) -> bool:
                nonlocal delta
                delta = d
                return delta is not None and delta < tol

            ranks, ran, _ = _iterate(
                ranks.withColumn("_old", F.lit(None).cast("double")),
                step,
                iters,
                fingerprint=lambda r: r.agg(
                    F.max(F.abs(F.col("pr") - F.col("_old")))
                ).collect()[0][0],
                converged=converged,
            )
            ranks = ranks.select("node", "pr")
        elif dangling:
            # dangling mode references `ranks` TWICE per iteration
            # (contribution join + dangling-sum semi-join), so a lazy chain
            # doubles the plan tree every round — 2^iters subtrees OOMed
            # the planner at 60 lazy iterations; checkpointed rounds keep
            # the plan constant-depth and the work linear
            ranks, _, _ = _iterate(ranks, step, iters)
        else:
            for _ in range(iters):
                ranks = step(ranks)
            # materialize the final ranks (localCheckpoint truncates
            # lineage) before the loop caches are released
            ranks = ranks.localCheckpoint()
    if stats is not None:
        stats["iterations"] = ran
        stats["delta"] = delta
    return ranks


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts of an UNDIRECTED graph
    (``edges`` may carry one or both directions; pairs are canonicalized
    and deduplicated first). Returns (node, n_triangles) for nodes in at
    least one triangle.

    Algorithm: degree-ordered edge orientation (the standard wedge-bound
    trick — each undirected edge points from the lower-(degree, id) rank
    endpoint to the higher): every triangle is generated exactly once as
    a wedge at its LOWEST-rank corner plus one closing-edge hash join.
    Orienting by degree instead of raw id bounds a hub's out-degree by
    O(sqrt(|E|)) on any graph, so wedge fanout never explodes on the
    skewed degree distributions real graphs have — with raw-id
    orientation a hot hub with degree d contributes C(d, 2) wedges.
    Per-node counts are orientation-invariant (a triangle is a node
    SET), which also lets the DuckDB oracle use the simpler raw-id
    orientation and still match value-for-value.
    """
    canon = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    und = canon.union(canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # rank = (degree, id): total order, deterministic
    ranked = (
        und.join(deg.withColumnRenamed("a", "_n").withColumnRenamed("deg", "dega"),
                 F.col("a") == F.col("_n")).drop("_n")
        .join(deg.withColumnRenamed("a", "_n").withColumnRenamed("deg", "degb"),
              F.col("b") == F.col("_n")).drop("_n")
    )
    # NOTE (r20): the degree joins deliberately carry NO broadcast hint,
    # unlike the loop-iterate joins (_bc): these are one-shot joins
    # below a persisted frame, and hinting them removed the shuffle
    # boundaries AQE used to correct the wedge/closing-join strategies
    # downstream — measured at sf0.1 as a 4x task-time regression
    # (25 s broadcast-replanned stages) before the hint was reverted.
    oriented = ranked.filter(
        (F.col("dega") < F.col("degb"))
        | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
    ).select(F.col("a").alias("u"), F.col("b").alias("v"))
    # `oriented` is consumed THREE times in one plan (both wedge legs and
    # the closing-edge union) and itself sits on the canon/degree joins —
    # without the persist each consumption re-derives that whole subtree
    # (VERDICT r12 flagged the executed plan at 13 exchanges: Catalyst's
    # ReusedExchange absorbed some triplication, but that reuse is
    # fragile under AQE replanning and at 100x each re-derivation is a
    # re-shuffle of the fact table the edges came from). Same loop-
    # invariant hygiene as pagerank's eo/nodes; released before return.
    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).filter(
        F.col("e1.v") < F.col("e2.v")
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    # close the wedge: (y, z) must be an edge in EITHER orientation
    closer = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("z")
    ).union(oriented.select(F.col("v").alias("y"), F.col("u").alias("z")))
    # no distinct needed: `oriented` holds each unordered pair exactly
    # once in exactly one direction, so the two-reversal union is
    # duplicate-free by construction
    tris = wedges.join(closer, ["y", "z"])
    # r20 session 4: a triangle contributes its three corners to the
    # member multiset. The original 3-way UNION consumed `tris` three
    # times and the executed plan (plans/r20, 38 join nodes) duplicated
    # the whole wedge-join + closing-join subtree PER BRANCH — only the
    # exchanges were reused, so the join/probe stages ran 3x (guide
    # §2.4 "duplicated subtrees"). explode(array(x,y,z)) emits the
    # identical row multiset from ONE enumeration pass.
    members = tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
    counts = members.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    # materialize (localCheckpoint is eager and truncates lineage), then
    # RELEASE the persisted invariant — mirrors pagerank's unpersist
    # discipline so a registry sweep never accretes cached edge frames
    counts = counts.localCheckpoint()
    oriented.unpersist()
    return counts


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities by mutual power iteration (Kleinberg,
    JACM'99 — a public algorithm), returning (node, kind, score) where
    kind is 'hub' (a src-side node, scored by the authority of what it
    points at) or 'authority' (a dst-side node, scored by the hub
    quality of what points at it).

    Update per iteration (the standard mutual reinforcement):

        a'(v) = sum over u->v of h(u),   then a' is renormalized
        h'(u) = sum over u->v of a'(v),  then h' is renormalized

    Normalization: scores are rescaled each half-step so their MEAN is
    1.0 over that side's node set (score * |side| / sum(score)) — the
    repo's scaled-form convention (see ``pagerank``). Any fixed
    per-iteration rescaling yields the same principal-eigenvector
    direction as Kleinberg's unit-L2 choice (the iterate is a scalar
    multiple either way); mean-1 keeps values O(1) so the standard
    ROUND(4) float discipline doesn't erase the signal, and avoids
    SQRT in the unrolled oracle.

    Scale shape (100 TB edge set): per iteration, two equi-joins of the
    edge list onto a |V|-row score frame (broadcast-hinted — see
    ``_bc``) and two EXCHANGE-FREE aggregations: the edge list is
    cached twice, hash-partitioned by each half-step's aggregation key,
    so the groupBy runs in place on the cache (guide §2.4). Every src
    node has outdegree >= 1 and every dst node indegree >= 1 by
    construction of the side sets, so both raw updates cover their full
    side and no left-join backfill is needed. Each half-step
    localCheckpoints its RAW aggregate and keeps the renorm lazy over
    the checkpoint (the renorm's two references — values + the 1-row
    sum — then re-read |V| checkpointed rows instead of re-running the
    edge aggregate; without any materialization the lazy plan doubles
    per HALF-iteration, 4^iters subtrees — same planner blow-up the
    dangling ``pagerank`` path documents). Both partitioned edge caches
    are loop invariants, released before return.
    """
    if iters < 1:
        # the final union reads the last authority frame, which only
        # exists after at least one half-step — without this guard a
        # zero-iteration call dies with an opaque AttributeError on
        # `a` being None at the union (ADVICE r14)
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # TWO loop-invariant caches, each hash-partitioned by its half-step's
    # aggregation key (guide §2.4 "two operations keyed the same way can
    # share one exchange"): the a-step joins on src (broadcast score
    # side) and aggregates by dst, the h-step the reverse — with the
    # cache laid out on the aggregation key, the per-half-step groupBy
    # needs NO exchange at all, so each of the 2·iters half-steps is ONE
    # stage over the cache instead of partial-agg → exchange → final-agg
    # (measured @ sf0.1: 86 scheduled stages → ~40, wall 7.0 → ~4 s;
    # task time was never the cost — 0.23 s/core — stage latency was).
    # At 100 TB the same layout is what the partial-agg shuffle can't
    # give: its per-partition combined rows are bounded by |V| PER
    # PARTITION (huge across thousands of map partitions), while the
    # co-partitioned aggregate moves nothing. Upfront cost: two |E|
    # repartitions, paid once, amortized over 2·iters aggregations.
    #
    # r20: size the two partitioned caches from the MEASURED edge count
    # instead of the static spark.sql.shuffle.partitions width (the
    # groupBy stays exchange-free under HashPartitioning(key, k) for ANY
    # k — aggregation only needs a clustered distribution) — at fixture
    # scale each half-step then schedules a few tasks instead of 32-64
    # near-empty ones (profiled: ~1.5-2.3 s of zero-CPU scheduling per
    # half-step stage), and at 100 TB the clamp keeps the configured
    # width. The count is one parquet-metadata-cheap action on the
    # UNCACHED edge frame.
    spark = e.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, min(cap, -(-e.count() // _LOOP_CACHE_ROWS_PER_PART)))

    def _renorm(raw: DataFrame, n_side: int) -> DataFrame:
        total = raw.agg(F.sum("s").alias("_t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node", (F.col("s") * F.lit(float(n_side)) / F.col("_t")).alias("s")
        )

    with ExitStack() as scope:
        e_dst, _ = scope.enter_context(_loop_cache(e.repartition(k, "dst")))
        # r21 memory-trade dial (VERDICT r20 next-round #6): true drops the
        # second partitioned copy — the h-half-step then reads the
        # dst-keyed cache and pays one groupBy(src) exchange per round,
        # halving the loop's cache footprint. Measured A/B + per-cache
        # storage bytes in BENCH_hitsmem.json; default keeps the
        # exchange-free dual layout.
        e_src = e_dst
        if spark.conf.get("spark.graft.graph.hitsSingleCache", "false") != "true":
            e_src, _ = scope.enter_context(_loop_cache(e.repartition(k, "src")))
        # side cardinalities come from the first checkpoint of each side
        # (a count_distinct-pair setup stage was the profiler's single
        # heaviest item: 16.4 s task time for 3.6 MB of input): one row
        # per distinct src / dst by construction, since every dst has
        # indegree >= 1 the first authority half-step covers its side
        n_side: dict[str, int] = {}
        a_raws: list[DataFrame] = []

        def step(h_raw: DataFrame) -> DataFrame:
            # a round's state is the RAW hub aggregate; the renorm stays
            # LAZY over it: a pure projection + one tiny total-aggregate
            # on |V| checkpointed rows, so its two references (next
            # join's broadcast build + final output) re-read the
            # checkpoint instead of re-running the edge aggregate. The
            # opening all-ones hubs enter un-normalized.
            if "hub" in n_side:
                h_frame = _renorm(h_raw, n_side["hub"])
            else:
                n_side["hub"] = h_raw.count()
                h_frame = h_raw
            if a_raws:
                _release(a_raws.pop())
            a_raw = (
                e_dst.join(_bc(h_frame), e_dst["src"] == h_frame["node"])
                .groupBy("dst")
                .agg(F.sum("s").alias("s"))
                .select(F.col("dst").alias("node"), "s")
                .localCheckpoint()
            )
            a_raws.append(a_raw)
            if "auth" not in n_side:
                n_side["auth"] = a_raw.count()
            a_frame = _renorm(a_raw, n_side["auth"])
            return (
                e_src.join(_bc(a_frame), e_src["dst"] == a_frame["node"])
                .groupBy("src")
                .agg(F.sum("s").alias("s"))
                .select(F.col("src").alias("node"), "s")
            )

        # initial hubs ride the src-partitioned cache: distinct on src is
        # exchange-free there, same reuse as the half-steps
        h_raw, _, _ = _iterate(
            e_src.select(F.col("src").alias("node")).distinct().select(
                "node", F.lit(1.0).alias("s")
            ),
            step,
            iters,
        )
        out = _renorm(h_raw, n_side["hub"]).select(
            "node", F.lit("hub").alias("kind"), "s"
        ).union(
            _renorm(a_raws[-1], n_side["auth"]).select(
                "node", F.lit("authority").alias("kind"), "s"
            )
        ).localCheckpoint()
    _release(h_raw)
    _release(a_raws[-1])
    return out


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    stats: dict | None = None,
    distinct_pairs: bool = False,
) -> DataFrame:
    """(node, component) labels of an UNDIRECTED graph via the
    alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014 — a public
    design): component = the minimum node id in the component, the
    labeling iterative min-label propagation also produces.

    Why not min-label (VERDICT r12 what's-missing #2): min-label needs
    rounds proportional to component DIAMETER — a
    100 TB dedup graph with million-node chains of re-delivered
    near-dups would run thousands of rounds. Star contraction halves
    tree heights every alternation, converging in O(log n) rounds on
    ANY topology (measured in BENCH_graph.json: a 16k-node chain takes
    14 star rounds vs the 8k+ min-label would need).

    Each round is two groupBy-min + join passes over the edge set —
    pure relational algebra, no Python in the hot path:

    - large-star: every node hands its LARGER neighbors to its minimum
      neighbor (emit (v, m) for v in N(u), v > u, m = min(N(u) ∪ {u})),
    - small-star: every node and its smaller neighbors attach to the
      minimum smaller neighbor (emit (v, m) for v in N⁻(u) ∪ {u}, v ≠ m).

    Both preserve connectivity; the fixpoint is a star per component
    (every non-root pointing straight at the component min). Rounds run
    on ``_iterate`` so the plan never compounds. Termination (r14,
    VERDICT r13 #6) is detected IN-ROUND by a structural star test
    instead of waiting for a no-op round, and the test is the round's
    one fingerprint aggregate: per node it folds the out-degree and
    whether the node is some edge's target. Out-degree <= 1 everywhere
    and no node both a source and a target means the edge set is a
    disjoint union of stars whose roots are each component's min (all
    edges point strictly big→small), which IS the algorithm's fixpoint —
    applying another alternation provably returns the same set, so the
    (count, xor-hash) repeat test (kept as a backstop) would only burn
    one more full shuffle round to learn nothing; measured round counts
    on the BENCH_graph chain fixtures drop by exactly 1.

    Nodes are those incident to at least one edge; callers with isolated
    nodes attach them as (node, node) afterwards. Self-loops ignored.
    ``distinct_pairs=True`` is the caller's promise that the input holds
    each unordered pair AT MOST ONCE (e.g. a groupBy output or a staged
    src<dst store slice): the opening big→small orientation then skips
    its ``.distinct()`` — measured at sf0.1 the single heaviest stage of
    ``copurchase_components_staged`` (a 2.39M-row distinct shuffle,
    ~0.95 s warm vs ~0.26 s for the bare orientation; r21, guide §2.4
    "a distinct on data that is already unique"). Values are identical
    because star contraction treats the frame as an edge set and the
    promised input already IS one. Default False keeps the general
    contract for arbitrary edge frames.
    ``stats`` (optional dict) receives {"rounds": k, "converged": bool}
    — alternations executed (no trailing no-op round since r14) and
    whether a fixpoint was actually reached. If ``max_rounds`` is
    exhausted without convergence the labels would be silently WRONG
    (ADVICE r13), so the operator raises RuntimeError instead of
    returning them; ``stats`` is still populated for post-mortems.
    """
    # orient big→small once; the loop maintains this invariant
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
    )
    if not distinct_pairs:
        e = e.distinct()

    def step(e: DataFrame) -> DataFrame:
        # -- large-star over the symmetric neighborhood ------------------
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # large-star edges satisfy v < u strictly (m <= center < v)
        # -- small-star over the big→small orientation -------------------
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        attach = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        centers = mins2.select(F.col("u"), F.col("m").alias("v"))
        return attach.union(centers).distinct()

    def fingerprint(e: DataFrame):
        # per node x: o = out-degree, t = 1 if x is some edge's target.
        # The edge set is min-root stars exactly when no node has o > 1
        # or is both a source and a target ("bad"); h xor-folds the edge
        # hashes (order-insensitive, overflow-free under ANSI arithmetic)
        per = (
            e.select(
                F.col("u").alias("x"),
                F.lit(1).alias("o"),
                F.lit(0).alias("t"),
                F.xxhash64("u", "v").alias("h"),
            )
            .union(e.select("v", F.lit(0), F.lit(1), F.lit(0).cast("long")))
            .groupBy("x")
            .agg(F.sum("o").alias("o"), F.max("t").alias("t"), F.bit_xor("h").alias("h"))
        )
        bad = (F.col("o") > 1) | ((F.col("o") == 1) & (F.col("t") == 1))
        return per.agg(
            F.sum("o").alias("n"), F.count_if(bad).alias("bad"), F.bit_xor("h").alias("h")
        ).collect()[0]

    def converged(row, prev) -> bool:
        # the star test stops WITHOUT a proving round; the repeated
        # (count, hash) fingerprint is the backstop for any fixpoint the
        # structural test might not classify
        return row["bad"] == 0 or (
            prev is not None and (row["n"], row["h"]) == (prev["n"], prev["h"])
        )

    e, _, _ = _iterate(
        e,
        step,
        max_rounds,
        fingerprint=fingerprint,
        converged=converged,
        name="connected_components_star",
        stats=stats,
    )
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def hop_distances(
    edges: DataFrame,
    source=None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, hops) BFS distances from ``source`` over a DIRECTED edge
    list, bounded at ``max_hops`` (unreached nodes are absent). Classic
    iterative frontier expansion as joins: each round joins the frontier
    onto out-edges, anti-joins already-visited nodes, and unions into the
    visited set — hop counts are integers, so results are deterministic
    and exactly SQL-reproducible (recursive CTE with a depth bound).

    Scale shape: round k shuffles only FRONTIER x out-edges (the
    expanding wave), never visited x edges — the anti-join keeps the
    probe side at the new wave. Like pagerank, the edge list is the
    loop invariant and is persisted; the visited set is rebuilt per
    round (at 100 TB checkpoint it every few hops to cut lineage).
    """
    proj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # seed schema derives from the edge column's actual type — node ids
    # may be long, int or string depending on the graph
    seed_t = edges.schema[src].dataType.simpleString()
    # NOT keyed (r20 session 5): the keyed-cache layout (see _keyed) was
    # probed here and measured neutral-to-slower (5-sample alternating
    # medians 0.956 vs 0.901 s staged / tie unstaged) — each wave's
    # build side is AQE's per-wave pick (frontier early, edge set late),
    # so the dst-partitioned cache never feeds an exchange-free distinct
    # at fixture scale, and hinting the frontier broadcast to force it
    # was +7-8% (a BFS frontier grows toward |V|). The cache-sizing count
    # also fetches the default source (the minimum src value).
    with _loop_cache(proj, "narrow", aggs=[F.min("src").alias("m")]) as (e, row):
        if source is None:
            source = row["m"]
        waves: list[DataFrame] = []  # the seed and every wave so far

        def step(frontier: DataFrame) -> DataFrame:
            waves.append(frontier)
            visited = reduce(DataFrame.union, waves)
            return (
                frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .select("node", F.lit(len(waves)).alias("hops"))
            )

        # the output reads every wave, so the rounds are kept; an empty
        # wave ends the BFS
        last, _, done = _iterate(
            _seed1(e.sparkSession, source, seed_t, "hops", 0, "int"),
            step,
            max_hops,
            fingerprint=_rows,
            converged=lambda n, prev: n == 0,
            keep=True,
        )
    if done:
        _release(last)  # the empty wave
    else:
        waves.append(last)
    return reduce(DataFrame.union, waves)


def weighted_sssp(
    edges: DataFrame,
    source=None,
    rounds: int = 24,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
) -> DataFrame:
    """(node, dist) single-source shortest-path distances over a DIRECTED
    edge list with non-negative INTEGER costs — synchronous (Jacobi)
    Bellman-Ford relaxation, the min-plus sibling of both
    ``hop_distances`` (swap MIN(hops+1) for MIN(dist+cost)) and
    ``_minlabel_fixpoint`` (swap min-label for min-distance):

        d_{k+1}(v) = min(d_k(v), min over in-edges (u,v) of d_k(u) + c(u,v)).

    Integer costs make every distance an exact bigint, so min-plus is
    fully deterministic and a fixed-round SQL unroll replays the schedule
    exactly (Spark may early-exit at the fixpoint; extra unrolled oracle
    rounds are no-ops either way — the SCC-schedule discipline). Unlike
    BFS, a weighted wave can REVISIT settled nodes through cheaper long
    paths, so there is no frontier anti-join: each round relaxes the full
    reached set (which collapses onto a stable region quickly). The
    fixpoint proof is the (count, sum) pair — reached nodes only get
    added and distances only decrease, so an unchanged pair is an
    unchanged labeling (the _minlabel_fixpoint argument, extended with
    the count because the node set grows). Exhausting ``rounds`` without
    a proven fixpoint RAISES rather than returning too-long distances
    (the scc_fb_minlabel guard).

    Scale shape: each round is one edge-join + min-aggregate over
    reached×out-edges, localCheckpoint-ed; the edge frame is the loop
    invariant and rides the staged bucketed layout at 100 TB. Bellman-
    Ford needs ≤ (longest shortest path in EDGES) rounds — diameter-ish,
    not |V| — and the scheduled bound is picked from measured
    convergence with margin, shared with the oracle."""
    proj = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(cost).alias("cost")
    )
    seed_t = edges.schema[src].dataType.simpleString()
    # the cache-sizing count also fetches the default source
    with _loop_cache(proj, "narrow", aggs=[F.min("src").alias("m")]) as (e, row):
        if source is None:
            source = row["m"]

        def step(d: DataFrame) -> DataFrame:
            relax = d.join(e, d["node"] == e["src"]).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("cost")).alias("dist"),
            )
            return d.unionByName(relax).groupBy("node").agg(F.min("dist").alias("dist"))

        d, _, _ = _iterate(
            _seed1(e.sparkSession, source, seed_t, "dist", 0, "long"),
            step,
            rounds,
            fingerprint=lambda d: d.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
            ).collect()[0],
            name="weighted_sssp",
        )
    return d


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, community) labels after ``iters`` SYNCHRONOUS label-
    propagation rounds (Raghavan et al. 2007, Phys. Rev. E — a public
    design): every node starts as its own label; each round every node
    adopts the label most frequent among its neighbors, ties broken on
    the SMALLEST label — the deterministic variant, so the result is a
    pure integer function of the edge set and both engines replay it
    exactly (classic async LPA visits nodes in random order; that is
    faster to converge but irreproducible, the wrong trade for a
    hash-checked engine; fixed synchronous rounds are the standard
    deterministic fallback, oscillation bounded by the round cap).

    Communities differ from connected components (one label can't flood
    a sparse bridge before denser neighborhoods lock their own) and
    from triangles/PageRank (a partition, not a score) — the missing
    mesoscale view of the graph family.

    ``edges`` should contain BOTH directions of each undirected edge.
    Per round: one equi-join of the edge list onto the |V|-row label
    frame (AQE broadcasts the label side), one (dst, label) partial-agg
    count, one per-node top-1 window keyed on the node — the pagerank
    cost profile plus a window. Rounds are localCheckpoint-ed so plan
    depth stays constant; the edge frame is a persisted loop invariant,
    released before return.
    """
    from pyspark.sql import Window

    if iters < 1:
        raise ValueError(f"label_propagation: iters must be >= 1, got {iters}")
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    # keyed on dst (r20 session 5): the per-round (dst, label) count AND
    # the per-node top-1 window are both clustered on the dst-derived
    # node, so the keyed cache makes each round's TWO exchanges vanish
    # (HashPartitioning(dst) satisfies ClusteredDistribution(dst, label)
    # and ClusteredDistribution(node) alike)
    proj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _loop_cache(proj, "keyed", "dst") as (e, _):
        labels = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )

        def step(labels: DataFrame) -> DataFrame:
            # keyed layout: hint the |V|-row label side broadcast so the
            # KEYED edge cache is the streamed side — the join output then
            # carries HashPartitioning(dst) and both the (node, label)
            # count and the top-1 window run exchange-free (without the
            # hint AQE broadcasts whichever side is smaller; at fixture
            # scale that is often the edge cache itself, which throws the
            # keyed partitioning away)
            counts = (
                e.join(_bc(labels), e["src"] == labels["node"])
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            return (
                counts.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("node", "label")
            )

        labels, _, _ = _iterate(labels, step, iters)
    return labels.select("node", F.col("label").alias("community"))


def coreness(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, core) after ``iters`` synchronous H-INDEX rounds — the
    distributed k-core decomposition of Lü, Zhou, Zhang & Stanley
    ("The H-index of a network node", Nature Communications 2016, a
    public algorithm): every node starts at its degree; each round a
    node's value becomes the h-index of its neighbors' current values
    (the largest h such that at least h neighbors hold value >= h).
    The sequence is monotone non-increasing and its fixpoint is exactly
    the node's CORE NUMBER (the largest k such that the node survives
    k-core peeling), so after convergence this is Matula-Beck coreness
    computed without any sequential peel. Every quantity is an integer
    function of the edge set — both engines replay it exactly, and a
    fixed round count matches the unrolled oracle round-for-round
    whether or not the fixpoint is reached.

    ``edges`` should contain BOTH directions of each undirected edge.
    The h-index of a multiset sorted descending as v_1 >= v_2 >= ... is
    max_r min(r, v_r) — one descending row_number window keyed on the
    node plus a max aggregate, so each round costs: one equi-join of
    the edge list onto the |V|-row value frame (AQE broadcasts the
    value side), one per-node window sort, one partial-agg max. Rounds
    are localCheckpoint-ed so plan depth stays constant; the edge frame
    is a persisted loop invariant, released before return.

    Scale shape (100 TB edge set): identical per-round profile to
    ``label_propagation`` (join + window + agg, all keyed on the node),
    and the window sorts only each node's NEIGHBOR VALUES — the same
    (dst, value) rows the join already shuffled, never the corpus. On
    real graphs h-index iteration converges in O(log n)-ish rounds
    (degeneracy-bounded); a cluster run would iterate to fixpoint with
    a convergence check per round, the fixture pins the fixed-round
    form so the oracle can unroll it.
    """
    from pyspark.sql import Window

    if iters < 1:
        raise ValueError(f"coreness: iters must be >= 1, got {iters}")
    w = Window.partitionBy("node").orderBy(F.desc("c"))
    # keyed on dst (r20 session 5): each round's neighbor-value window
    # and h-index max both cluster on the dst-derived node, so the keyed
    # cache removes the per-round window exchange
    proj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _loop_cache(proj, "keyed", "dst") as (e, _):
        vals = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )

        def step(vals: DataFrame) -> DataFrame:
            # keyed layout: hint the |V|-row value side broadcast so the
            # keyed edge cache is the streamed side and the window +
            # h-index max run exchange-free on HashPartitioning(dst) (see
            # the LPA note)
            nb = e.join(_bc(vals), e["src"] == vals["node"]).select(
                F.col("dst").alias("node"), "c"
            )
            return (
                nb.withColumn("_rn", F.row_number().over(w).cast("long"))
                .groupBy("node")
                .agg(F.max(F.least("_rn", "c")).alias("c"))
            )

        vals, _, _ = _iterate(vals, step, iters)
    return vals.select("node", F.col("c").alias("core"))


def deterministic_walks(
    edges: DataFrame,
    steps: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(walk_id, step, node) rows of one fixed-length graph walk per
    start node — the DeepWalk/node2vec CORPUS-GENERATION sweep
    (Perozzi et al. KDD'14; public design) made reproducible: instead
    of an RNG, step ``i`` of walk ``w`` at node ``u`` moves to the
    neighbor ``v`` minimizing the explicit md5-u32 draw over
    ``'{w}:{i}:{v}'`` (ties on the smallest ``v``). Hashing the
    CANDIDATE, not the chooser, is the standard common-random-numbers
    trick: every engine — and the DuckDB oracle — replays the identical
    walk corpus bit-for-bit, which is what makes a downstream embedding
    train/eval split auditable. Each neighbor is drawn with equal
    probability in expectation over the hash (a uniform random walk),
    and one walk starts from every distinct source node, ``walk_id`` =
    start node.

    Per step: one equi-join of the |V|-row frontier onto the edge list
    (AQE broadcasts the frontier), one per-walk argmin window over the
    candidate rows the join just produced — label_propagation's exact
    cost profile. Steps are localCheckpoint-ed so plan depth stays
    constant; the edge frame is a persisted loop invariant, released
    before return. Scale shape (100 TB edge set): the frontier never
    exceeds one row per walk, candidates never exceed the walk's
    out-neighborhood, and the output is (steps+1) x |walks| rows — the
    whole sweep is linear in walk volume, embarrassingly parallel over
    walk_id, and restartable from any materialized step frontier.

    ``edges`` should contain BOTH directions of each undirected edge
    (every frontier node then has at least one out-edge, so no walk
    ever strands; a stranded dangling node would simply end its walk
    early on a directed graph).
    """
    from pyspark.sql import Window

    from dataengineerchallenge_spark.functions.hashing import spark_u32

    if steps < 1:
        raise ValueError(f"deterministic_walks: steps must be >= 1, got {steps}")
    proj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _loop_cache(proj, "narrow") as (e, _):
        frames: list[DataFrame] = []  # the output reads every step

        def step(cur: DataFrame) -> DataFrame:
            frames.append(cur)
            key = (
                f"concat(cast(walk_id as string), ':{len(frames)}:', "
                f"cast(dst as string))"
            )
            cand = cur.join(e, cur["node"] == e["src"]).select(
                "walk_id", "dst", F.expr(spark_u32(key)).alias("hv")
            )
            w = Window.partitionBy("walk_id").orderBy("hv", "dst")
            return (
                cand.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("walk_id", F.col("dst").alias("node"))
            )

        start = (
            e.select(F.col("src").alias("node"))
            .distinct()
            .select(F.col("node").alias("walk_id"), "node")
        )
        last, _, _ = _iterate(start, step, steps, keep=True)
    frames.append(last)
    return reduce(
        DataFrame.union,
        (f.select("walk_id", F.lit(i).alias("step"), "node") for i, f in enumerate(frames)),
    )


def truss(
    edges: DataFrame,
    k: int = 4,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(src, dst, support) surviving edges after ``iters`` synchronous
    k-TRUSS pruning rounds (Cohen, NSA tech report 2008 — a public
    design): each round computes every edge's SUPPORT (the number of
    triangles it participates in) and deletes edges with support
    < k-2; the fixpoint is the k-truss, the maximal subgraph where
    every edge is reinforced by at least k-2 common neighbors. The
    edge-level analog of ``coreness``: coreness keeps well-connected
    NODES, truss keeps well-REINFORCED ties — the standard denoise
    before community detection (a bridge has support 0 and dies in
    round one regardless of its endpoints' degrees). ``support`` in
    the output is recomputed ON the surviving subgraph, so a converged
    result certifies support >= k-2 everywhere. All integer — both
    engines replay fixed rounds exactly, converged or not.

    Per round, triangle enumeration reuses the degree-ordered
    orientation of ``triangle_counts`` (wedge fanout bounded
    O(sqrt(|E|)) per node on any degree distribution; per-EDGE support
    is orientation-invariant, so the DuckDB oracle uses the simpler
    raw-id orientation and still matches value-for-value): one
    self-join of the oriented edges on the wedge corner, one closing-
    edge equi-join against the canonical edge list, one explode +
    partial-agg count. Rounds run on ``_iterate``; a round's oriented
    edges are persisted within the round and released.

    ``edges`` may carry one or both directions; pairs are
    canonicalized and deduplicated first.
    """
    if k < 3:
        raise ValueError(f"truss: k must be >= 3, got {k}")
    if iters < 1:
        raise ValueError(f"truss: iters must be >= 1, got {iters}")
    # a round's state is the current edge set annotated with its support;
    # the next round keeps the edges with support >= k-2 and re-counts.
    # The opening edge set enters with support k-2 (every edge kept), so
    # iters pruning rounds plus the final re-count are iters+1 rounds.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("support", F.lit(k - 2).cast("long"))
    )
    # a round's oriented edges are persisted (consumed by both wedge legs)
    # and released once the round that read them is checkpointed
    held: list[DataFrame] = []

    def unhold() -> None:
        while held:
            held.pop().unpersist()

    def step(state: DataFrame) -> DataFrame:
        unhold()
        ecur = state.filter(F.col("support") >= k - 2).select("a", "b")
        und = ecur.union(ecur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        ranked = (
            und.join(
                deg.withColumnRenamed("a", "_n").withColumnRenamed("deg", "dega"),
                F.col("a") == F.col("_n"),
            )
            .drop("_n")
            .join(
                deg.withColumnRenamed("a", "_n").withColumnRenamed("deg", "degb"),
                F.col("b") == F.col("_n"),
            )
            .drop("_n")
        )
        oriented = (
            ranked.filter(
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
            )
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        held.append(oriented)
        w = (
            oriented.alias("x")
            .join(
                oriented.alias("y"),
                (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v")),
            )
            .select(F.col("x.u").alias("t"), F.col("x.v").alias("p"), F.col("y.v").alias("q"))
        )
        tri = w.join(
            ecur.alias("z"),
            (F.least("p", "q") == F.col("z.a")) & (F.greatest("p", "q") == F.col("z.b")),
        ).select("t", "p", "q")
        # a triangle reinforces its three sides: explode(array(...)) emits
        # the (a, b) row multiset from one pass over the enumeration (a
        # 3-way UNION re-ran the wedge + closing joins once per branch)
        sides = tri.select(
            F.explode(
                F.array(
                    *(
                        F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))
                        for x, y in (("t", "p"), ("t", "q"), ("p", "q"))
                    )
                )
            ).alias("_side")
        ).select(F.col("_side.a").alias("a"), F.col("_side.b").alias("b"))
        supp = sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("s"))
        return ecur.join(supp, ["a", "b"], "left").select(
            "a", "b", F.coalesce("s", F.lit(0)).cast("long").alias("support")
        )

    try:
        final, _, _ = _iterate(e, step, iters + 1)
    finally:
        unhold()
    return final.select(F.col("a").alias("src"), F.col("b").alias("dst"), "support")


def _minlabel_fixpoint(nodes: DataFrame, e: DataFrame, hops: int) -> DataFrame:
    """Synchronous (Jacobi) min-label propagation to fixpoint, capped at
    ``hops`` rounds: m_k(v) = min(m_{k-1}(v), min over in-edges of
    m_{k-1}(u)), labels initialized to the node id. Pure synchronous
    updates so a fixed SQL unroll replays the schedule exactly; the
    early break fires only at the fixpoint, where extra unrolled oracle
    rounds are no-ops — either way both engines apply at most ``hops``
    updates. Convergence is checked by the label SUM (labels only ever
    decrease, so an unchanged sum is an unchanged labeling) — one tiny
    scalar action per round instead of a change-detection join."""
    def step(m: DataFrame) -> DataFrame:
        prop = e.join(m, e["src"] == m["node"]).select(F.col("dst").alias("node"), "m")
        return m.unionByName(prop).groupBy("node").agg(F.min("m").alias("m"))

    m, _, _ = _iterate(
        nodes.select("node", F.col("node").alias("m")),
        step,
        hops,
        fingerprint=lambda m: m.agg(F.sum("m")).collect()[0][0],
        name="min-label propagation",
    )
    return m


def scc_fb_minlabel(
    edges: DataFrame,
    peels: int = 7,
    hops: int = 18,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge list by
    forward-backward min-label peeling (the FB-trim family: Fleischer,
    Hendrickson & Pınar 2000's divide-and-conquer recast with min-label
    pivots, per the Orzan/Pregel coloring variant): per peel round,

      fwd(v) = min id that REACHES v   (min-label along edges),
      bwd(v) = min id v CAN REACH      (min-label along reversed edges),

    and every node with fwd(v) = bwd(v) = m is in the SCC of pivot m
    (m reaches v and v reaches m, both through min-id m) — those nodes
    are assigned scc_id = m and peeled; surviving SCCs lie wholly in
    the remainder, so the rounds are exact, not approximate. ``peels``
    and ``hops`` are FIXED schedule bounds shared with the SQL oracle
    (every propagation is capped at ``hops`` synchronous rounds); on
    any graph they cover, the result equals Tarjan's SCCs exactly —
    pinned against an in-test Tarjan in tests/test_graph_r17.py. On a
    graph the bounds do NOT cover, the operator RAISES (exhausted peels
    with alive nodes, or a propagation that never proved its fixpoint)
    rather than silently returning a partial or split-SCC labeling.

    Scale shape: each round is frontier-free Jacobi — one edge-join +
    min-aggregate per hop over the ALIVE subgraph, which collapses
    quickly (the bow-tie giant SCC is assigned in peel 1 via the
    global-min pivot; later peels run on the tiny periphery). Rounds
    are localCheckpoint-ed (the lazy-plan-doubling trap), the edge
    frame is the loop invariant, and hop counts at 100 TB would ride
    the same bucketed edge layout as pagerank."""
    proj = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    with _loop_cache(proj) as (e, _):
        alive_n = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        alive_e = e
        assigned: DataFrame | None = None
        for _ in range(peels):
            if alive_n.isEmpty():
                break
            fwd = _minlabel_fixpoint(alive_n, alive_e, hops)
            rev = alive_e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            bwd = _minlabel_fixpoint(alive_n, rev, hops)
            done = (
                fwd.join(bwd.withColumnRenamed("m", "bm"), "node")
                .filter(F.col("m") == F.col("bm"))
                .select("node", F.col("m").alias("scc_id"))
                .localCheckpoint()
            )
            nxt_n = alive_n.join(
                done.select("node"), "node", "left_anti"
            ).localCheckpoint()
            nxt_e = (
                alive_e.join(
                    nxt_n.select(F.col("node").alias("src")), "src", "left_semi"
                )
                .join(nxt_n.select(F.col("node").alias("dst")), "dst", "left_semi")
                .localCheckpoint()
            )
            stale = [fwd, bwd, alive_n, alive_e]
            if assigned is None:
                assigned = done
            else:
                stale += [assigned, done]
                assigned = assigned.union(done).localCheckpoint()
            # this peel's inputs and scratch are released once the next
            # peel's frames are materialized
            for f in stale:
                _release(f)
            alive_n, alive_e = nxt_n, nxt_e
        if not alive_n.isEmpty():
            raise RuntimeError(
                f"scc_fb_minlabel exhausted its peel budget (peels={peels}) "
                f"with unassigned nodes remaining; a partial labeling would "
                f"silently drop nodes — raise the schedule bounds (they are "
                f"shared with the SQL oracle)"
            )
        _release(alive_n)
        _release(alive_e)
    if assigned is None:
        spark = edges.sparkSession
        return spark.createDataFrame([], "node long, scc_id long")
    return assigned
