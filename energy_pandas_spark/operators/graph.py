"""Connected components over an edge DataFrame — the transitive-closure
pass that turns near-dup PAIRS (minhash/simhash/embedding LSH output)
into dedup CLUSTERS, and a general entity-resolution primitive.

Algorithm: iterative min-label propagation WITH pointer jumping. Each
round every node takes the minimum label among itself and its
neighbors (one join + one hash-aggregate, both keyed on node id), then
follows its label one step (label-of-label join) — the classic
path-compression trick, so label information travels a doubling
distance per round and convergence is O(log diameter) instead of
O(diameter): a 10,000-node chain converges in ~14 rounds, tiny
near-dup cliques still in 2-3. Each round's result is lazily
``localCheckpoint``-ed (an optimizer leaf, so the plan stays bounded
per round — without it analysis time explodes) and materialized by
the round's own convergence aggregate. Convergence is
detected from ``sum(label)``: labels only ever decrease, so an
unchanged sum means a fixpoint — one cheap aggregate per round instead
of a change-count join. Exhausting ``max_iter`` without a fixpoint
raises instead of silently returning partially-merged components.

The reference library has no graph surface at all (SURVEY.md §2.5: no
joins beyond index alignment) — this exists for the training-data
dedup pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from energy_pandas_spark.util import owned_caches

__all__ = [
    "connected_components",
    "connected_components_star",
    "dedup_clusters",
    "pagerank",
]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every node in ``edges``; ``component`` is the
    smallest node id reachable from ``id``. Nodes are whatever appears
    in either endpoint column (longs)."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    # checkpoint, NOT persist (measured r7 both ways at sf0.1): a
    # persisted sym does keep its 32-partition hash layout visible to
    # EnsureRequirements, but cached plans are EXEMPT from AQE
    # coalescing, so every round then ran full-width tiny tasks and
    # graph_components regressed 1.8s -> 2.6s — the same trade
    # pagerank measured. The checkpoint's UnknownPartitioning costs a
    # per-round exchange of the edge table, but AQE right-sizes it,
    # which wins at every scale tried. Lazy: the init aggregate below
    # is the first consumer and drives materialization.
    sym = sym.distinct().repartition("u").localCheckpoint(eager=False)
    # init = one propagation step for free: the same groupBy that
    # discovers the node set also takes the 1-hop min, replacing a
    # distinct shuffle + a full join round with a single aggregate.
    # Lazy checkpoint: the prev_sum aggregate right below reads every
    # partition and materializes the blocks in the same job.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("u"), F.col("__mv")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    # decimal(38,0): raw long sums of content-addressed 64-bit ids
    # overflow and CRASH under Spark 4's default ANSI mode (the same
    # guard _sig applies in the star variant)
    lsum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(lsum).collect()[0][0]
    for it in range(max_iter):
        nbr = labels.join(sym, labels["id"] == sym["u"]).select(
            F.col("v").alias("id"), F.col("label")
        )
        merged = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow the label one step (labels are node ids,
        # so label-of-label always resolves). This halves remaining path
        # length every round — O(log diameter) total rounds.
        hop = merged.select(
            F.col("id").alias("__lid"), F.col("label").alias("__llabel")
        )
        # rounds stay localCheckpoint, NOT persist: labels feeds the
        # next round's plan FOUR times (nbr, union, hop, join), so an
        # un-truncated logical plan grows 4^rounds — persist bounds
        # optimization but not analysis of the raw tree (measured: OOM
        # in treeString at ~14 rounds). The checkpoint flattens the
        # plan to a scan each round; the node-table exchange it costs
        # per round is the price of bounded analysis. LAZY checkpoint
        # (r7): eager=True spent one job storing the blocks and a
        # SECOND job reading them back for the convergence sum — the
        # plan is a LogicalRDD leaf either way, and the sum aggregate
        # touches every partition, so letting it drive materialization
        # halves the jobs per round (2.7s -> 1.9s at sf0.1).
        labels = (
            merged.join(hop, merged["label"] == F.col("__lid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("__llabel", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(lsum).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed ~ log2 of the longest path)"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster_id, is_survivor). The cluster
    id is the smallest doc id in the transitive closure; exactly one
    survivor per cluster. Unlike greedy pair-dropping (drop every
    ``id_b``), this is correct on chains: pairs (2,3),(1,3) form ONE
    cluster {1,2,3} with survivor 1, where the greedy rule would keep
    both 1 and 2."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_survivor"),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    2014) — the scale path for graphs with HUGE components: unlike
    label propagation, each round REWRITES the edge set toward stars,
    so the working set shrinks as components collapse, and per-round
    work is two keyed aggregates + joins (no neighbor lists are ever
    collected, so a billion-degree star center costs an aggregate, not
    a task-local array).

    large-star: every node's strictly-larger neighbors re-attach to
    the minimum of its closed neighborhood; small-star: every node's
    smaller-or-equal neighbors (plus itself) attach to that minimum.
    Both emit edges (x, m) with m < x, so edges stay canonical and
    labels only fall. Fixpoint = unchanged (count, hash-sum) of the
    edge set over a full L+S cycle.

    Returns (id, component) identical to :func:`connected_components`
    (smallest reachable id), verified by equivalence tests.
    """
    # canonical (hi, lo) edges, self-loops dropped
    e = (
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .distinct()
        .persist()
    )
    # eager checkpoint while the canonical edges are still cached: the
    # node set is consumed once, at the very end, after `e` has been
    # reassigned and its initial cache released
    all_nodes = (
        e.select(F.col("hi").alias("id"))
        .union(e.select(F.col("lo").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: ANSI long sum overflows on random
            # 64-bit hash values
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _sig(e)
    for _ in range(max_iter):
        # large-star over the symmetric view: m(u) = min(N(u) ∪ {u});
        # every neighbor v > u re-attaches to m(u)
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m_u = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_u, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star over (hi -> lo) direction: m(hi) = min of smaller
        # neighbors; all of them plus hi itself attach to m
        m_hi = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(m_hi, "hi")
        # same 4x-per-round plan-nesting class as the label rounds:
        # keep the checkpoint, it flattens the plan; lazy so the
        # round's _sig aggregate (which reads every partition) drives
        # materialization instead of paying a separate storage job
        small = (
            joined.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(m_hi.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        prev_e = e
        e = small
        cur = _sig(e)
        prev_e.unpersist()  # releases the persisted canonical edges
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds"
        )
    # final stars: every non-center points at its component min
    labels = e.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("component"))
    return all_nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


# ---------------------------------------------------------------------------
# PageRank (integer arithmetic — cross-engine bit-exact)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 10,
    alpha_num: int = 17,
    alpha_den: int = 20,
    scale: int = 1 << 40,
    seeds: DataFrame | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """PageRank over a directed edge DataFrame in PURE INTEGER
    arithmetic: ranks are longs scaled by ``scale`` (default 2^40) and
    the damping factor is the rational ``alpha_num/alpha_den`` (default
    17/20 = 0.85), so every operation on the path is an integer
    multiply / floor-divide / sum — all order-independent, which makes
    the result bit-identical across engines, partitionings, and
    re-runs (a float PageRank is NOT: float sums reorder under
    shuffle). A SQL engine can replay the exact iteration, so the
    operator is oracle-checkable, and a fixed ``n_iter`` replaces the
    usual convergence collect.

    Per iteration (the Spark shape, one shuffle per round):

    - contribution of edge (u, v): ``r(u) * w(u,v) div W(u)`` where
      ``W(u)`` is u's out-weight (out-degree when unweighted) —
      computed by a co-partitioned join of ranks with the
      degree-annotated edge list (both hash-partitioned on ``u`` once,
      up front, and pinned by an eager ``localCheckpoint``),
    - ``s(v) = sum(contributions)`` — the round's ONE exchange (keyed
      on ``v``),
    - ``r'(v) = ((alpha_den - alpha_num) * (scale div N)
      + alpha_num * s(v)) div alpha_den`` — a map-side projection over
      the node table left-joined with ``s`` (nodes with no in-links
      keep the teleport term).

    Rank mass that reaches a dangling node (out-degree 0) is dropped
    rather than redistributed — redistribution would add a global
    1-row aggregate + broadcast per round; callers that need strict
    mass conservation can add a self-loop per dangling node. On a
    symmetric edge set (e.g. TextRank's co-occurrence graph) every
    node has out-degree >= 1 and the question never arises.

    Node ids may be any equi-joinable type (longs, strings). Returns
    ``(id, rank_q)`` with ``rank_q`` the integer rank (true rank is
    ``rank_q / scale``); sum(rank_q) <= scale by construction.

    ``seeds`` (a 1-column DataFrame of node ids) switches to
    PERSONALIZED PageRank: teleport mass goes only to the seed set
    (``scale div |S ∩ nodes|`` each, both at init and in the per-round
    teleport term), so ranks measure proximity to the seeds — the
    standard related-node / trust-propagation primitive. Seed ids not
    present in the graph are ignored; an empty intersection raises.
    """
    w_expr = (
        F.col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    )
    with owned_caches() as own:
        # edge projection cached FLAT: outw, ew and the node set all read
        # it, so the (possibly expensive) upstream edge build runs once,
        # not once per consumer; released when the block exits, once both
        # eager checkpoints and the node count have consumed it
        e = own(edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), w_expr.alias("__w")
        ))
        outw = e.groupBy("u").agg(F.sum("__w").alias("__ow"))
        # degree-annotated edges, repartitioned on u and eagerly
        # checkpointed. An r7 experiment replaced these checkpoints with
        # persist() to keep hashpartitioning across rounds (a checkpoint
        # reports UnknownPartitioning under AQE): the round joins STILL
        # re-exchanged — EnsureRequirements only reuses a cached layout
        # when its partition count matches the other side's exchange — and
        # cached plans are exempt from AQE coalescing, so every round ran
        # at full shuffle.partitions width (measured 4.5s -> 6.2s at
        # sf0.1). The checkpoint + AQE-coalesced per-round exchanges of
        # the node-sized tables are the better trade at every scale tried.
        ew = (
            e.join(outw, "u")
            .repartition("u")
            .localCheckpoint(eager=True)
        )
        nodes = (
            e.select("u")
            .union(e.select(F.col("v").alias("u")))
            .distinct()
            .repartition("u")
        )
        if seeds is not None:
            scol = seeds.columns[0]
            sd = seeds.select(F.col(scol).alias("u")).distinct()
            # seed sets are query-sized; broadcast the membership flag so
            # the node table never re-shuffles for it
            nodes = nodes.join(
                F.broadcast(sd.withColumn("__in", F.lit(True))), "u", "left"
            ).select("u", F.coalesce("__in", F.lit(False)).alias("__seed"))
        else:
            nodes = nodes.select("u", F.lit(True).alias("__seed"))
        nodes = nodes.localCheckpoint(eager=True)
        n = nodes.filter("__seed").count()
    if n == 0:
        if seeds is not None:
            raise ValueError("no seed id appears in the edge set")
        return nodes.select(
            F.col("u").alias("id"), F.lit(0).cast("long").alias("rank_q")
        )
    base = (alpha_den - alpha_num) * (scale // n)
    init = F.when(F.col("__seed"), F.lit(scale // n)).otherwise(F.lit(0))
    ranks = nodes.select("u", init.cast("long").alias("r"))
    for i in range(n_iter):
        contrib = ranks.join(ew, "u").select(
            F.col("v"), F.expr("(r * __w) div __ow").alias("__c")
        )
        sums = contrib.groupBy("v").agg(F.sum("__c").alias("__s"))
        ranks = nodes.join(sums, nodes["u"] == sums["v"], "left").select(
            nodes["u"],
            F.expr(
                f"((case when __seed then {base}L else 0L end)"
                f" + {alpha_num}L * coalesce(__s, 0L)) div {alpha_den}L"
            ).alias("r"),
        )
        # rounds are LINEAR lineage growth (ranks appears once per
        # round), so compiling several rounds into one Catalyst plan
        # beats an action per round (~25% at sf0.1: fewer job
        # round-trips); checkpoint periodically so analysis time and
        # DAG depth stay bounded at high n_iter. Stays EAGER (measured
        # r7 both ways, best-of-5 back to back: lazy regressed
        # textrank 2.67s -> 3.36s — the lazy checkpoint freezes the
        # mid-run plan via toRdd before any runtime stats exist, so
        # the later rounds' exchanges lose AQE right-sizing; the
        # mid-run job barrier is cheaper than that).
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("u").alias("id"), F.col("r").alias("rank_q"))
