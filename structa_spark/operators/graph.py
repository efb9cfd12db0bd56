"""Graph operators over edge relations (the crawl/link-graph side of
corpus curation).

The reference engine has no graph surface (structa profiles document
structure only); this module exists for the curation pipeline — host
authority from the crawl's link graph is the classic reputation
signal next to :func:`~.text.host_reputation`'s content-derived one
(Page et al. 1999; Common Crawl publishes exactly this ranking for
its host graph).

Everything here is deterministic and oracle-replayable: iteration
counts are fixed by the caller, per-iteration sums are rounded
column-side (SQL ``round``, half away from zero — identical in Spark
and DuckDB), and no randomness or wall-clock enters the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, damping: float = 0.85,
             iters: int = 3, src: str = "src", dst: str = "dst",
             round_to: int = 9) -> DataFrame:
    """PageRank over a directed edge relation, ``iters`` fixed
    power-iterations with uniform init, dangling-mass redistribution
    and per-iteration rounding:

    ``r'(v) = round((1-d)/N + d * (sum_{u->v} r(u)/outdeg(u)
    + dangling_mass/N), round_to)``

    Parallel edges collapse (DISTINCT) and self-loops drop before
    iterating — the web-graph convention. Returns ``(v, rank)`` for
    every node on either side of an edge.

    The per-iteration ``round`` makes the fixpoint path replayable
    bit-for-bit by an external SQL oracle: division and the damping
    mix are order-independent IEEE ops, and rounding the one
    order-dependent term (the contribution sum) to ``round_to``
    decimals absorbs summation-order ulps before they can compound
    across iterations.

    Scale shape: the plan never touches the driver — N and the
    dangling mass are 1-row broadcast relations, not collects — and
    each iteration is ONE join + ONE aggregation over a static
    augmented edge relation (contribution rows carrying the
    out-degree, zero-weight self rows standing in for the node set,
    dangling sentinel rows feeding the redistribution term): shuffles
    bounded by the node/edge relation, never the corpus that derived
    it. The round's aggregated output (its only twice-read relation)
    localCheckpoints lazily, keeping plan size and executed work
    linear in ``iters``.
    """
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col(src) != F.col(dst))
         .distinct()
         # the edge relation is read by EVERY iteration (contribution
         # join) and everything below derives from it — without this
         # barrier each iteration re-runs the upstream corpus scan
         # that derived the edges, turning 3 iterations into 7+ full
         # scans. The checkpointed relation is graph-sized, not
         # corpus-sized.
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("s").alias("v"))
             .union(e.select(F.col("t").alias("v")))
             .distinct()
             .localCheckpoint(eager=False))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    n_rel = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))

    # One static augmented edge relation makes each iteration a
    # SINGLE join + aggregation (the connected_components round
    # discipline): contribution rows carry the out-degree so the
    # per-edge term is rank/d exactly as before; zero-weight SELF
    # rows guarantee every node owns a group (so the join back onto
    # the node set is gone — their 0.0 terms are IEEE-exact no-ops
    # inside the positive contribution sums); DANGLING sentinel rows
    # (null group) route the dangling nodes' ranks into the same
    # aggregation, so the dangling mass is a 1-row filter of its
    # output instead of a second anti-join pass over the rank vector.
    node_t = dict(e.dtypes)["t"]
    aug = (e.join(deg, "s")
           .select(F.col("s").alias("j"), F.col("t").alias("g"),
                   F.col("d").cast("double").alias("d"))
           .unionByName(nodes.select(
               F.col("v").alias("j"), F.col("v").alias("g"),
               F.lit(None).cast("double").alias("d")))
           .unionByName(nodes.join(deg, nodes["v"] == deg["s"],
                                   "left_anti")
                        .select(F.col("v").alias("j"),
                                F.lit(None).cast(node_t).alias("g"),
                                F.lit(0.0).alias("d")))
           .localCheckpoint(eager=False))
    term = (F.when(F.col("d").isNull(), F.lit(0.0))          # self
            .when(F.col("d") == 0.0, F.col("rank"))          # dangling
            .otherwise(F.col("rank") / F.col("d")))          # contrib

    r = (nodes.join(F.broadcast(n_rel))
         .select("v", (F.lit(1.0) / F.col("__n")).alias("rank")))
    for _ in range(iters):
        # the previous rank vector is read ONCE per iteration (this
        # join); the aggregated round output is what two consumers
        # read (dangling row + new ranks), so IT carries the lazy
        # per-round pin that keeps plan size and executed work linear
        # in `iters` (optimization guide §3.3: materialise
        # intermediates to truncate very large plans).
        agg = (aug.join(r, aug["j"] == r["v"])
               .groupBy("g")
               .agg(F.sum(term).alias("__c"))
               .localCheckpoint(eager=False))
        dang = (agg.where(F.col("g").isNull())
                .agg(F.coalesce(F.sum("__c"), F.lit(0.0))
                     .alias("__dm")))
        r = (agg.where(F.col("g").isNotNull())
             .join(F.broadcast(n_rel))
             .join(F.broadcast(dang))
             .select(F.col("g").alias("v"), F.round(
                 F.lit(1.0 - damping) / F.col("__n")
                 + F.lit(damping)
                 * (F.col("__c") + F.col("__dm") / F.col("__n")),
                 round_to).alias("rank")))
    return r


def hits(edges: DataFrame, iters: int = 3, src: str = "src",
         dst: str = "dst", round_to: int = 9) -> DataFrame:
    """HITS hubs and authorities (Kleinberg 1999, the mutual-
    reinforcement counterpart to :func:`pagerank`): ``iters`` fixed
    iterations of

    ``a'(v) = round(sum_{u->v} h(u) / sum_all, round_to)``
    ``h'(v) = round(sum_{v->w} a'(w) / sum_all, round_to)``

    with all-ones hub init and L1 normalization (each vector divides
    by its own sum — the rational-friendly norm; L2 would put an
    irrational sqrt between the engine and any SQL replay). The hub
    update reads the CURRENT iteration's authorities, the classic
    update order. Parallel edges collapse (DISTINCT) and self-loops
    drop before iterating, the :func:`pagerank` convention. Returns
    ``(v, authority, hub)`` for every node on either side of an edge.

    Why beside pagerank: HITS separates "points at good content"
    (hub) from "is pointed at" (authority) — a link-farm aggregator
    scores as a hub but never as an authority, where pagerank folds
    both into one number. For host curation the authority column is
    the anti-spam signal; the hub column finds index/portal hosts
    whose OWN pages are usually boilerplate.

    Replay discipline: the one order-dependent term per update (the
    contribution sum) is divided by the L1 total and rounded to
    ``round_to`` decimals before the next update reads it, so
    summation-order ulps die per half-iteration instead of
    compounding — identical to pagerank's per-iteration round.

    Scale shape: the edge relation localCheckpoints once (graph-
    sized, not corpus-sized) and each half-iteration is ONE join +
    ONE aggregation over a static augmented edge relation (weight-1
    contribution rows, weight-0 self rows standing in for the node
    set), with the L1 total folding back as a 1-row broadcast — the
    plan never touches the driver. The half-iteration's aggregated
    output (its only twice-read relation) localCheckpoints lazily.
    """
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
         .where(F.col(src) != F.col(dst))
         .distinct()
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("s").alias("v"))
             .union(e.select(F.col("t").alias("v")))
             .distinct()
             .localCheckpoint(eager=False))

    # Two static augmented edge relations (one per update direction)
    # make each half-iteration a SINGLE join + aggregation, the
    # :func:`pagerank` / connected_components round discipline:
    # weight-1 contribution rows reproduce sum(hub) / sum(authority)
    # term-for-term (x * 1.0 is IEEE-exact), and weight-0 SELF rows
    # guarantee every node owns a group — their 0.0 terms are exact
    # no-ops inside the sums, and the join back onto the node set
    # (which previously re-executed the un-pinned contribution
    # aggregation a second time for the L1 total) is gone.
    self_rows = nodes.select(F.col("v").alias("j"),
                             F.col("v").alias("g"),
                             F.lit(0.0).alias("w"))
    aug_a = (e.select(F.col("s").alias("j"), F.col("t").alias("g"),
                      F.lit(1.0).alias("w"))
             .unionByName(self_rows)
             .localCheckpoint(eager=False))
    aug_h = (e.select(F.col("t").alias("j"), F.col("s").alias("g"),
                      F.lit(1.0).alias("w"))
             .unionByName(self_rows)
             .localCheckpoint(eager=False))

    h = nodes.select("v", F.lit(1.0).alias("hub"))
    a = nodes.select("v", F.lit(0.0).alias("authority"))
    for _ in range(iters):
        # each half-iteration's aggregated output is read twice (L1
        # total + normalized vector), so IT carries the lazy pin that
        # keeps plan size and executed work linear in `iters`
        # (guide §3.3); the input vector itself is read ONCE.
        a_agg = (aug_a.join(h, aug_a["j"] == h["v"])
                 .groupBy("g")
                 .agg(F.sum(F.col("hub") * F.col("w")).alias("__a"))
                 .localCheckpoint(eager=False))
        a_sum = a_agg.agg(F.sum("__a").alias("__as"))
        a = (a_agg.join(F.broadcast(a_sum))
             .select(F.col("g").alias("v"), F.round(
                 F.col("__a") / F.col("__as"),
                 round_to).alias("authority")))
        h_agg = (aug_h.join(a, aug_h["j"] == a["v"])
                 .groupBy("g")
                 .agg(F.sum(F.col("authority") * F.col("w"))
                      .alias("__h"))
                 .localCheckpoint(eager=False))
        h_sum = h_agg.agg(F.sum("__h").alias("__hs"))
        h = (h_agg.join(F.broadcast(h_sum))
             .select(F.col("g").alias("v"), F.round(
                 F.col("__h") / F.col("__hs"), round_to).alias("hub")))
    return a.join(h, "v").select("v", "authority", "hub")
