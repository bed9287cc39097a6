"""Link-graph operators — PageRank priority re-scoring for the frontier.

A crawl scheduler's ``priority`` column is an input in the reference
(the task parameter dict — /root/reference/api/src/routers/etl.py:
161-219); at web scale the engine must also be able to DERIVE priority
from the discovered link graph. ``pagerank`` is the standard batch
form: per-iteration contribution join + hash aggregate — two narrow
shuffles per iteration (join on src, groupBy dst), no driver-side
iteration state beyond the loop counter.

Determinism/portability: float sums are order-dependent, so each
iteration's rank is snapped to ``digits`` decimals with the portable
``floor(x·10^d + 0.5)/10^d`` form on BOTH the Spark and the SQL-oracle
side — iteration inputs are then exact decimals and the residual
sum-order error (~1e-17) sits far below the rounding grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pround(col, digits: int):
    s = float(10 ** digits)
    return F.floor(col * s + F.lit(0.5)) / s


def pagerank(links: DataFrame, iters: int = 2, damping: float = 0.85,
             src: str = "src_url", dst: str = "dst_url",
             digits: int = 9) -> DataFrame:
    """Simplified batch PageRank over an edge list (dangling mass
    dropped — the common simplified form). Returns ``(url, rank)``.

    Node set = every url appearing as src or dst; uniform init 1/N;
    rank_{t+1}(u) = (1-d)/N + d · Σ_{v→u} rank_t(v)/outdeg(v).

    Plan shape per iteration: edges ⨝ ranks (shuffle on src) →
    groupBy dst (one shuffle, map-side combinable) → left join back to
    the node set. N is a driver scalar (one count job at entry). At
    10^10 edges each iteration is two hash-partitioned shuffles of
    (url, double) pairs — no fanout beyond the edge list itself.

    The node set is a local checkpoint, not a cache: its blocks are
    released when the returned plan that references them is garbage-
    collected, so a long-running driver loop that calls this every few
    rounds needs no release step to keep executor storage flat.
    """
    # checkpointed (eager — the count below is the first action; see
    # operators/dedup.py on checkpoint fences): the ranks plan
    # references `nodes` twice per iteration (contribution join + left
    # join back) plus the init, and would otherwise recompute the
    # distinct-union each time.
    nodes = (links.select(F.col(src).alias("url"))
             .unionByName(links.select(F.col(dst).alias("url")))
             .distinct()).localCheckpoint()
    n = nodes.count()
    if n == 0:  # empty graph (e.g. a rescore before anything is fetched)
        return links.sparkSession.createDataFrame([], "url string, rank double")
    deg = links.groupBy(src).agg(F.count("*").alias("deg"))
    edges = links.select(src, dst).join(deg, src)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contrib = (edges.join(ranks.withColumnRenamed("url", src), src)
                   .select(F.col(dst).alias("url"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        summed = contrib.groupBy("url").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "url", "left").select(
            "url",
            _pround(F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    digits).alias("rank"))
    return ranks


def rescore_frontier_priority(frontier: DataFrame, links: DataFrame,
                              iters: int = 2, weight: float = 0.5) -> DataFrame:
    """Blend the frontier's existing priority with link-graph PageRank:
    ``priority' = (1-w)·priority + w·rank/max(rank)`` — the re-scoring
    pass a long-running crawl runs between rounds so heavily-linked
    pages climb the queue. Unknown URLs keep their priority."""
    # eager checkpoint, read back by the max() job: without it the full
    # PageRank DAG would execute twice (once for mx, once when the
    # caller materializes the blended frontier)
    pr = pagerank(links, iters=iters).localCheckpoint()
    mx = pr.agg(F.max("rank")).first()[0] or 1.0
    pr_n = pr.select("url", (F.col("rank") / F.lit(mx)).alias("_pr"))
    return (frontier.join(pr_n, "url", "left")
            .withColumn("priority",
                        F.when(F.col("_pr").isNotNull(),
                               (1.0 - weight) * F.col("priority") + weight * F.col("_pr"))
                        .otherwise(F.col("priority")))
            .drop("_pr"))


def rescore_frontier_delta(frontier: DataFrame, links: DataFrame,
                           iters: int = 2, weight: float = 0.5) -> DataFrame:
    """Changed-rows-only rescore: same blend as
    ``rescore_frontier_priority`` but returns ONLY the frontier rows
    whose priority the blend actually moves — the graph-adjacent slice.

    This is the commit-path variant: unknown URLs keep their priority
    (``graph.py`` blend semantics), so rewriting them is pure write
    amplification. A 10^10-row pending queue with a 10^6-node known
    link graph must commit ~10^6 changed rows through the
    merge-on-read frontier ``merge()`` (O(graph) delta bytes, folded
    at the next compaction), never an ``overwrite()`` of the whole
    queue. Reference analog: the per-row ``ON CONFLICT`` upsert writes
    only conflicting rows (/root/reference/api/src/etl/base/
    loader.py:144-186).

    Plan shape: INNER join frontier ⨝ ranks on url (one shuffle of
    each side; rank side is O(known graph)) → filter
    ``blended != priority`` drops no-op rows so an already-converged
    rescore commits an empty delta (merge() carries files unchanged).
    """
    pr = pagerank(links, iters=iters).localCheckpoint()   # as above
    mx = pr.agg(F.max("rank")).first()[0] or 1.0
    pr_n = pr.select("url", (F.col("rank") / F.lit(mx)).alias("_pr"))
    blended = (1.0 - weight) * F.col("priority") + weight * F.col("_pr")
    return (frontier.join(pr_n, "url", "inner")
            .withColumn("_newp", blended)
            .filter(F.col("_newp") != F.col("priority"))
            .withColumn("priority", F.col("_newp"))
            .drop("_pr", "_newp"))
