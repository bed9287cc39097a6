"""Continuous seed/discovery ingestion into the crawl frontier —
Structured Streaming between crawl rounds.

The batch loop (plans/round.py) discovers URLs by expanding fetched
pages; real crawls ALSO receive URLs from outside the loop — sitemap
drops, operator submissions, partner feeds. This stream ingests those
continuously: new seed parquet files land in a directory →
``foreachBatch`` canonicalizes + hashes + first-wins-dedups the batch,
probes/updates the sharded Bloom seen-set, and MERGEs the unseen rows
into the frontier — the identical operators the bootstrap uses
(init_frontier), lifted onto a stream. At cluster scale the file
source swaps for Kafka; nothing else changes.

Exactly-once across BOTH checkpoint systems: Spark's streaming
checkpoint marks a micro-batch done only after ``foreachBatch``
returns, and the LAST thing the batch does is fold its new table
versions into the engine's round log (``commit_round`` on the current
round index — the same entry ``run_round``'s ``base_versions`` binding
reads, so an interleaved crawl round builds on the ingested frontier
instead of orphaning it). A crash between the merges and the
round-log write replays the batch, and the replay is a no-op by
construction: every candidate is now seen, so ``probe_and_update``
emits zero rows and unchanged filters, and the merges add no rows.

Safe to run CONCURRENTLY with a live crawl (r5): snapshot commits use
the optimistic protocol (sources/tables.py — exclusive manifest
create; a lost race rebases on the new head and retries), so a daemon
micro-batch and a crawl round racing on the frontier both land, and
the seen state is an append-only delta-blob CRDT (state/seen.py) whose
appends commute — neither writer can overwrite the other's Bloom bits.
``tests/test_concurrency.py::test_daemon_concurrent_with_crawl_rounds``
pins the combined behavior against a sequential reference run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig

SEED_SCHEMA = "url string, image_id string, priority double"


def _make_batch(spark: SparkSession, cat, cfg: CrawlConfig):
    """Build the shared foreachBatch body → ``(totals, batch_fn)``.
    Both the availableNow drain and the processingTime daemon run this
    exact function, so their exactly-once/replay semantics are the
    same by construction."""
    from ..plans.round import FRONTIER_COLS, _frontier_table, canonical_url_rows
    from ..state.seen import count_new, probe_and_update

    frontier_t = _frontier_table(cat)
    seen_t = cat.table("seen_filters", "shard")
    seen_exact_t = cat.table("seen_exact", "shard")
    totals = {"batches": 0, "new_urls": 0}

    def _batch(df: DataFrame, epoch_id: int) -> None:
        round_idx = cat.last_round() or 0
        base = cat.base_versions()
        cand = canonical_url_rows(
            df, "url", "image_id", "priority", cfg, [F.col("image_id")])
        current = seen_t.read(spark, version=base.get("seen_filters"))
        unseen, filters = probe_and_update(cand, current, cfg)
        rows = (unseen.withColumn("status", F.lit("queued"))
                .withColumn("retry_count", F.lit(0))
                .withColumn("next_fetch_ts", F.lit(0).cast("long"))
                .withColumn("discovered_round", F.lit(round_idx))
                .select(*FRONTIER_COLS))
        # only the tables THIS batch touches: commit_round(fold=True)
        # merges them into the round entry under the round lock, so a
        # concurrently-checkpointing crawl's versions of OTHER tables
        # are never clobbered (carrying a stale full copy of the
        # entry was the old lost-update shape)
        versions = {}
        versions["frontier"] = frontier_t.merge(
            spark, rows, ["urlhash"], base_version=base.get("frontier"))
        versions["seen_filters"] = seen_t.append(
            filters, base_version=base.get("seen_filters", 0))
        if cfg.exact_seen_shadow:
            versions["seen_exact"] = seen_exact_t.append(
                unseen.select("urlhash", "shard"),
                base_version=base.get("seen_exact", 0))
        # the probe's filter rows carry the fresh-URL count; the probe
        # fences its own output, so this is a scan of that fence
        totals["new_urls"] += count_new(filters)
        totals["batches"] += 1
        # durability point: fold into the round log LAST — Spark
        # marks the micro-batch done only after this returns
        cat.commit_round(round_idx, versions, fold=True)

    return totals, _batch


def ingest_seed_stream(spark: SparkSession, cat, cfg: CrawlConfig,
                       seed_dir: str, checkpoint_dir: str) -> dict:
    """Drain all currently-available seed files (``availableNow``
    trigger — deterministic for tests; ``start_seed_ingest_daemon``
    for the continuous form) into the frontier. Returns counters."""
    totals, batch = _make_batch(spark, cat, cfg)
    stream = spark.readStream.schema(SEED_SCHEMA).parquet(seed_dir)
    q = (stream.writeStream.foreachBatch(batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return totals


def start_seed_ingest_daemon(spark: SparkSession, cat, cfg: CrawlConfig,
                             seed_dir: str, checkpoint_dir: str,
                             processing_time: str = "1 seconds"):
    """Continuous form of ``ingest_seed_stream``: a ``processingTime``
    trigger polls ``seed_dir`` forever, merging each new drop into the
    frontier as it lands (the long-running sidecar a live crawl runs
    next to its round loop). Returns ``(query, totals)`` — the caller
    owns the StreamingQuery (``query.stop()`` for a clean shutdown;
    in-flight batches finish their round-log fold first, so stop points
    are always exactly-once consistent) and ``totals`` updates live as
    batches commit. The micro-batch body is byte-identical to the
    drain form — only the trigger differs."""
    totals, batch = _make_batch(spark, cat, cfg)
    stream = spark.readStream.schema(SEED_SCHEMA).parquet(seed_dir)
    q = (stream.writeStream.foreachBatch(batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(processingTime=processing_time).start())
    return q, totals
