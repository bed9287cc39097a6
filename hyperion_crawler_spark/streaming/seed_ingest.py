"""Continuous seed/discovery ingestion into the crawl frontier —
Structured Streaming between crawl rounds.

The batch loop (plans/round.py) discovers URLs by expanding fetched
pages; real crawls ALSO receive URLs from outside the loop — sitemap
drops, operator submissions, partner feeds. This stream ingests those
continuously: new seed parquet files land in a directory and each
micro-batch is one call of ``plans.round.admit_seeds``, the admission
function the bootstrap (``init_frontier``) also calls — canonicalize +
first-wins dedup, Bloom probe+update against the crawl's own
``seen_filters`` state, MERGE of the unseen rows into the frontier. So
the stream's URL dedup is exactly-once against the state the crawl
probes, not a second seen set. At cluster scale the file source swaps
for Kafka; nothing else changes.

Exactly-once across BOTH checkpoint systems: Spark's streaming
checkpoint marks a micro-batch done only after ``foreachBatch``
returns, and the LAST thing ``admit_seeds`` does is fold its new table
versions into the engine's round log (``commit_round`` on the current
round index — the same entry ``run_round``'s ``base_versions`` binding
reads, so an interleaved crawl round builds on the ingested frontier
instead of orphaning it). A crash between the merges and the
round-log write replays the batch, and the replay is a no-op by
construction: every candidate is now seen, so ``probe_and_update``
emits zero rows and unchanged filters, and the merges add no rows.

Safe to run CONCURRENTLY with a live crawl: snapshot commits use
the optimistic protocol (sources/tables.py — exclusive manifest
create; a lost race rebases on the new head and retries), so a daemon
micro-batch and a crawl round racing on the frontier both land, and
the seen state is an append-only delta-blob CRDT (state/seen.py) whose
appends commute — neither writer can overwrite the other's Bloom bits.
``tests/test_concurrency.py::test_daemon_concurrent_with_crawl_rounds``
pins the combined behavior against a sequential reference run.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import CrawlConfig
from ..plans.round import admit_seeds

SEED_SCHEMA = "url string, image_id string, priority double"


def _start(spark: SparkSession, cat, cfg: CrawlConfig, seed_dir: str,
           checkpoint_dir: str, **trigger):
    """Start the seed stream under ``trigger`` → ``(query, totals)``.
    Both the availableNow drain and the processingTime daemon run this
    exact micro-batch body, so their exactly-once/replay semantics are
    the same by construction; ``totals`` counts committed batches."""
    totals = {"batches": 0, "new_urls": 0}

    def _batch(df, epoch_id: int) -> None:
        totals["new_urls"] += admit_seeds(spark, cat, cfg, df,
                                          cat.last_round() or 0)
        totals["batches"] += 1

    q = (spark.readStream.schema(SEED_SCHEMA).parquet(seed_dir)
         .writeStream.foreachBatch(_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(**trigger).start())
    return q, totals


def ingest_seed_stream(spark: SparkSession, cat, cfg: CrawlConfig,
                       seed_dir: str, checkpoint_dir: str) -> dict:
    """Drain all currently-available seed files (``availableNow``
    trigger — deterministic for tests; ``start_seed_ingest_daemon``
    for the continuous form) into the frontier. Returns counters."""
    q, totals = _start(spark, cat, cfg, seed_dir, checkpoint_dir,
                       availableNow=True)
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
    batches commit. The micro-batch body is the drain form's — only
    the trigger differs."""
    return _start(spark, cat, cfg, seed_dir, checkpoint_dir,
                  processingTime=processing_time)
