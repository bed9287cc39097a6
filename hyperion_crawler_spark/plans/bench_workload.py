"""The benchmark workload: one full crawl-*scheduling* round over a
synthetic frontier generated JVM-side (zero-Python datagen, so the
measurement is the engine, not the generator).

Pipeline measured (the north_rule metric is URLs-scheduled/sec):
  frontier (n URLs, power-law hot hosts)
  → xxhash64 identity + shard assignment          (codegen)
  → first-wins dedup on urlhash                   (1 shuffle)
  → per-host budget top-k, two-phase salted       (2 window shuffles,
                                                   skew-bounded)
  → count (forces full evaluation)

Kept separate from bench.py so the scaling harness
(scripts/scaling_bench.py) can run the identical workload in fresh
JVMs at different parallelism levels.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

from ..config import CrawlConfig
from ..operators.politeness import topk_per_host
from ..synth import gen_frontier_distributed
from ..plans.round import canonical_url_rows


def run_full_round(spark: SparkSession, n_urls: int, n_hosts: int = 2000,
                   store_dir: str | None = None, cfg: CrawlConfig | None = None) -> dict:
    """One COMPLETE crawl round — scheduling + corpus-join fetch with
    per-row PSNR/caption validation + Bloom probe + all snapshot MERGEs
    — over a synthetic corpus of ``n_urls`` image+caption rows. The
    end-to-end URLs/sec number (scheduling-only throughput is measured
    separately by run_scheduling_round)."""
    import tempfile

    

    from ..plans.loop import run_crawl
    from ..synth import gen_corpus_distributed

    cfg = cfg or CrawlConfig(exact_seen_shadow=False)
    store = store_dir or tempfile.mkdtemp(prefix="hyperion_bench_store_")

    from ..synth import gen_links_distributed

    # inputs fenced eagerly (README "Caching") so datagen cost stays
    # out of the timed round
    corpus = gen_corpus_distributed(spark, n_urls).localCheckpoint()
    # seed HALF the URL space; the link graph points into all of it so
    # the round exercises discovery, batch dedup, and the Bloom probe
    seeds = gen_frontier_distributed(spark, n_urls // 2, n_hosts).select(
        "url", "image_id", "priority").localCheckpoint()
    links = gen_links_distributed(spark, n_urls, n_hosts).localCheckpoint()
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_s double, max_per_round int")

    # bootstrap (seed probe + initial snapshot) is one-time cost — keep
    # it out of the steady-state round timing
    run_crawl(spark, store, cfg, corpus, links, robots, seeds, n_rounds=0)
    t0 = time.perf_counter()
    metrics = run_crawl(spark, store, cfg, corpus, links, robots, seeds, n_rounds=1)
    dt = time.perf_counter() - t0
    m = metrics[-1]
    return {
        "n_input": n_urls,
        "n_scheduled": m["scheduled"],
        "n_fetched": m["fetched"],
        "sec": dt,
        "urls_per_sec": m["scheduled"] / dt,
        "timing": m.get("timing", {}),
    }


def run_scheduling_round(spark: SparkSession, n_urls: int, n_hosts: int = 2000,
                         budget: int = 50, cfg: CrawlConfig | None = None) -> dict:
    cfg = cfg or CrawlConfig()
    frontier = gen_frontier_distributed(spark, n_urls, n_hosts)
    # materialize input first so datagen cost stays out of the timing
    frontier = frontier.localCheckpoint()
    n_input = frontier.count()

    t0 = time.perf_counter()
    cand = canonical_url_rows(
        frontier, "url", "image_id", "priority", cfg, [F.col("image_id")],
    )
    scheduled = topk_per_host(cand.withColumn("budget", F.lit(budget).cast("long")), cfg)
    n_scheduled = scheduled.count()
    dt = time.perf_counter() - t0
    return {
        "n_input": n_input,
        "n_scheduled": n_scheduled,
        "sec": dt,
        "urls_per_sec": n_input / dt,
    }
