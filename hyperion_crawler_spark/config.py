"""Engine configuration + SparkSession factory.

Constants mirror the reference's operational envelope (BASELINE.md):
retry/backoff from the GCP workflow retry blocks
(/root/reference/workflows/krx_etl_workflow.yaml:43-47 — max 3 retries,
initial delay 5, multiplier 2) and app config
(/root/reference/api/src/config/etl_config.yaml:140-143,153-155;
/root/reference/api/src/core/config.py:34-35). Politeness budget mirrors
the 60 req/min rate limit (/root/reference/api/.env.example:27).

Everything is deterministic: round ids are integers, no wall clock
(reference task ids embed wall clock — extractor.py:51-57 — we replace
them with round indices so parity runs are reproducible).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass(frozen=True)
class CrawlConfig:
    """Tunables for the crawl engine. Defaults sized for local[32] tests;
    at cluster scale raise n_shards proportionally
    (design point: 10^10 URLs → n_shards ~ 2^14, bloom_bits_per_shard
    sized for ~10^6 keys/shard at fpr 1e-3 ≈ 14.4 bits/key ≈ 1.8 MB/shard,
    well inside one Arrow batch)."""

    n_shards: int = 32                 # seen-filter shards = pmod(urlhash, n_shards)
    bloom_bits_per_shard: int = 1 << 20  # 128 KiB/shard at test scale
    bloom_k: int = 7                   # hash functions (≈ ln2 * bits/keys)
    max_retries: int = 3               # workflow yaml:43-47
    backoff_initial: int = 5           # rounds (reference: seconds)
    backoff_multiplier: int = 2
    default_host_budget: int = 60      # per-host per-round cap (60 req/min analog)
    salt_buckets: int = 8              # hot-host salting fan-out
    exact_seen_shadow: bool = True     # keep exact urlhash set alongside Bloom
                                       # (parity oracle is exact; Bloom is the
                                       # scale path — SURVEY §7 Phase 2)
    rescore_every: int = 0             # every N rounds, re-score frontier
                                       # priority with link-graph PageRank
                                       # (0 = off; rescore is committed inside
                                       # the round checkpoint, so resume stays
                                       # bit-identical)
    rescore_weight: float = 0.5        # blend: (1-w)·priority + w·pagerank
    image_neardup_dist: int = 0        # >0: per-round pHash near-dup pass —
                                       # this round's fetched images pair
                                       # against each other AND a crawl-wide
                                       # (phash → first image_id) MoR index
                                       # within Hamming distance N (Manku
                                       # blocks, dedup.hamming_join); pairs
                                       # land in the `image_neardups` table
                                       # and the index merges inside the
                                       # round checkpoint (0 = off)
    fold_seen_every: int = 16          # every N rounds, OR-compact the
                                       # append-only seen_filters deltas to
                                       # one blob per shard (0 = off, CLI GC
                                       # still folds). Bounds the probe's
                                       # read cost: between folds a probe
                                       # reads ≤ N delta rows per shard.
                                       # Committed inside the round
                                       # checkpoint — resume stays exact
    # crawler-trap guards (0 = disabled; defaults off so crawl-order
    # parity with the trap-unaware reference run is preserved unless
    # opted in). Tripped URLs leave the frontier as status='excluded'
    # through the same archive path robots exclusions use.
    max_url_depth: int = 0             # path segments per URL
    max_query_params: int = 0          # &-separated query params
    max_segment_repeat: int = 0        # same path segment repeated N× (loop signal)


def bloom_params(expected_keys_per_shard: int, target_fpr: float = 1e-3) -> tuple[int, int]:
    """Size a shard's Bloom filter: returns (m_bits rounded up to a
    power of two, k hash functions).

    m = -n·ln(p)/ln(2)², rounded up to a power of two; k = (m/n)·ln(2)
    for the rounded m. Design point 10^10 URLs over 2^14 shards →
    n ≈ 6.1e5/shard: the formula gives m ≈ 8.8e6 bits, rounded up to
    2^24 (2 MiB/shard, fits one Arrow batch comfortably), and k = 19.
    The rounding doubles m, so the FPR is ≈ 2e-6, not the 1e-3 target.
    Total seen-state ≈ 32 GiB across the cluster — vs ~80 GiB+ for exact
    64-bit keys with no false-positive bound on growth."""
    import math

    n = max(expected_keys_per_shard, 1)
    m = -n * math.log(target_fpr) / (math.log(2) ** 2)
    m_bits = 1 << max(int(math.ceil(math.log2(m))), 10)
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, k


_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 48g: a 48g heap on a
    smaller host lets the JVM grow until the kernel OOM-kills it."""
    mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(mb // 2, 48 << 10)}m"


def get_spark(
    app: str = "hyperion_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build the engine session. AQE on (runtime re-plan + skew join),
    Arrow on (every Python kernel is a vectorized Arrow UDF)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions if shuffle_partitions is not None else int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep runtime coalescing, but don't let it swallow parallelism:
        # the default 1 MB minPartitionSize collapses this engine's
        # narrow (well-compressed) shuffles to a handful of partitions —
        # measured 172k → 869k URLs-scheduled/sec at local[32] on the
        # 2M-URL scheduling round with a 16k floor. At cluster scale
        # real partitions dwarf 16k, so genuinely tiny shuffles still
        # coalesce; only the over-coalescing of small-but-parallel
        # stages is prevented.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (static, default 100 entries): one crawl
        # round generates more than 100 classes, so a smaller cache
        # evicts them and every round compiles them again
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers fork from the engine's daemon: it stops every
        # task from re-reading pyspark.zip (worker_daemon.py). The
        # daemon starts before any task ships files, so the engine's
        # own root goes on the workers' path.
        .config("spark.python.daemon.module", "hyperion_crawler_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
