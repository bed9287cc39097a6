"""Seen-state write-bytes evidence: append-only sparse delta blobs vs
full-blob replacement (the r5 CRDT redesign of ``state/seen.py``).

Simulates R crawl rounds of URL arrivals over an n-shard Bloom seen
set at the 100 TB design density (~10^4-10^5 new URLs per round per
this sandbox's scaled-down shard count) and measures, per round, the
bytes the snapshot commit actually adds for:

* ``delta``  — what the engine now writes: one sparse blob per touched
  shard holding ONLY that round's fresh bits (parquet-compressed).
* ``replace`` — what the old read-modify-write scheme wrote: the full
  cumulative blob per touched shard.

Also times a ``fold_filters`` maintenance pass after all rounds and
verifies membership survives it. Appends a section to
BENCH/BASELINE.md — run AFTER scaling_bench.py (which rewrites it).

    python scripts/seen_bench.py --rounds 8 --urls-per-round 50000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hyperion_crawler_spark.config import CrawlConfig, get_spark  # noqa: E402
from hyperion_crawler_spark.sources.tables import Catalog  # noqa: E402
from hyperion_crawler_spark.state.seen import (  # noqa: E402
    _fold_kernel,
    fold_filters,
    probe_and_update,
)


def _live_paths(table) -> set[str]:
    return {f["path"] for f in table._live_files()}


def _written_bytes(table, before: set[str]) -> int:
    """Bytes of files the last commit WROTE (new live files) — the
    write-volume metric; live-size growth would hide a rewrite."""
    return sum(os.path.getsize(os.path.join(table.dir, p))
               for p in _live_paths(table) - before)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--urls-per-round", type=int, default=50_000)
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--bloom-bits", type=int, default=1 << 24)
    args = ap.parse_args()

    spark = get_spark(app="seen-bench")
    cfg = CrawlConfig(n_shards=args.shards, bloom_bits_per_shard=args.bloom_bits)

    root = tempfile.mkdtemp(prefix="seen_bench_")
    delta_t = Catalog(os.path.join(root, "delta"), writer="crawl") \
        .table("seen_filters", "shard")
    replace_t = Catalog(os.path.join(root, "replace"), writer="crawl") \
        .table("seen_filters", "shard")

    per_round = []
    for r in range(args.rounds):
        lo = r * args.urls_per_round
        cand = (spark.range(lo, lo + args.urls_per_round)
                .select(F.xxhash64(F.col("id").cast("string")).alias("urlhash"))
                .select(F.pmod(F.col("urlhash"), F.lit(args.shards))
                        .cast("int").alias("shard"),
                        "urlhash",
                        F.concat(F.lit("http://h/"), F.col("urlhash")).alias("url"),
                        F.lit("h").alias("host"),
                        F.lit("img").alias("image_id"),
                        F.lit(0.5).alias("priority")))
        state = delta_t.read(spark)
        if state is None:
            state = spark.createDataFrame(
                [], "shard int, filter_bytes binary, n_items long")
        _, filters = probe_and_update(cand, state, cfg)

        b0 = _live_paths(delta_t)
        t0 = time.perf_counter()
        delta_t.append(filters)
        dt_delta = time.perf_counter() - t0
        delta_bytes = _written_bytes(delta_t, b0)

        # the replacement scheme's write: the full cumulative blob per
        # touched shard (fold of everything so far = exactly the row
        # the old kernel emitted), replacing those shards' rows
        touched = sorted(r["shard"] for r in filters.select("shard")
                         .distinct().collect())
        full = (delta_t.read(spark)
                .filter(F.col("shard").isin(touched))
                .groupBy("shard")
                .applyInPandas(
                    _fold_kernel,
                    "shard int, filter_bytes binary, n_items long"))
        b1 = _live_paths(replace_t)
        t1 = time.perf_counter()
        replace_t.overwrite_partitions(spark, full, touched)
        dt_repl = time.perf_counter() - t1
        repl_bytes = _written_bytes(replace_t, b1)
        per_round.append({"round": r + 1,
                          "delta_bytes": delta_bytes, "delta_sec": round(dt_delta, 2),
                          "replace_bytes": repl_bytes, "replace_sec": round(dt_repl, 2)})

    d_tot = sum(p["delta_bytes"] for p in per_round)
    r_tot = sum(p["replace_bytes"] for p in per_round)
    t0 = time.perf_counter()
    fold_filters(spark, delta_t)
    fold_sec = time.perf_counter() - t0
    # membership check: every inserted URL must still probe seen
    all_cand = (spark.range(0, args.rounds * args.urls_per_round)
                .select(F.xxhash64(F.col("id").cast("string")).alias("urlhash"))
                .select(F.pmod(F.col("urlhash"), F.lit(args.shards))
                        .cast("int").alias("shard"), "urlhash",
                        F.lit("u").alias("url"), F.lit("h").alias("host"),
                        F.lit("i").alias("image_id"), F.lit(0.5).alias("priority")))
    unseen, _ = probe_and_update(all_cand, delta_t.read(spark), cfg)
    leaked = unseen.count()

    report = {
        "rounds": args.rounds, "urls_per_round": args.urls_per_round,
        "shards": args.shards, "bloom_bits_per_shard": args.bloom_bits,
        "delta_total_bytes": d_tot, "replace_total_bytes": r_tot,
        "bytes_ratio": round(r_tot / max(d_tot, 1), 1),
        "fold_sec": round(fold_sec, 2),
        "post_fold_false_negatives": leaked,
        "per_round": per_round,
    }
    print(json.dumps(report))
    assert leaked == 0, "fold dropped seen bits"

    md = f"""

## Seen-state write bytes — sparse delta appends vs full-blob replace

{args.rounds} rounds × {args.urls_per_round:,} new URLs over
{args.shards} shards of 2^{args.bloom_bits.bit_length() - 1}-bit Bloom
filters (the 10^10-URL design point's per-shard size). Bytes are what
each round's snapshot commit adds to the seen table.

| scheme | total bytes ({args.rounds} rounds) | per round (last) |
|---|---|---|
| full-blob replacement (pre-r5) | {r_tot:,} | {per_round[-1]['replace_bytes']:,} |
| sparse delta append (r5) | {d_tot:,} | {per_round[-1]['delta_bytes']:,} |

**{report['bytes_ratio']}× less write volume**, and the replacement
row was last-writer-wins under daemon+crawl concurrency while delta
appends commute (no lost bloom bits — `tests/test_seen.py`). The
delta row is O(new URLs) after parquet compression; the full blob is
O(filter size) regardless of batch. `fold_filters` OR-compacted
{args.rounds} deltas/shard back to one row in {report['fold_sec']} s
with zero membership loss (asserted).

Reproduce: `python scripts/seen_bench.py --rounds {args.rounds} \\
  --urls-per-round {args.urls_per_round}`
"""
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "BASELINE.md"), "a") as f:
        f.write(md)
    spark.stop()


if __name__ == "__main__":
    main()
