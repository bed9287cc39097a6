"""End-to-end training-data curation pipeline — one spark-submit entry
that chains the engine's LLM-data operators over a documents table:

    exact dedup → MinHash near-dup clustering (keep one per cluster)
    → benchmark decontamination (optional) → quality filter
    → PII redaction → temperature-weighted domain mixing
    → sequence packing into fixed token windows

    spark-submit --py-files hcs.zip scripts/run_curate.py \
        --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/curated --window 1024

Prints ONE JSON line with per-stage surviving-row counts and writes
``<out>/documents.parquet`` (curated, PII-redacted text + token counts)
and ``<out>/packs.parquet`` (pack_id → doc_ids token windows).

Every stage is deterministic (hash-keyed sampling, struct-max
tie-breaks, bucketed FFD), so the same inputs produce byte-identical
curated sets on any partitioning — pinned by tests/test_curate.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def curate(spark: SparkSession, docs: DataFrame, out_dir: str,
           window: int = 1024, benchmark: DataFrame | None = None,
           min_quality: float = 0.0, alpha: float = 0.5,
           target_fraction: float = 1.0, n_buckets: int = 0,
           bpe_merges: int = 0, embeddings: DataFrame | None = None,
           semantic_threshold: float = 0.97) -> dict:
    """Run the curation chain; returns the per-stage stats dict
    (counts + per-stage wall seconds under ``"timings"`` — each stage
    materializes at its count, so the delta around it is that stage's
    cost; bench.py tracks these round-over-round). A stage output that
    later stages re-read is fenced with an eager local checkpoint
    (README "Caching"), so the chain leaves nothing cached behind.

    ``bpe_merges`` > 0 switches token accounting from whitespace
    counts to REAL subword counts: a BPE tokenizer is trained on the
    post-mix corpus (functions/bpe.bpe_train) and the packing windows
    fill by BPE token length — the unit a training-data budget is
    actually denominated in. The merge table is written to
    ``<out>/bpe_merges.parquet`` so downstream consumers tokenize
    identically.

    ``embeddings`` (doc_id, embedding) adds a SEMANTIC dedup stage
    (Abbas et al. '23 SemDeDup) after the lexical one: documents whose
    embedding cosine ≥ ``semantic_threshold`` cluster together and the
    min-id representative survives. Runs on the fully distributed
    IVFADC self-pair path (similarity.ivfpq_self_pairs) — the query
    set is the corpus itself and never touches the driver, so the
    stage holds at 10^10 rows."""
    import time as _time

    from hyperion_crawler_spark.functions.text import (
        quality_score, redact_pii, token_count)
    from hyperion_crawler_spark.functions import bpe as B
    from hyperion_crawler_spark.operators import dedup as DD
    from hyperion_crawler_spark.operators.packing import pack_sequences
    from hyperion_crawler_spark.operators.relational import spread
    from hyperion_crawler_spark.operators.selection import temperature_mix

    timings: dict = {}
    t0 = _time.perf_counter()

    def _lap(stage: str) -> None:
        nonlocal t0
        t1 = _time.perf_counter()
        timings[stage] = round(t1 - t0, 3)
        t0 = t1

    # a single-file input arrives as one scan task, and every per-row-
    # expensive stage (shingle hashing, signatures, PII regexes) would
    # run on one core; every stage below is pinned partitioning-
    # independent by test_curate.
    docs = spread(docs)
    stats: dict = {"input": docs.count()}
    _lap("input")

    # 1. exact dedup (first-wins on content hash)
    cur = DD.exact_dedup(docs, "doc_id", "text")
    stats["exact_dedup"] = cur.count()
    _lap("exact_dedup")

    # 2. near-dup: LSH pairs → connected components → keep one per
    # cluster (representative = min doc_id, the operator contract)
    pairs = DD.minhash_lsh_pairs(cur, "doc_id", "text")
    labels = DD.dup_clusters(pairs)
    cur = DD.keep_cluster_representatives(cur, "doc_id", labels)
    cur = cur.localCheckpoint()
    stats["near_dedup"] = cur.count()
    _lap("near_dedup")

    # 2b. semantic dedup over embeddings (SemDeDup)
    if embeddings is not None:
        from hyperion_crawler_spark.operators import similarity as SIM

        embs = embeddings.join(cur.select("doc_id"), "doc_id", "left_semi") \
            .select(F.col("doc_id").alias("vec_id"), "embedding")
        probe = embs.select("embedding").head()
        if probe is None:
            # no embedding covers a surviving doc — the stage is a
            # no-op, not a crash (review r6)
            stats["semantic_dedup"] = stats.get("near_dedup")
            _lap("semantic_dedup")
        else:
            dim = len(probe["embedding"])
            # PQ blocks must divide the embedding dimension; derive
            # from the data instead of crashing on e.g. dim=100
            mb = next(m for m in (8, 4, 2, 1) if dim % m == 0)
            spairs = SIM.ivfpq_self_pairs(
                embs, dim=dim, threshold=semantic_threshold, k=5,
                n_centroids=16, n_probe=4, m_blocks=mb)
            slabels = DD.dup_clusters(spairs)
            cur = DD.keep_cluster_representatives(cur, "doc_id", slabels)
            cur = cur.localCheckpoint()
            stats["semantic_dedup"] = cur.count()
            _lap("semantic_dedup")

    # 3. benchmark decontamination (8-gram overlap rule)
    if benchmark is not None:
        cur = DD.decontaminate(cur, benchmark, "doc_id", "text", n=8)
        cur = cur.localCheckpoint()
        stats["decontaminate"] = cur.count()
        _lap("decontaminate")

    # 4. heuristic quality floor
    if min_quality > 0.0:
        cur = cur.filter(quality_score(F.col("text")) >= min_quality)
        stats["quality"] = cur.count()
        _lap("quality")

    # 5. PII scrub (text rewritten in place)
    cur = cur.withColumn("text", redact_pii(F.col("text")))

    # exact_dedup projects down to (doc_id, text, content_sha) — the
    # mixing stage needs the domain column back
    cur = cur.select("doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id")

    # 6. temperature-weighted domain mixing
    if target_fraction < 1.0 or alpha != 1.0:
        cur = temperature_mix(cur, "source", "doc_id", alpha=alpha,
                              target_fraction=target_fraction)
    if bpe_merges > 0:
        merges = B.bpe_train(cur, "text", n_merges=bpe_merges)
        stats["bpe_merges"] = len(merges)
        B.merges_df(spark, merges).write.mode("overwrite").parquet(
            os.path.join(out_dir, "bpe_merges.parquet"))
        n_tok = B.bpe_token_count(F.col("text"), merges)
        _lap("bpe_train")
    else:
        n_tok = token_count(F.col("text"))
    cur = cur.withColumn("n_tok", n_tok).localCheckpoint()
    stats["mixed"] = cur.count()
    _lap("mix_tokenize")

    # 7. pack into fixed token windows. Bucket count scales with the
    # corpus: each FFD bucket leaves at most one under-filled tail bin,
    # so buckets must stay ≪ total_tokens/window or tail waste
    # dominates (measured fill 0.18 at 64 buckets on a 222-doc corpus
    # vs >0.9 when scaled); ~8 windows of work per bucket keeps tail
    # waste ≤ ~1/8 while still fanning out wide corpora.
    if not n_buckets:
        total_tok = cur.agg(F.sum("n_tok")).first()[0] or 0
        n_buckets = max(1, min(4096, int(total_tok // (window * 8))))
    stats["pack_buckets"] = n_buckets
    packs = pack_sequences(cur, "doc_id", "n_tok", window,
                           n_buckets=n_buckets)
    packs = packs.localCheckpoint()
    stats["packs"] = packs.count()
    stats["pack_fill_frac"] = round(
        packs.agg(F.sum("fill")).first()[0] / (window * stats["packs"]), 4)
    _lap("pack")

    cur.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    packs.write.mode("overwrite").parquet(os.path.join(out_dir, "packs.parquet"))
    _lap("write")
    stats["timings"] = timings
    return stats


def main() -> None:
    from hyperion_crawler_spark.config import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet (doc_id, source, text)")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--benchmark", help="optional benchmark parquet (text) to decontaminate against")
    ap.add_argument("--window", type=int, default=1024)
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--alpha", type=float, default=0.5)
    ap.add_argument("--target-frac", type=float, default=1.0)
    ap.add_argument("--bpe-merges", type=int, default=0,
                    help="train a BPE tokenizer with this many merges and "
                         "pack by subword token counts (0 = whitespace)")
    ap.add_argument("--embeddings",
                    help="optional embeddings parquet (vec_id, embedding) "
                         "keyed by doc_id — enables the SemDeDup semantic "
                         "dedup stage on the distributed IVFADC path")
    ap.add_argument("--semantic-threshold", type=float, default=0.97)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(app="hyperion-curate", master=args.master)
    docs = spark.read.parquet(args.docs).select("doc_id", "source", "text")
    bench = spark.read.parquet(args.benchmark).select("text") \
        if args.benchmark else None
    embs = (spark.read.parquet(args.embeddings)
            .select(F.col("vec_id").alias("doc_id"), "embedding")
            if args.embeddings else None)
    stats = curate(spark, docs, args.out, window=args.window,
                   benchmark=bench, min_quality=args.min_quality,
                   alpha=args.alpha, target_fraction=args.target_frac,
                   bpe_merges=args.bpe_merges, embeddings=embs,
                   semantic_threshold=args.semantic_threshold)
    print(json.dumps({"event": "curate", "out": args.out, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
