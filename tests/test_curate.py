"""End-to-end curation pipeline (scripts/run_curate.py): stage counts
shrink monotonically, planted duplicates/contamination are removed,
PII is scrubbed from the output, and the whole chain is deterministic
across partitionings."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from run_curate import curate  # noqa: E402


CONTAM = "contamination marker alpha beta gamma delta epsilon zeta"


def _fixture(spark):
    # shared run is only 7 tokens -> no 8-gram ever matches the
    # benchmark; contamination is planted ONLY in docs 102/103
    base = [(i, f"src{i % 3}",
             f"doc {i} body filler one two three four five "
             f"unique{i} six seven eight nine ten")
            for i in range(60)]
    rows = list(base)
    rows.append((100, "src0", base[0][2]))            # exact dup of doc 0
    # near-dup of doc 1: one APPENDED token keeps 14/16 shingles shared
    # (jaccard 0.875 — solidly above the 0.5 verify threshold and the
    # ~0.71 LSH s-curve midpoint, so the banding finds it with the
    # fixed minhash seeds)
    rows.append((101, "src1", base[1][2] + " trailing"))
    rows.append((102, "src2", f"page mentioning {CONTAM} and more text"))
    rows.append((103, "src0", f"another page with {CONTAM} inside it"))
    rows.append((104, "src1",
                 "clean page reach leak@example.com for details with "
                 "plenty of other unrelated words here"))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_curate_end_to_end(spark, tmp_path):
    docs = _fixture(spark)
    bench = spark.createDataFrame([(f"report about {CONTAM} here",)],
                                  "text string")
    out = str(tmp_path / "cur")
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    stats = curate(spark, docs, out, window=256, benchmark=bench)
    assert cm.numCachedEntries() == before, "curate leaked cache entries"

    assert stats["exact_dedup"] == stats["input"] - 1          # doc 100
    assert stats["near_dedup"] <= stats["exact_dedup"] - 1     # doc 101
    # exactly the two planted docs share an 8-gram with the benchmark
    assert stats["decontaminate"] == stats["near_dedup"] - 2
    assert stats["packs"] >= 1
    assert 0 < stats["pack_fill_frac"] <= 1.0

    cur = spark.read.parquet(os.path.join(out, "documents.parquet"))
    texts = [r["text"] for r in cur.collect()]
    assert not any("leak@example.com" in t for t in texts), "PII survived"
    assert cur.filter(F.col("n_tok") <= 0).count() == 0

    packs = spark.read.parquet(os.path.join(out, "packs.parquet"))
    packed = sorted(d for r in packs.collect() for d in r["doc_ids"])
    kept = sorted(str(r["doc_id"]) for r in cur.collect())
    assert packed == kept, "packs must cover exactly the curated docs"


def test_curate_deterministic(spark, tmp_path):
    docs = _fixture(spark)
    s1 = curate(spark, docs, str(tmp_path / "a"), window=256)
    s2 = curate(spark, docs.repartition(13), str(tmp_path / "b"), window=256)
    s1.pop("timings"), s2.pop("timings")       # wall clock, not semantics
    assert s1 == s2
    a = {r["doc_id"] for r in
         spark.read.parquet(str(tmp_path / "a" / "documents.parquet")).collect()}
    b = {r["doc_id"] for r in
         spark.read.parquet(str(tmp_path / "b" / "documents.parquet")).collect()}
    assert a == b


def test_curate_bpe_token_accounting(spark, tmp_path):
    """--bpe-merges switches packing to subword counts: the merge
    table is persisted, n_tok equals functions/bpe's count for the
    persisted merges, packs fill by it, and the whole chain stays
    deterministic across partitionings."""
    from hyperion_crawler_spark.functions import bpe as B

    docs = _fixture(spark)
    out = str(tmp_path / "bpe")
    stats = curate(spark, docs, out, window=256, bpe_merges=12)
    assert stats["bpe_merges"] == 12
    assert "bpe_train" in stats["timings"]

    merges_rows = sorted(
        (r["step"], r["left"], r["right"]) for r in
        spark.read.parquet(os.path.join(out, "bpe_merges.parquet")).collect())
    merges = [(a, b) for _s, a, b in merges_rows]
    cur = spark.read.parquet(os.path.join(out, "documents.parquet"))
    chk = cur.withColumn(
        "_n2", B.bpe_token_count(F.col("text"), merges))
    assert chk.filter(F.col("n_tok") != F.col("_n2")).count() == 0
    # subword counts exceed whitespace counts (chars start unmerged)
    from hyperion_crawler_spark.functions.text import token_count
    assert chk.filter(F.col("n_tok") <
                      token_count(F.col("text"))).count() == 0

    s2 = curate(spark, docs.repartition(7), str(tmp_path / "bpe2"),
                window=256, bpe_merges=12)
    for s in (stats, s2):
        s.pop("timings")
    assert stats == s2


def test_curate_semantic_dedup_stage(spark, tmp_path):
    """--embeddings adds the SemDeDup stage on the distributed IVFADC
    path: docs whose embeddings are near-identical (cos ≈ 1) collapse
    to the min-id representative even when their TEXTS share nothing
    (lexical dedup can't see them); unrelated docs survive."""
    import numpy as np

    docs = _fixture(spark)
    rng = np.random.default_rng(3)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    vecs = {i: rng.normal(size=16).tolist() for i in ids}
    vecs[7] = [x * 1.001 for x in vecs[5]]     # semantic twin of doc 5
    vecs[9] = [x * 0.999 for x in vecs[5]]     # and a third copy
    embs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "doc_id long, embedding array<float>")

    out = str(tmp_path / "sem")
    stats = curate(spark, docs, out, window=256, alpha=1.0,
                   embeddings=embs, semantic_threshold=0.999)
    assert stats["semantic_dedup"] == stats["near_dedup"] - 2   # 7 and 9
    kept = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "documents.parquet")).collect()}
    assert 5 in kept and 7 not in kept and 9 not in kept
    assert 8 in kept                              # unrelated doc untouched

    # deterministic across partitionings, stats identical
    s2 = curate(spark, docs.repartition(11), str(tmp_path / "sem2"),
                window=256, alpha=1.0, embeddings=embs.repartition(5),
                semantic_threshold=0.999)
    for s in (stats, s2):
        s.pop("timings")
    assert stats == s2
