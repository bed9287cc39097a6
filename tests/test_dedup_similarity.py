"""Dedup suite + similarity search semantics: planted duplicates are
found, LSH recall vs brute force is measured, hashes are portable."""

import numpy as np
from pyspark.sql import functions as F

from hyperion_crawler_spark.operators import dedup as DD
from hyperion_crawler_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


def _docs(spark, n=100):
    return spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("doc_id") < n) \
        .select("doc_id", "text")


def _with_variants(d):
    v = d.select((F.col("doc_id") + 100000).alias("doc_id"),
                 F.expr("substring(text, instr(text, ' ') + 1)").alias("text"))
    return d.unionByName(v)


def test_exact_dedup_finds_planted_dups(spark):
    d = _docs(spark, 50)
    dups = d.withColumn("doc_id", F.col("doc_id") + 1000)
    out = DD.exact_dedup(d.unionByName(dups), "doc_id", "text")
    assert out.count() == 50
    # first-wins: the lower doc_id survives
    assert out.agg(F.max("doc_id")).first()[0] < 1000


def test_portable_hash60_matches_python(spark):
    import hashlib

    rows = spark.createDataFrame([("abc",), ("", ), ("word salad",)], "s string") \
        .select("s", DD.portable_hash60(F.col("s")).alias("h")).collect()
    for r in rows:
        want = int(hashlib.sha256(r["s"].encode()).hexdigest()[:15], 16)
        assert r["h"] == want


def test_ngram_jaccard_planted_pairs(spark):
    d = _with_variants(_docs(spark, 50))
    pairs = DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).collect()
    found = {(r["id1"], r["id2"]) for r in pairs}
    # every doc must pair with its drop-first-token variant
    planted = {(i, i + 100000) for i in range(50)}
    assert planted <= found
    for r in pairs:
        assert 0.5 <= r["jaccard"] <= 1.0


def test_minhash_lsh_recall_vs_exact(spark):
    d = _with_variants(_docs(spark, 60))
    exact = {(r["id1"], r["id2"])
             for r in DD.ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).collect()}
    lsh = {(r["id1"], r["id2"])
           for r in DD.minhash_lsh_pairs(d, "doc_id", "text", 0.5).collect()}
    assert lsh <= exact, "LSH pairs are verified exactly — no false positives"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low for ~0.95-jaccard planted dups"


def test_simhash_near_for_variants_far_for_random(spark):
    d = _with_variants(_docs(spark, 40))
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash_df(d, "doc_id", "text").collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [ham(sh[i], sh[i + 100000]) for i in range(40)]
    assert np.mean(near) <= 6, "drop-one-token variant must be simhash-near"


def test_brute_force_topk_self_consistency(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    out = SIM.brute_force_topk(q, e, k=3).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        cs = [r["cos"] for r in rows]
        assert cs == sorted(cs, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cs)


def test_lsh_ann_recall_at_k(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = SIM.brute_force_topk(q, e, k=5).collect()
    ann = SIM.lsh_bucket_topk(q, e, dim=64, k=5, n_planes=4, n_tables=8).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["q_id"], set()).add(r["n_id"])
    an = {}
    for r in ann:
        an.setdefault(r["q_id"], set()).add(r["n_id"])
    recalls = [len(ex[qid] & an.get(qid, set())) / len(ex[qid]) for qid in ex]
    # random gaussian-ish vectors bucket diffusely; 4 planes / 16 buckets
    # on 300 vectors should still recover a fair share of true neighbors
    assert np.mean(recalls) >= 0.5, f"ANN recall@5 {np.mean(recalls):.2f} degenerate"


def test_embedding_near_dup_planted(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 50) \
        .select("vec_id", "embedding")
    pert = e.select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("embedding"))
    pairs = SIM.embedding_near_dup_pairs(e.unionByName(pert), threshold=0.9)
    found = {(r["id1"], r["id2"]) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(50)}
    # +0.01/dim barely moves direction (cos ~1) but can flip a sign bit
    # when a vector lies near a hyperplane — single-table LSH recall is
    # p = Π(1 - θ_i/π) < 1 by construction; most pairs must survive
    recall = len(planted & found) / len(planted)
    assert recall >= 0.6, f"near-dup LSH recall {recall}"
    for r in pairs.collect():
        assert r["cos"] >= 0.9


def _topk_map(df):
    return {(r["q_id"], r["rank"]): (r["n_id"], r["cos"]) for r in df.collect()}


def test_exact_kernel_topk_bit_identical_to_fold(spark):
    """brute_force_topk's dim-known form (the numpy _exact_scored_rows
    kernel) must be BIT identical to its HOF fold form — same
    left-associated reduction, only the physical evaluation differs
    (the q20 optimization)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 100 == 0)
    fold = _topk_map(SIM.brute_force_topk(q, e, k=5))
    kernel = _topk_map(SIM.brute_force_topk(q, e, k=5, dim=64))
    assert fold == kernel        # exact equality, including tie-breaks


def test_exact_kernel_topk_keeps_string_ids(spark):
    """Non-numeric ids keep their type through the kernel: on string
    vec_ids the dim-known form equals the fold form exactly, including
    the lexicographic n_id tie order, and both output string ids."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding")
    q = e.filter(F.col("vec_id").endswith("00"))
    fold_df = SIM.brute_force_topk(q, e, k=5)
    kernel_df = SIM.brute_force_topk(q, e, k=5, dim=64)
    assert kernel_df.schema == fold_df.schema
    assert dict(kernel_df.dtypes)["n_id"] == "string"
    fold, kernel = _topk_map(fold_df), _topk_map(kernel_df)
    assert fold and fold == kernel


def test_word_ngrams_short_texts_yield_empty(spark):
    """Docs with < n tokens must produce an EMPTY shingle set, not a
    SparkRuntimeException from sequence(1,0) → slice(toks, 0, n)
    (engine/oracle divergence: SQL generate_series(1,0) is empty)."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "solo"), (3, ""), (4, "one two three four")],
        "doc_id int, text string")
    m = {r["doc_id"]: r["g"] for r in
         df.select("doc_id", DD.word_ngrams(F.col("text"), 3).alias("g")).collect()}
    assert m[1] == [] and m[2] == [] and m[3] == []
    assert m[4] == ["one two three", "two three four"]


def test_dedup_pipelines_survive_short_texts(spark):
    """End-to-end: jaccard / minhash / LSH over a frame containing
    sub-n-token docs must run without error."""
    base = _docs(spark, 20)
    shorties = spark.createDataFrame(
        [(900001, "tiny"), (900002, "two words"), (900003, "")],
        "doc_id int, text string").withColumn("doc_id", F.col("doc_id").cast("long"))
    d = base.unionByName(shorties)
    assert DD.ngram_jaccard_pairs(d, "doc_id", "text").count() >= 0
    sigs = {r["doc_id"]: r for r in
            DD.minhash_signature_rows(d, "doc_id", "text").collect()}
    assert len(sigs) == 23
    for short in (900001, 900002, 900003):
        assert sigs[short]["n_shingles"] == 0
        assert sigs[short]["sig"] == [None] * DD.N_MINHASH
    assert DD.minhash_lsh_pairs(d, "doc_id", "text").count() >= 0


def test_gemm_query_cap_guard(spark, monkeypatch):
    """brute_force_topk(dim=...) collects the query set to the driver;
    past GEMM_MAX_QUERIES it must refuse instead of collecting."""
    import pytest

    monkeypatch.setattr(SIM, "GEMM_MAX_QUERIES", 5)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="capped at 5"):
        SIM.brute_force_topk(emb, emb, k=3, dim=64)
    # at the cap the path still works
    q = emb.filter(F.col("vec_id") < 5)
    assert SIM.brute_force_topk(q, emb, k=3, dim=64).count() == 15


def test_ivf_finds_planted_near_copies(spark):
    """IVF ANN: a barely-perturbed copy must route to the same coarse
    cluster and surface its source as the top-1 neighbor."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.005).alias("embedding"))
    got = SIM.ivf_topk(queries, corpus, dim=64, k=1, n_centroids=8, n_probe=2)
    hits = got.filter(F.col("rank") == 1) \
              .filter(F.col("n_id") == F.col("q_id") - 100000).count()
    assert hits >= 32, f"IVF top-1 planted recall {hits}/40"


def test_ivf_recall_at_k_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = SIM.brute_force_topk(q, e, k=5).collect()
    ann = SIM.ivf_topk(q, e, dim=64, k=5, n_centroids=8, n_probe=4).collect()
    ex, an = {}, {}
    for r in exact:
        ex.setdefault(r["q_id"], set()).add(r["n_id"])
    for r in ann:
        an.setdefault(r["q_id"], set()).add(r["n_id"])
    recalls = [len(ex[qid] & an.get(qid, set())) / len(ex[qid]) for qid in ex]
    # probing half the clusters on diffuse vectors: same bar as LSH
    assert np.mean(recalls) >= 0.5, f"IVF recall@5 {np.mean(recalls):.2f} degenerate"


def test_ivf_gemm_assignment_path(spark):
    """n_centroids above the Catalyst threshold switches assignment to
    the mapInPandas GEMM kernel; planted near-copies must still route
    to their source's cluster."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.005).alias("embedding"))
    got = SIM.ivf_topk(queries, corpus, dim=64, k=1, n_centroids=48, n_probe=4)
    hits = got.filter(F.col("rank") == 1) \
              .filter(F.col("n_id") == F.col("q_id") - 100000).count()
    assert hits >= 24, f"IVF-GEMM top-1 planted recall {hits}/30"


def test_winnowing_guarantee_and_short_text(spark):
    """Winnowing's core guarantee: any shared substring of length
    >= k+w-1 contributes at least one COMMON fingerprint; sub-k texts
    fingerprint to empty."""
    shared = "the quick brown fox jumps over ze lazy dog"   # 43 chars >> k+w-1
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"),
         (2, "xyzzy123 " + shared + " 987abc"),
         (3, "completely different content with no overlap at all here"),
         (4, "tiny")],
        "doc_id int, text string")
    rows = DD.winnowing_fingerprint_rows(df, "doc_id", "text", 8, 4).collect()
    fps = {r["doc_id"]: set(r["fps"]) for r in rows}
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not fps[4], "sub-k text must fingerprint to empty"
    assert all(r["fps"] == sorted(set(r["fps"])) for r in rows), \
        "fingerprints are distinct-sorted"
    # determinism
    again = {r["doc_id"]: set(r["fps"]) for r in
             DD.winnowing_fingerprint_rows(df, "doc_id", "text", 8, 4).collect()}
    assert fps == again


# ------------------------------------------------ duplicate clusters
def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id1 long, id2 long")


def test_dup_clusters_transitive_closure(spark):
    # A~B, B~C, D~E → {A,B,C} labeled min=1, {D,E} labeled 4; isolated
    # pairsless docs don't appear (no edges → caller unions them back)
    pairs = _pairs(spark, [(1, 2), (2, 3), (4, 5)])
    got = {r["doc_id"]: r["cluster_id"]
           for r in DD.dup_clusters(pairs, iters=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_dup_clusters_converged_equals_fixed(spark):
    # a 6-hop chain: fixed iters=2 is NOT converged; converged mode must
    # reach the fixpoint (everything labeled 1)
    chain = _pairs(spark, [(i, i + 1) for i in range(1, 8)])
    fixed2 = {r["doc_id"]: r["cluster_id"]
              for r in DD.dup_clusters(chain, iters=2).collect()}
    conv = {r["doc_id"]: r["cluster_id"]
            for r in DD.dup_clusters(chain).collect()}
    assert set(conv.values()) == {1}
    assert fixed2 != conv  # 2 hops can't have propagated to the chain end
    fixed8 = {r["doc_id"]: r["cluster_id"]
              for r in DD.dup_clusters(chain, iters=8).collect()}
    assert fixed8 == conv


def test_dup_clusters_on_winnowing_pairs(spark):
    # end-to-end: near-dup variants land in their original's cluster
    d = _with_variants(_docs(spark, 30))
    pairs = DD.winnowing_pairs(d, "doc_id", "text", k=8, w=4, min_shared=2)
    labels = {r["doc_id"]: r["cluster_id"] for r in DD.dup_clusters(pairs).collect()}
    hits = sum(1 for i in range(30)
               if labels.get(i) is not None and labels.get(i) == labels.get(i + 100000))
    assert hits >= 25  # variants share long substrings → same component


def test_dup_clusters_handles_release(spark):
    """dup_clusters releases its own fences: once the caller materializes
    the labels, the CacheManager holds no entry the operator created, so
    there is nothing left for the caller to unpersist."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    pairs = _pairs(spark, [(1, 2)])
    out = DD.dup_clusters(pairs, iters=1)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 1), (2, 1)]
    assert cm.numCachedEntries() == before


def test_operators_leave_no_cached_plans(
        spark, fixture_dfs, crawl_cfg, tmp_path, monkeypatch):
    """No operator leaves a CacheManager entry behind once its result is
    materialized: internal fences are local checkpoints, which the
    CacheManager never holds (a leaked entry taxes every later action's
    plan matching for the rest of the session). The crawl round with the
    image near-dup pass and the rescore on must hold the same."""
    from dataclasses import replace

    from hyperion_crawler_spark.operators.graph import (
        pagerank, rescore_frontier_delta, rescore_frontier_priority)
    from hyperion_crawler_spark.plans.loop import run_crawl

    cm = spark._jsparkSession.sharedState().cacheManager()
    monkeypatch.setattr(DD, "LONG_DOC_TOKENS", 0)   # every doc: exploded scrub
    docs = _docs(spark, 40)
    sims = DD.simhash_df(docs, "doc_id", "text")
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    links = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        "src_url string, dst_url string")
    frontier = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("z", 0.1)], "url string, priority double")
    ops = {
        "minhash_lsh_pairs": lambda: DD.minhash_lsh_pairs(docs, "doc_id", "text"),
        "winnowing_pairs": lambda: DD.winnowing_pairs(docs, "doc_id", "text"),
        "hamming_pairs": lambda: DD.hamming_pairs(sims, "doc_id", "simhash",
                                                  max_dist=20),
        "hamming_join": lambda: DD.hamming_join(
            sims.select(F.col("doc_id").alias("id"), F.col("simhash").alias("h")),
            sims.select(F.col("doc_id").alias("id"), F.col("simhash").alias("h")),
            max_dist=20),
        "dup_clusters(iters)": lambda: DD.dup_clusters(pairs, iters=2),
        "dup_clusters(converged)": lambda: DD.dup_clusters(pairs),
        "scrub_repeated_windows(exploded)": lambda: DD.scrub_repeated_windows(
            docs, "doc_id", "text"),
        "pagerank": lambda: pagerank(links),
        "rescore_frontier_priority": lambda: rescore_frontier_priority(
            frontier, links),
        "rescore_frontier_delta": lambda: rescore_frontier_delta(
            frontier, links),
    }
    for name, op in ops.items():
        before = cm.numCachedEntries()
        op().collect()
        assert cm.numCachedEntries() == before, f"{name} leaked a cache entry"

    before = cm.numCachedEntries()
    cfg = replace(crawl_cfg, image_neardup_dist=3, rescore_every=1)
    metrics = run_crawl(spark, str(tmp_path / "store"), cfg,
                        corpus=fixture_dfs["corpus"], links=fixture_dfs["links"],
                        robots=fixture_dfs["robots"], seeds=fixture_dfs["seeds"],
                        n_rounds=2)
    assert [m["round"] for m in metrics if m["round"] > 0] == [1, 2]
    assert cm.numCachedEntries() == before, "crawl round leaked a cache entry"

    from hyperion_crawler_spark.sources.tables import Catalog
    from hyperion_crawler_spark.streaming.seed_ingest import ingest_seed_stream

    seed_dir = str(tmp_path / "seed_drop")
    fixture_dfs["seeds"].limit(20).coalesce(1).write.parquet(seed_dir)
    before = cm.numCachedEntries()
    totals = ingest_seed_stream(spark, Catalog(str(tmp_path / "ingest")),
                                crawl_cfg, seed_dir, str(tmp_path / "ckpt"))
    assert totals["batches"] == 1 and totals["new_urls"] > 0
    assert cm.numCachedEntries() == before, "seed ingest leaked a cache entry"

    from hyperion_crawler_spark.etl import ETLPipeline, LoadMode, MarketDataSource

    class _DaySource(MarketDataSource):
        # an integer partition column, so REPLACE has partitions to swap
        partition_col = "day"

        def transform(self, df, dim):
            valid, quarantine = super().transform(df, dim)
            return valid.withColumn("day", F.dayofmonth("trade_date")), quarantine

    p = ETLPipeline(spark, str(tmp_path / "etl"))
    p.register(_DaySource(n_tickers=20))
    # each mode loads into the table the modes before it left; INSERT
    # takes a fresh date so it does not conflict, UPDATE one that matches
    for mode, day in ((LoadMode.UPSERT, "2024-01-05"), (LoadMode.APPEND, "2024-01-08"),
                      (LoadMode.INSERT, "2024-01-09"), (LoadMode.UPDATE, "2024-01-05"),
                      (LoadMode.REPLACE, "2024-01-05")):
        before = cm.numCachedEntries()
        res = p.run_full_pipeline("market", {"trade_date": day}, mode=mode)
        assert res.loaded == 20, mode
        assert cm.numCachedEntries() == before, f"ETL {mode.value} leaked a cache entry"


def test_keep_cluster_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string")
    labels = spark.createDataFrame(
        [(2, 2), (5, 2), (6, 6), (7, 6)], "doc_id long, cluster_id long")
    kept = DD.keep_cluster_representatives(docs, "doc_id", labels)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3, 4, 6]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the corpus must not shuffle
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]


def test_rows_forms_match_duckdb_twins(spark):
    """The Spark signature and fingerprint forms equal the DuckDB list
    forms the oracle gate runs (``_sql_minhash_sigs`` and the ``m``
    stage of ``_winnow_pairs_cte``): signatures exactly, including the
    all-null signature of a document under 3 tokens; fingerprints as
    sets, since DuckDB's ``list_distinct`` does not sort. The CTE reads
    ``documents`` with doc_id < 200, so every id here is below 200."""
    import duckdb

    import __spark_entry__ as E

    d = _docs(spark, 20)
    d = d.unionByName(d.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text")))
    d = d.unionByName(spark.createDataFrame(
        [(150, "tiny"), (151, "two words"), (152, "")],
        "doc_id long, text string"))
    con = duckdb.connect()
    con.register("documents", d.toPandas())

    sigs = E._sql_minhash_sigs("text")
    duck_sig = {r[0]: tuple(r[1:]) for r in con.execute(
        f"SELECT doc_id, {', '.join(sigs)} FROM documents").fetchall()}
    row_sig = {r["doc_id"]: tuple(r["sig"]) for r in
               DD.minhash_signature_rows(d, "doc_id", "text").collect()}
    assert len(row_sig) == 43
    assert row_sig == duck_sig
    assert row_sig[150] == (None,) * DD.N_MINHASH

    duck_fp = {r[0]: set(r[1]) for r in con.execute(
        f"WITH {E._winnow_pairs_cte} SELECT doc_id, fps FROM m").fetchall()}
    row_fp = {r["doc_id"]: set(r["fps"]) for r in
              DD.winnowing_fingerprint_rows(d, "doc_id", "text", 8, 4).collect()}
    assert len(row_fp) == 43
    assert row_fp == duck_fp
    assert not row_fp[150] and not row_fp[152]


def test_merge_topk_string_ids_break_ties_lexicographically():
    """Digit-only STRING ids must merge score-ties in STRING order
    ('10' < '2'), matching the per-chunk pandas sort and the final
    Spark window — not numeric order just because an int64 cast
    happens to succeed (r6 ADVICE, low)."""
    best_c = np.array([[0.5, -np.inf]])
    best_n = np.array([["2", None]], dtype=object)
    add_c = np.array([[0.5, 0.1]])
    add_n = np.array([["10", "3"]], dtype=object)
    mc, mn = SIM._merge_topk(best_c, best_n, add_c, add_n, k=2)
    # tie at 0.5: '10' sorts before '2' lexicographically
    assert list(mn[0]) == ["10", "2"]
    # integer ids still merge numerically (2 < 10)
    best_c = np.array([[0.5, -np.inf]])
    best_n = np.array([[2, None]], dtype=object)
    add_c = np.array([[0.5, 0.1]])
    add_n = np.array([[10, 3]], dtype=object)
    mc, mn = SIM._merge_topk(best_c, best_n, add_c, add_n, k=2)
    assert list(mn[0]) == [2, 10]


def test_pq_finds_planted_near_copies(spark):
    """PQ-ADC ANN: a barely-perturbed copy must reconstruct to (nearly)
    the same codes and surface its source as the top-1 neighbor."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.005).alias("embedding"))
    got = SIM.pq_topk(queries, corpus, dim=64, k=1)
    hits = got.filter(F.col("rank") == 1) \
              .filter(F.col("n_id") == F.col("q_id") - 100000).count()
    assert hits >= 32, f"PQ top-1 planted recall {hits}/40"


def test_pq_recall_at_k_vs_brute_force(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = SIM.brute_force_topk(q, e, k=5).collect()
    ann = SIM.pq_topk(q, e, dim=64, k=5).collect()
    ex, an = {}, {}
    for r in exact:
        ex.setdefault(r["q_id"], set()).add(r["n_id"])
    for r in ann:
        an.setdefault(r["q_id"], set()).add(r["n_id"])
    recalls = [len(ex[qid] & an.get(qid, set())) / len(ex[qid]) for qid in ex]
    # 16x256 (8-bit) codes on 64-dim DIFFUSE vectors (PQ's worst
    # case — no cluster structure): ~0.93 measured, bar at 0.7
    assert np.mean(recalls) >= 0.7, f"PQ recall@5 {np.mean(recalls):.2f} degenerate"


def test_pq_encode_shape_and_determinism(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    books = SIM.train_pq_codebooks(e, dim=64, m_blocks=8, k_codes=16)
    assert books.shape == (8, 16, 8)  # explicit small config
    enc1 = {r["n_id"]: (tuple(r["codes"]), r["recon_norm"])
            for r in SIM.pq_encode(e, books).collect()}
    enc2 = {r["n_id"]: (tuple(r["codes"]), r["recon_norm"])
            for r in SIM.pq_encode(e.repartition(7), books).collect()}
    assert enc1 == enc2, "PQ encoding must not depend on partitioning"
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c, _ in enc1.values())
    # training is deterministic too (hash-ordered sample, no RNG)
    books2 = SIM.train_pq_codebooks(e.repartition(5), dim=64, m_blocks=8, k_codes=16)
    assert (books == books2).all()


def test_pq_query_cap_guard(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    import pytest
    with pytest.raises(ValueError, match="cap"):
        SIM.pq_topk(e, e, dim=64, k=1, query_cap=10)


# ------------------------------------------------------------- IVFADC
def test_ivfpq_exact_mode_equals_brute_force(spark):
    """All cells probed + sample==corpus + one residual centroid per
    sample sub-vector + zero Lloyd steps → perfect reconstruction →
    the ADC scan degenerates to exact scoring (the q58 oracle mode)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = {(r["q_id"], r["n_id"], r["rank"])
             for r in SIM.brute_force_topk(q, e, k=5).collect()}
    got = {(r["q_id"], r["n_id"], r["rank"])
           for r in SIM.ivfpq_topk(q, e, dim=64, k=5, n_centroids=4,
                                   n_probe=4, m_blocks=8,
                                   k_codes=1_000_000, train_iters=0,
                                   sample_cap=1_000_000).collect()}
    assert got == exact


def test_ivfpq_recall_dominates_pq_alone(spark):
    """Residual quantization: IVFADC at the same code size (8x64 codes)
    must match or beat PQ-alone recall@5 vs brute force (Jégou et al.,
    TPAMI'11 — the point of quantizing residuals, and the round-4
    verdict's acceptance bar for the composition). Corpus: a
    CLUSTERED fixture (40 bases × 25 deterministic perturbed copies) —
    the shape real embeddings have and the one where coarse cells
    capture structure; fully deterministic (hash-derived perturbation,
    hash-ordered training samples), so the comparison is exact, not a
    flaky statistical bound."""
    e0 = spark.read.parquet(f"{SF}/embeddings.parquet").limit(40) \
        .select("vec_id", "embedding")
    rep = spark.range(25).select(F.col("id").alias("rep"))
    vid = F.col("vec_id") * 100 + F.col("rep")
    e = (e0.crossJoin(rep)
         .select(vid.alias("vec_id"),
                 F.transform("embedding", lambda x: x.cast("double")
                             + (F.pmod(F.xxhash64(vid), F.lit(1000))
                                .cast("double") / 1e4 - 0.05))
                 .alias("embedding")))
    q = e.filter(F.col("vec_id") % 100 == 0)
    ex = {}
    for r in SIM.brute_force_topk(q, e, k=5).collect():
        ex.setdefault(r["q_id"], set()).add(r["n_id"])

    def recall(rows):
        an = {}
        for r in rows:
            an.setdefault(r["q_id"], set()).add(r["n_id"])
        return np.mean([len(ex[k] & an.get(k, set())) / len(ex[k])
                        for k in ex])

    r_ivfpq = recall(SIM.ivfpq_topk(q, e, dim=64, k=5, n_centroids=8,
                                    n_probe=8, m_blocks=8,
                                    k_codes=64).collect())
    r_pq = recall(SIM.pq_topk(q, e, dim=64, k=5, m_blocks=8,
                              k_codes=64).collect())
    assert r_ivfpq >= r_pq, \
        f"IVFADC recall {r_ivfpq:.3f} < PQ-alone {r_pq:.3f}"


def test_ivfpq_scan_touches_only_probed_cells(spark):
    """The work bound the composition exists for: with n_probe=1 a
    query is scored only against its probed cell, so every candidate
    comes from a probed cell."""
    import numpy as np_

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(400) \
        .select("vec_id", "embedding")
    cents, means, books, encoded = SIM.ivfpq_index(
        e, dim=64, n_centroids=8, m_blocks=8, k_codes=32)
    encoded = encoded.persist()
    try:
        q = e.filter(F.col("vec_id") % 100 == 0)
        res = SIM.ivfpq_topk(q, None, dim=64, k=5, n_probe=1,
                             index=(cents, means, books, encoded)).collect()
        qm = np_.array([r["embedding"] for r in q.collect()], dtype=float)
        probed = {int(c) for c in (qm @ cents.T).argmax(axis=1)}
        cell_of = {r["n_id"]: r["cid"] for r in
                   encoded.select("n_id", "cid").collect()}
        assert res and all(cell_of[r["n_id"]] in probed for r in res)
        # and the probe really prunes: other cells hold vectors too
        assert set(cell_of.values()) - probed
    finally:
        encoded.unpersist()


def test_ivfpq_topk_invariant_to_query_partitioning(spark):
    """ivfpq_topk must return bit-identical results however the query
    side is partitioned: same ADC arithmetic, same tie-breaks — query
    grouping and chunk boundaries must not reorder any per-pair
    arithmetic. Checked at approximate settings so cell pruning is
    actually exercised."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300) \
        .select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") % 10 == 0)

    def run(queries):
        return {(r["q_id"], r["n_id"], r["rank"], r["cos"]) for r in
                SIM.ivfpq_topk(queries, e, dim=64, k=5, n_centroids=8,
                               n_probe=3, m_blocks=8, k_codes=32).collect()}

    base = run(q)
    assert base and run(q.repartition(7)) == base


def test_ivfpq_distributed_never_collects_queries(spark):
    """The contract that removes the 100k cap: with a prebuilt index,
    building the distributed plan performs ZERO driver collects — the
    query set never leaves the cluster (round-5 verdict 'Next round'
    #1's acceptance bar). DataFrame.collect is patched to raise for
    the duration of plan construction; the plan must still build, and
    must evaluate correctly after the patch is lifted."""
    from pyspark.sql import DataFrame as SparkDF

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200) \
        .select("vec_id", "embedding")
    idx = SIM.ivfpq_index(e, dim=64, n_centroids=4, m_blocks=8, k_codes=16)
    q = e.filter(F.col("vec_id") % 25 == 0)
    real_collect = SparkDF.collect

    def banned(self, *a, **kw):
        raise AssertionError("ivfpq_topk must not collect")

    SparkDF.collect = banned
    try:
        plan = SIM.ivfpq_topk(q, None, dim=64, k=5, n_probe=4, index=idx)
    finally:
        SparkDF.collect = real_collect
    rows = plan.collect()
    assert rows and all(r["rank"] <= 5 for r in rows)
    # and there is no cap parameter on this path at all
    import inspect
    assert "query_cap" not in inspect.signature(SIM.ivfpq_topk).parameters


def test_ivfpq_distributed_cell_splits_identical(spark):
    """Hot-cell salt: cell_splits>1 must return EXACTLY the unsplit
    result — each n_id lands in one deterministic sub-cell, every
    sub-cell emits its top-k under the global order, and the window
    merges. Checked at approximate settings (real cell pruning) and
    with a forced hot cell (all vectors in one coarse cell)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300) \
        .select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") % 10 == 0)
    base = {tuple(r) for r in SIM.ivfpq_topk(
        q, e, dim=64, k=5, n_centroids=8, n_probe=3, m_blocks=8,
        k_codes=32).collect()}
    split = {tuple(r) for r in SIM.ivfpq_topk(
        q, e, dim=64, k=5, n_centroids=8, n_probe=3, m_blocks=8,
        k_codes=32, cell_splits=4).collect()}
    assert split == base
    # forced hot cell: ONE coarse centroid → every vector shares it
    hot1 = {tuple(r) for r in SIM.ivfpq_topk(
        q, e, dim=64, k=5, n_centroids=1, n_probe=1, m_blocks=8,
        k_codes=32).collect()}
    hot8 = {tuple(r) for r in SIM.ivfpq_topk(
        q, e, dim=64, k=5, n_centroids=1, n_probe=1, m_blocks=8,
        k_codes=32, cell_splits=8).collect()}
    assert hot8 == hot1 and len(hot1) > 0


def test_ivfpq_self_pairs_finds_planted_semantic_dups(spark):
    """SemDeDup shape: corpus-vs-corpus. Planted ε-perturbed copies
    (cos ≈ 1) must pair with their originals; unrelated vectors stay
    unpaired at a 0.999 threshold."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100) \
        .select("vec_id", "embedding")
    pert = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x.cast("double") * 1.001).alias("embedding"))
    both = e.unionByName(pert)
    pairs = {(r["id1"], r["id2"]) for r in
             SIM.ivfpq_self_pairs(both, dim=64, threshold=0.999, k=5,
                                  n_centroids=4, n_probe=4, m_blocks=8,
                                  k_codes=1_000_000, train_iters=0,
                                  sample_cap=1_000_000).collect()}
    for i in range(10):
        assert (i, i + 100000) in pairs, f"planted pair {i} missing"
    # scaled copies are EXACTLY cos=1; no unrelated pair sneaks in
    assert all(i2 == i1 + 100000 for i1, i2 in pairs)


def test_ann_tie_breaks_deterministic_on_duplicate_groups(spark):
    """Review r6: a duplicate group larger than k (8 exact copies,
    k=5) makes every neighbor score exactly cos=1.0 — the per-cell /
    per-batch partial top-k must break those ties by n_id ASC (the
    global window's order), not by shuffle-dependent arrival order.
    Pinned across three partitionings on ivfpq_topk, and against both
    brute-force forms (fold and dim-known kernel)."""
    base = [float(x) for x in np.arange(1, 17)]
    rows = [(i, base) for i in range(8)]                 # 8 exact copies
    rows += [(100 + i, [float(x) for x in np.arange(1, 17) * (i + 2)])
             for i in range(4)]                          # same direction!
    # make the extra rows actually distinct directions
    rows = rows[:8] + [
        (100 + i,
         [float((x * (i + 3)) % 7 + 1) for x in range(1, 17)])
        for i in range(4)]
    df0 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    outs = []
    for parts in (1, 5, 11):
        df = df0.repartition(parts)
        top = SIM.ivfpq_topk(
            df, df, dim=16, k=5, n_centroids=2, n_probe=2, m_blocks=4,
            k_codes=1_000_000, train_iters=0, sample_cap=1_000_000,
            c_chunk=3)                                   # force chunk merges
        outs.append(sorted(tuple(r) for r in top.collect()))
    assert outs[0] == outs[1] == outs[2]
    # copies 0..7: each one's 5 neighbors are the 5 SMALLEST other ids
    by_q = {}
    for q, n, _c, r in outs[0]:
        by_q.setdefault(q, []).append((r, n))
    for q in range(8):
        want = sorted(i for i in range(8) if i != q)[:5]
        assert [n for _r, n in sorted(by_q[q])][:5] == want, (q, by_q[q])
    # both brute-force forms agree on the same tie-break
    ann = {(q, r, n) for q, n, _c, r in outs[0]}
    for dim in (None, 16):
        bf = {(r["q_id"], r["rank"], r["n_id"]) for r in
              SIM.brute_force_topk(df0, df0, k=5, dim=dim).collect()}
        assert bf == ann, dim


def test_scrub_repeated_windows_catches_offgrid_repeat(spark):
    """The round-4 verdict's missing case, pinned: a 12-token block
    repeated at offset 3 (≢ 0 mod 10) is INVISIBLE to the fixed
    10-token grid (keeps every chunk) but fully removed by the rolling
    w=10 window scrub; sub-window repeats (< w tokens) survive."""
    rows = [
        (1, "p1 p2 p3 a b c d e f g h i j k l a b c d e f g h i j k l t1 t2"),
        (2, " ".join(f"x{i}" for i in range(12))),          # no repeats
        (3, "r r r r r r r r r r r r r r r"),               # overlapping run
        (4, "a b c a b c a b c a b c"),                     # 3-run < w: kept
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           DD.scrub_repeated_windows(df, "doc_id", "text", w=10).collect()}
    assert out[1]["text_clean"] == "p1 p2 p3 a b c d e f g h i j k l t1 t2"
    assert out[1]["n_scrubbed"] == 12
    grid = DD.dedup_repeated_spans(
        df.filter(F.col("doc_id") == 1), "doc_id", "text",
        span_tokens=10).collect()[0]
    assert grid.n_kept == grid.n_chunks      # the grid provably misses it
    assert out[2]["n_scrubbed"] == 0
    assert out[3]["text_clean"] == "r" and out[3]["n_scrubbed"] == 14
    assert out[4]["n_scrubbed"] == 0         # repeats shorter than w survive


def test_scrub_exploded_form_equals_array_form(spark, monkeypatch):
    """The two physical forms of the rolling scrub must be exactly
    equal (round-5 verdict 'Next round' #3's acceptance bar): the
    array form (shuffle-free, O(n²)/doc codegen) and the exploded
    form (posexplode + MIN window + merged-interval reassembly) on the
    same fixtures, including the q55 off-grid case, overlapping runs,
    adjacent-interval merging, and a doc that is ALL duplicate past
    token w."""
    rng = np.random.default_rng(11)
    rows = [
        (1, "p1 p2 p3 a b c d e f g h i j k l a b c d e f g h i j k l t1 t2"),
        (2, " ".join(f"x{i}" for i in range(12))),
        (3, "r r r r r r r r r r r r r r r"),
        (4, "a b c a b c a b c a b c"),
        # two separated repeats → two merged intervals with a gap
        (5, " ".join([f"u{i}" for i in range(12)] +
                     [f"u{i}" for i in range(12)] +
                     [f"m{i}" for i in range(15)] +
                     [f"u{i}" for i in range(12)])),
        # random long-ish doc with a planted mid-repeat
        (6, " ".join([f"w{rng.integers(0, 50)}_{i}" for i in range(40)] +
                     [f"w{rng.integers(0, 50)}_{i}" for i in range(20, 35)])),
        (7, "solo"),                                    # shorter than w
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def scrub(long_doc_tokens):
        monkeypatch.setattr(DD, "LONG_DOC_TOKENS", long_doc_tokens)
        return {tuple(r) for r in
                DD.scrub_repeated_windows(df, "doc_id", "text", w=10).collect()}

    arr = scrub(10**9)
    exp = scrub(0)
    assert exp == arr
    # and the auto-cutover (mixed routing) agrees too
    mix = scrub(20)
    assert mix == arr


def test_scrub_exploded_many_scattered_repeats_linear(spark, monkeypatch):
    """The review-r6 pathological shape for the long-doc path: a
    10-token boilerplate line repeated 2,000 times, interleaved with
    unique lines — thousands of DISJOINT covered intervals. The
    anti-join reassembly is linear in rows; the first-cut accumulator
    folds were O(dup_windows²) per doc and crawl here."""
    import time
    blocks = []
    boiler = " ".join(f"b{j}" for j in range(10))
    for i in range(2000):
        blocks.append(" ".join(f"u{i}_{j}" for j in range(5)))
        blocks.append(boiler)
    df = spark.createDataFrame([(1, " ".join(blocks))],
                               "doc_id int, text string")
    monkeypatch.setattr(DD, "LONG_DOC_TOKENS", 0)
    t0 = time.monotonic()
    out = DD.scrub_repeated_windows(df, "doc_id", "text", w=10).collect()[0]
    dt = time.monotonic() - t0
    assert out["n_tokens"] == 2000 * 15
    # first boilerplate occurrence survives; the 1,999 repeats scrub
    assert out["n_scrubbed"] == 1999 * 10
    assert "u1999_4" in out["text_clean"]          # unique lines intact
    assert out["text_clean"].count("b0 ") == 1
    assert dt < 90, f"scattered-repeat scrub took {dt:.0f}s"


def test_scrub_long_doc_cutover_bounded_time(spark):
    """A book-length (50k-token) document routes to the exploded form
    and completes in bounded time — the O(n²) array_position pass
    would be 2.5e9 comparisons; the exploded path is O(n·w) hashing +
    an O(n log n) shuffle. A 20k-token tail repeat (one merged
    interval) must be fully scrubbed."""
    import time
    n_uniq, n_rep = 30_000, 20_000
    toks = [f"t{i}" for i in range(n_uniq)] + \
           [f"t{i}" for i in range(n_uniq - n_rep, n_uniq)]
    df = spark.createDataFrame([(1, " ".join(toks))],
                               "doc_id int, text string")
    t0 = time.monotonic()
    out = DD.scrub_repeated_windows(df, "doc_id", "text", w=10).collect()[0]
    dt = time.monotonic() - t0
    assert out["n_tokens"] == n_uniq + n_rep
    assert out["n_scrubbed"] == n_rep
    assert out["text_clean"] == " ".join(f"t{i}" for i in range(n_uniq))
    assert dt < 120, f"long-doc scrub took {dt:.0f}s — O(n²) path leaked in"


# ----------------------------------------------------- hamming_pairs
def _brute_hamming(ids, hashes, max_dist):
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            if d <= max_dist:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b, d))
    return out


def test_hamming_pairs_equals_brute_force(spark):
    """Block candidate generation + popcount verify must equal the
    all-pairs scan exactly (the Manku pigeonhole guarantee), including
    for block counts that don't divide 64 evenly."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 2**63, size=40, dtype=np.int64).tolist()
    rows = [(i, int(h)) for i, h in enumerate(base)]
    # plant near-dups at controlled distances off row 0
    h0 = rows[0][1]
    for k, bits in enumerate([(3,), (5, 17), (1, 33, 62), (2, 9, 41, 63)]):
        m = h0
        for b in bits:
            m ^= 1 << b
        rows.append((100 + k, int(np.int64(np.uint64(m % 2**64)))))
    df = spark.createDataFrame(rows, "id long, h long")
    for max_dist, blocks in [(3, None), (4, 5), (4, 7)]:
        got = {(r["id1"], r["id2"], r["dist"])
               for r in DD.hamming_pairs(df, "id", "h", max_dist,
                                         blocks=blocks).collect()}
        want = _brute_hamming([r[0] for r in rows],
                              [r[1] & (2**64 - 1) for r in rows], max_dist)
        assert got == want, (max_dist, blocks)


def test_hamming_pairs_boundary_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 0b111), (3, 0b1111), (4, None)], "id long, h long")
    got = {(r["id1"], r["id2"], r["dist"])
           for r in DD.hamming_pairs(df, "id", "h", max_dist=3).collect()}
    # (1,2)=3 in, (1,3)=4 out, (2,3)=1 in; nulls never pair
    assert got == {(1, 2, 3), (2, 3, 1)}


def test_hamming_pairs_constant_hash_skew_guard(spark):
    """Round-5 verdict 'Next round' #4: a planted constant-pHash
    population (1,000 copies of one hash — the single-color-image
    crawl shape) must pass WITHOUT caller prep, and candidate work
    must stay ∝ collisions among DISTINCT hashes: the block join sees
    one representative per hash (3 distinct values here → ≤ 3 rep
    pairs), never the b·m² = 4M explosion, while the output carries
    the inherent C(1000,2) intra-group pairs plus the expanded
    cross-group pairs."""
    h0 = 0x0123456789ABCDEF
    rows = ([(i, h0) for i in range(1000)] +          # constant block
            [(2000, h0 ^ (1 << 7))] +                 # dist 1 from all
            [(3000, -1)])                             # far away
    df = spark.createDataFrame(rows, "id long, h long")
    # rep-level candidate generation is tiny — the guard's contract
    reps = df.select(F.col("h").alias("_h")).distinct()
    rep_pairs = DD._hamming_block_pairs(reps, reps, max_dist=3, b=4) \
        .filter(F.col("h1") < F.col("h2")).collect()
    assert len(rep_pairs) == 1                        # (h0, h0^bit7) only
    got = DD.hamming_pairs(df, "id", "h", max_dist=3)
    n_intra = got.filter(F.col("dist") == 0).count()
    n_cross = got.filter(F.col("dist") == 1).count()
    assert n_intra == 1000 * 999 // 2                 # all copies pair
    assert n_cross == 1000                            # each copy × id 2000
    assert got.count() == n_intra + n_cross           # id 3000 never pairs
    # spot-check ordering + values on a slice
    sample = {(r["id1"], r["id2"], r["dist"]) for r in
              got.filter(F.col("id2") == 2000).collect()}
    assert (0, 2000, 1) in sample and (999, 2000, 1) in sample


def test_hamming_join_cross_frame_equals_brute_force(spark):
    """Incremental shape: new-batch hashes vs an index frame. Must
    equal the all-cross-pairs scan exactly, pair identical hashes at
    dist 0, skip nulls, and stay member-expanded under constant-hash
    skew on either side."""
    rng = np.random.default_rng(13)
    idx = [(i, int(h)) for i, h in enumerate(
        rng.integers(0, 2**63, size=30, dtype=np.int64))]
    h0 = idx[0][1]
    new = [(100, h0),                          # exact dup of index 0
           (101, h0 ^ (1 << 5)),               # dist 1
           (102, h0 ^ (1 << 5) ^ (1 << 40)),   # dist 2
           (103, int(rng.integers(0, 2**63))), # far
           (104, None),                        # null skipped
           (105, h0), (106, h0)]               # constant-hash skew
    ldf = spark.createDataFrame(new, "id long, h long")
    rdf = spark.createDataFrame(idx, "id long, h long")
    got = {(r["left_id"], r["right_id"], r["dist"]) for r in
           DD.hamming_join(ldf, rdf, max_dist=3).collect()}
    want = set()
    for li, lh in new:
        if lh is None:
            continue
        for ri, rh in idx:
            d = bin((lh ^ rh) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((li, ri, d))
    assert got == want
    assert (100, 0, 0) in got and (105, 0, 0) in got and (106, 0, 0) in got


def test_hamming_pairs_on_simhash_variants(spark):
    """End-to-end: simhash near-dup docs pair up, unrelated ones don't."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog " * 6),
        (2, "the quick brown fox jumps over the lazy dog " * 6 + "tail"),
        (3, "completely different content about spark shuffles and parquet "
            "file formats with nothing shared at all " * 4),
    ]
    sims = DD.simhash_df(spark.createDataFrame(docs, "doc_id long, text string"),
                         "doc_id", "text")
    pairs = {(r["id1"], r["id2"]) for r in
             DD.hamming_pairs(sims, "doc_id", "simhash", max_dist=6).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs
