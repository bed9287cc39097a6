"""Streaming seed ingestion (streaming/seed_ingest.py): continuous
frontier feed between crawl rounds, exactly-once across the Spark
streaming checkpoint AND the engine round log."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hyperion_crawler_spark.config import CrawlConfig
from hyperion_crawler_spark.sources.tables import Catalog
from hyperion_crawler_spark.streaming.seed_ingest import ingest_seed_stream


def _write_seeds(d, name, urls):
    os.makedirs(d, exist_ok=True)
    t = pa.table({
        "url": pa.array(urls, pa.string()),
        "image_id": pa.array([f"img{i}" for i in range(len(urls))], pa.string()),
        "priority": pa.array([0.5] * len(urls), pa.float64()),
    })
    pq.write_table(t, os.path.join(d, name))


def test_seed_stream_feeds_frontier_incrementally(spark, tmp_path):
    cfg = CrawlConfig(n_shards=4)
    cat = Catalog(str(tmp_path / "store"))
    seeds = str(tmp_path / "seeds")
    ckpt = str(tmp_path / "ckpt")

    _write_seeds(seeds, "b1.parquet",
                 ["https://a.com/1", "https://a.com/2", "https://a.com/2#frag"])
    r1 = ingest_seed_stream(spark, cat, cfg, seeds, ckpt)
    fr = cat.table("frontier", "shard").read(spark)
    assert r1["new_urls"] == 2  # #frag canonicalizes onto /2
    assert fr.count() == 2
    assert cat.base_versions()["frontier"] >= 1

    # second drop: one dup across batches, one new — only the new lands
    _write_seeds(seeds, "b2.parquet", ["https://a.com/1", "https://b.com/x"])
    r2 = ingest_seed_stream(spark, cat, cfg, seeds, ckpt)
    fr2 = cat.table("frontier", "shard").read(spark)
    assert r2["new_urls"] == 1
    assert sorted(r["url"] for r in fr2.select("url").collect()) == [
        "https://a.com/1", "https://a.com/2", "https://b.com/x"]
    # re-drain with nothing new: no-op, versions stable
    v_before = cat.base_versions()
    r3 = ingest_seed_stream(spark, cat, cfg, seeds, ckpt)
    assert r3["batches"] == 0 and cat.base_versions() == v_before


def test_seed_stream_then_crawl_round_builds_on_it(spark, tmp_path, fixture_dfs, crawl_cfg):
    """An interleaved crawl round must see the streamed frontier rows
    (round-log fold), not orphan them."""
    from hyperion_crawler_spark.plans.round import run_round

    cat = Catalog(str(tmp_path / "store"))
    seeds = str(tmp_path / "seeds")
    corpus = fixture_dfs["corpus"]
    image_id = corpus.select("image_id").first()["image_id"]
    os.makedirs(seeds, exist_ok=True)
    t = pa.table({"url": pa.array(["https://h0.example.com/p1"], pa.string()),
                  "image_id": pa.array([image_id], pa.string()),
                  "priority": pa.array([0.9], pa.float64())})
    pq.write_table(t, os.path.join(seeds, "b1.parquet"))
    ingest_seed_stream(spark, cat, crawl_cfg, seeds, str(tmp_path / "ckpt"))

    links = spark.createDataFrame(
        [], "src_url string, dst_url string, dst_image_id string, dst_priority double")
    out = run_round(spark, cat, crawl_cfg, 1, corpus, links, fixture_dfs["robots"])
    assert out["scheduled"] == 1 and out["fetched"] + out["failed"] == 1


def test_seed_stream_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: if Spark's streaming checkpoint is lost
    (or a batch replays after the engine commits), re-processing every
    seed file must change NOTHING — the Bloom seen-set turns replays
    into no-ops."""
    import shutil

    cfg = CrawlConfig(n_shards=4)
    cat = Catalog(str(tmp_path / "store"))
    seeds = str(tmp_path / "seeds")
    ckpt = str(tmp_path / "ckpt")
    _write_seeds(seeds, "b1.parquet", ["https://a.com/1", "https://a.com/2"])
    ingest_seed_stream(spark, cat, cfg, seeds, ckpt)
    fr_before = sorted(r["url"] for r in
                       cat.table("frontier", "shard").read(spark).collect())
    shutil.rmtree(ckpt)  # lose the streaming checkpoint → full replay
    out = ingest_seed_stream(spark, cat, cfg, seeds, str(tmp_path / "ckpt2"))
    assert out["new_urls"] == 0
    fr_after = sorted(r["url"] for r in
                      cat.table("frontier", "shard").read(spark).collect())
    assert fr_after == fr_before


def test_ingest_into_fresh_store_survives_run_crawl(spark, tmp_path, fixture_dfs, crawl_cfg):
    """Seeds streamed into a FRESH store must not be discarded when
    run_crawl starts: the ingest commits its merges as round 0, and
    init_frontier MERGES the crawl's seed list on top of it (r5 — the
    daemon may legally start before the crawl's first round), marking
    the round-0 entry ``_seeded``; re-seeding AFTER that refuses."""
    import pytest

    from hyperion_crawler_spark.plans.loop import run_crawl
    from hyperion_crawler_spark.plans.round import init_frontier

    store = str(tmp_path / "store")
    cat = Catalog(store)
    seeds_dir = str(tmp_path / "seeds")
    corpus = fixture_dfs["corpus"]
    image_id = corpus.select("image_id").first()["image_id"]
    os.makedirs(seeds_dir, exist_ok=True)
    t = pa.table({"url": pa.array(["https://h0.example.com/streamed"], pa.string()),
                  "image_id": pa.array([image_id], pa.string()),
                  "priority": pa.array([0.9], pa.float64())})
    pq.write_table(t, os.path.join(seeds_dir, "b1.parquet"))
    ingest_seed_stream(spark, cat, crawl_cfg, seeds_dir, str(tmp_path / "ckpt"))

    run_crawl(spark, store, crawl_cfg, corpus=corpus,
              links=fixture_dfs["links"], robots=fixture_dfs["robots"],
              seeds=fixture_dfs["seeds"], n_rounds=1)
    # re-seeding a store with committed crawl work must still refuse
    with pytest.raises(ValueError, match="committed crawl rounds"):
        init_frontier(spark, Catalog(store, writer="crawl"), crawl_cfg,
                      fixture_dfs["seeds"])
    cat2 = Catalog(store)
    fr = cat2.table("frontier", "shard").read(spark)
    ar = cat2.table("archive", "shard").read(spark)
    urls = {r["url"] for df in (fr, ar) if df is not None for r in df.collect()}
    assert "https://h0.example.com/streamed" in urls, \
        "streamed seed vanished across run_crawl bootstrap"


def test_continuous_trigger_daemon_merges_midstream(spark, tmp_path):
    """processingTime daemon: drops landing while the query is LIVE are
    merged into the frontier without restarting; q.stop() is clean and
    the final state matches what an availableNow drain would produce."""
    import time

    from hyperion_crawler_spark.streaming.seed_ingest import (
        start_seed_ingest_daemon,
    )

    cfg = CrawlConfig(n_shards=4)
    cat = Catalog(str(tmp_path / "store"))
    seeds = str(tmp_path / "seeds")
    _write_seeds(seeds, "b1.parquet", ["https://a.com/1"])
    q, totals = start_seed_ingest_daemon(
        spark, cat, cfg, seeds, str(tmp_path / "ckpt"),
        processing_time="1 seconds")
    try:
        deadline = time.time() + 60
        while totals["new_urls"] < 1 and time.time() < deadline:
            time.sleep(0.3)
        assert totals["new_urls"] == 1, "first drop never merged"
        # mid-stream drop while the query is live
        _write_seeds(seeds, "b2.parquet", ["https://b.com/2", "https://a.com/1"])
        while totals["new_urls"] < 2 and time.time() < deadline:
            time.sleep(0.3)
        assert totals["new_urls"] == 2, "mid-stream drop never merged"
        fr = sorted(r["url"] for r in
                    cat.table("frontier", "shard").read(spark).collect())
        assert fr == ["https://a.com/1", "https://b.com/2"]
    finally:
        q.stop()
    # clean stop: a fresh drain over the same dir+checkpoint is a no-op
    out = ingest_seed_stream(spark, cat, cfg, seeds, str(tmp_path / "ckpt"))
    assert out["new_urls"] == 0
    fr2 = sorted(r["url"] for r in
                 cat.table("frontier", "shard").read(spark).collect())
    assert fr2 == ["https://a.com/1", "https://b.com/2"]


def test_bootstrap_and_ingest_admit_identically(spark, tmp_path, fixture_dfs,
                                                fixture_pdf, crawl_cfg):
    """The bootstrap and a seed-ingest batch are one admission path:
    the same seed rows give the same frontier, the same seen-filter
    blobs and the same count on fresh stores, and round-0 entries that
    differ only by the bootstrap's ``_seeded`` marker."""
    from hyperion_crawler_spark.plans.round import init_frontier

    cat_a = Catalog(str(tmp_path / "a"))
    boot = init_frontier(spark, cat_a, crawl_cfg, fixture_dfs["seeds"])

    seeds = str(tmp_path / "seeds")
    os.makedirs(seeds)
    pq.write_table(pa.Table.from_pandas(
        fixture_pdf["seeds"][["url", "image_id", "priority"]], preserve_index=False),
        os.path.join(seeds, "b1.parquet"))
    cat_b = Catalog(str(tmp_path / "b"))
    drained = ingest_seed_stream(spark, cat_b, crawl_cfg, seeds, str(tmp_path / "ckpt"))

    assert boot["seeded"] > 0
    assert drained == {"batches": 1, "new_urls": boot["seeded"]}

    def state(cat):
        fr = cat.table("frontier", "shard").read(spark)
        f = cat.table("seen_filters", "shard").read(spark)
        return (sorted(tuple(r) for r in fr.collect()),
                sorted((r["shard"], bytes(r["filter_bytes"]), r["n_items"])
                       for r in f.collect()))

    assert state(cat_a) == state(cat_b)
    rounds_a, rounds_b = cat_a.completed_rounds(), cat_b.completed_rounds()
    assert set(rounds_a) == set(rounds_b) == {0}
    assert rounds_a[0].pop("_seeded") == 1
    assert rounds_a[0] == rounds_b[0]
