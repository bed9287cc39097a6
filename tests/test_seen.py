"""Sharded Bloom seen-filter: no false negatives, exact-parity at test
scale, blob carry-forward, within-one-pass update."""

import numpy as np
from pyspark.sql import functions as F

from hyperion_crawler_spark.config import CrawlConfig
from hyperion_crawler_spark.state.seen import probe_and_update


def _cands(spark, hashes, cfg):
    rows = [(int(h) % cfg.n_shards, int(h), f"http://h/{h}", "h", f"img{h}", 0.5)
            for h in hashes]
    return spark.createDataFrame(
        rows, "shard int, urlhash long, url string, host string, image_id string, priority double")


def test_probe_empty_state_passes_all(spark, crawl_cfg):
    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    unseen, filters = probe_and_update(_cands(spark, range(100), crawl_cfg), empty, crawl_cfg)
    assert unseen.count() == 100
    f = filters.collect()
    assert sum(r["n_items"] for r in f) == 100
    assert all(len(r["filter_bytes"]) == crawl_cfg.bloom_bits_per_shard // 8 for r in f)


def test_no_false_negatives_and_exact_parity(spark, crawl_cfg):
    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    first = list(range(0, 500))
    _, filters = probe_and_update(_cands(spark, first, crawl_cfg), empty, crawl_cfg)
    filters = filters.persist()
    # re-probe same keys: ALL must be seen (no false negatives)
    again, _ = probe_and_update(_cands(spark, first, crawl_cfg), filters, crawl_cfg)
    assert again.count() == 0
    # fresh keys: at this scale bloom must agree with exact set (FPR ~0)
    fresh = list(range(10_000, 10_500))
    unseen2, _ = probe_and_update(_cands(spark, fresh, crawl_cfg), filters, crawl_cfg)
    assert unseen2.count() == len(fresh)
    filters.unpersist()


def test_untouched_shard_not_rewritten_but_survives_append(spark, crawl_cfg, tmp_path):
    from hyperion_crawler_spark.sources.tables import Catalog

    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    seen_t = Catalog(str(tmp_path)).table("seen_filters", "shard")
    # round A: keys only in shard 0
    keys0 = [h for h in range(2000) if h % crawl_cfg.n_shards == 0][:50]
    _, f1 = probe_and_update(_cands(spark, keys0, crawl_cfg), empty, crawl_cfg)
    seen_t.append(f1)
    blob0 = {r["shard"]: (bytes(r["filter_bytes"]), r["n_items"])
             for r in seen_t.read(spark).collect()}
    # round B: keys only in shard 1 — the probe must NOT emit a delta
    # row for shard 0 (no rewrite), yet the stored blob survives
    keys1 = [h for h in range(2000) if h % crawl_cfg.n_shards == 1][:50]
    current = seen_t.read(spark)
    _, f2 = probe_and_update(_cands(spark, keys1, crawl_cfg), current, crawl_cfg)
    emitted = {r["shard"] for r in f2.collect()}
    assert emitted == {1}, "untouched shards must not be re-emitted"
    seen_t.append(f2)
    blobs2 = {r["shard"]: (bytes(r["filter_bytes"]), r["n_items"])
              for r in seen_t.read(spark).collect()}
    assert blobs2[0] == blob0[0]
    assert blobs2[1][1] == 50


def test_concurrent_shard_deltas_both_survive_and_fold(spark, crawl_cfg, tmp_path):
    """The row-level lost-update the delta representation closes: two
    writers add DIFFERENT urls to the SAME shard from the same base —
    with replacement-row semantics the second commit dropped the
    first's bits; append-only deltas commute. fold_filters then
    OR-compacts to one row per shard with membership preserved."""
    from hyperion_crawler_spark.sources.tables import Catalog
    from hyperion_crawler_spark.state.seen import fold_filters

    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    # two DISTINCT writer identities (crawl + ingest daemon): a second
    # same-writer unlogged commit is a crashed attempt and is orphaned
    # by design — the concurrency story is cross-writer
    seen_t = Catalog(str(tmp_path), writer="crawl").table("seen_filters", "shard")
    seen_t2 = Catalog(str(tmp_path), writer="seed_ingest").table("seen_filters", "shard")
    s = crawl_cfg.n_shards
    a_keys = [0 * s + i * s for i in range(1, 30)]        # all shard 0
    b_keys = [i * s for i in range(100, 130)]             # all shard 0, disjoint
    _, fa = probe_and_update(_cands(spark, a_keys, crawl_cfg), empty, crawl_cfg)
    _, fb = probe_and_update(_cands(spark, b_keys, crawl_cfg), empty, crawl_cfg)
    # both writers computed against the same (empty) base, then commit
    seen_t.append(fa, base_version=0)
    seen_t2.append(fb, base_version=0)

    state = seen_t.read(spark)
    assert state.count() == 2  # two delta rows for shard 0
    both = sorted(set(a_keys) | set(b_keys))
    again, _ = probe_and_update(_cands(spark, both, crawl_cfg), state, crawl_cfg)
    assert again.count() == 0, "a writer's bits were lost"

    v = fold_filters(spark, seen_t)
    assert v is not None
    folded = seen_t.read(spark).collect()
    assert len(folded) == 1 and folded[0]["n_items"] == len(both)
    again2, _ = probe_and_update(
        _cands(spark, both, crawl_cfg), seen_t.read(spark), crawl_cfg)
    assert again2.count() == 0, "fold dropped membership"


def test_within_batch_duplicates_survive_probe(spark, crawl_cfg):
    # probe dedups ACROSS rounds only; batch dedup is the caller's
    # first-wins row_number (reference: loader.py:188-209)
    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    unseen, _ = probe_and_update(_cands(spark, [7, 7], crawl_cfg), empty, crawl_cfg)
    assert unseen.count() >= 1


def test_gc_fold_refuses_dirty_head(spark, crawl_cfg, tmp_path):
    """require_checkpointed (the CLI GC path): a crashed crawl
    attempt's seen delta at head must NOT be folded into a logged blob
    — its frontier merge never committed, so baking its bits in would
    make those URLs read seen forever while their frontier rows are
    gone (r5 review finding #1). The fold refuses on a dirty head and
    proceeds once the head is checkpointed."""
    from hyperion_crawler_spark.sources.tables import Catalog
    from hyperion_crawler_spark.state.seen import fold_filters

    empty = spark.createDataFrame([], "shard int, filter_bytes binary, n_items long")
    cat = Catalog(str(tmp_path), writer="crawl")
    seen_t = cat.table("seen_filters", "shard")
    s = crawl_cfg.n_shards

    _, f1 = probe_and_update(
        _cands(spark, [i * s for i in range(1, 20)], crawl_cfg), empty, crawl_cfg)
    v1 = seen_t.append(f1, base_version=0)
    cat.commit_round(1, {"seen_filters": v1})
    _, f2 = probe_and_update(
        _cands(spark, [i * s for i in range(50, 60)], crawl_cfg), empty, crawl_cfg)
    seen_t.append(f2, base_version=v1)  # crashed attempt: never logged

    mt = Catalog(str(tmp_path), writer="maintenance") \
        .table("seen_filters", "shard")
    assert fold_filters(spark, mt, require_checkpointed=True) is None, \
        "dirty head must refuse the maintenance fold"

    # once checkpointed, the same fold proceeds (needs >1 file: add a
    # second LOGGED delta first)
    _, f3 = probe_and_update(
        _cands(spark, [i * s for i in range(80, 90)], crawl_cfg), empty, crawl_cfg)
    v3 = seen_t.append(f3)
    cat.commit_round(2, {"seen_filters": v3})
    v4 = fold_filters(spark, mt, require_checkpointed=True)
    assert v4 is not None and v4 > v3
