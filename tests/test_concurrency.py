"""Optimistic-commit protocol (sources/tables.py): conflicting
snapshot commits from two writers must BOTH survive (Iceberg
retry/rebase semantics), while a crashed same-writer attempt's
uncheckpointed commits stay orphaned (the redo discipline). Closes the
round-4 verdict's lost-update finding ("What's wrong" #1)."""

import threading

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from hyperion_crawler_spark.config import CrawlConfig
from hyperion_crawler_spark.sources import tables
from hyperion_crawler_spark.sources.tables import Catalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_forced_version_collision_both_merges_survive(spark, tmp_path):
    """The exact race the daemon invites: two writers read the same
    head, both compute a merge, both target version head+1. The loser's
    exclusive manifest create raises CommitConflict and its retry
    rebases on the winner's commit — neither update is lost (before the
    fix, the second os.rename silently replaced the first manifest and
    orphaned its delta)."""
    root = str(tmp_path / "store")
    t1 = Catalog(root, writer="crawl").table("t", "shard")
    t2 = Catalog(root, writer="seed_ingest").table("t", "shard")
    base = spark.createDataFrame([(1, 1, "a"), (2, 2, "b")],
                                 "k int, shard int, v string")
    t1.append(base)

    src1 = spark.createDataFrame([(2, 2, "B"), (3, 3, "c")],
                                 "k int, shard int, v string")
    src2 = spark.createDataFrame([(4, 4, "d")], "k int, shard int, v string")

    # force the collision deterministically: the instant t1's merge
    # tries to commit, t2's whole merge sneaks in and takes the version
    state = {"fired": False}
    orig = t1._commit

    def racing_commit(files, meta=None, keys=None, ver=None, **kw):
        if not state["fired"]:
            state["fired"] = True
            t2.merge(spark, src2, ["k"])
        return orig(files, meta=meta, keys=keys, ver=ver, **kw)

    t1._commit = racing_commit
    t1.merge(spark, src1, ["k"])
    t1._commit = orig

    assert state["fired"]
    final = _rows(t1.read(spark))
    assert final == [(1, 1, "a"), (2, 2, "B"), (3, 3, "c"), (4, 4, "d")]
    # both writers' manifests exist with distinct versions
    assert t1.versions() == [1, 2, 3]


def test_stale_base_merge_carries_foreign_commit(spark, tmp_path):
    """A writer binding to an older base (the round-log discipline)
    must carry a foreign commit that landed since — the daemon's delta
    is not orphaned by the crawl's base_version-pinned merge."""
    root = str(tmp_path / "store")
    t_crawl = Catalog(root, writer="crawl").table("t", "shard")
    t_ingest = Catalog(root, writer="seed_ingest").table("t", "shard")
    v1 = t_crawl.append(spark.createDataFrame([(1, 1, "a")],
                                              "k int, shard int, v string"))
    # daemon commits on top of v1
    t_ingest.merge(spark, spark.createDataFrame(
        [(2, 2, "seed")], "k int, shard int, v string"), ["k"])
    # crawl merges still bound to v1 (its round started before)
    t_crawl.merge(spark, spark.createDataFrame(
        [(3, 3, "crawl")], "k int, shard int, v string"), ["k"],
        base_version=v1)
    assert _rows(t_crawl.read(spark)) == [
        (1, 1, "a"), (2, 2, "seed"), (3, 3, "crawl")]


def test_crashed_attempt_still_orphaned(spark, tmp_path):
    """Redo exactness is preserved: a SAME-writer commit that never
    reached the round log (a crashed attempt) is dropped by the rebase,
    while the same version WOULD be carried had it been logged."""
    root = str(tmp_path / "store")
    cat = Catalog(root, writer="crawl")
    t = cat.table("t", "shard")
    v1 = t.append(spark.createDataFrame([(1, 10)], "shard int, v int"))
    cat.commit_round(1, {"t": v1})
    # crashed attempt: appended but never checkpointed
    t.append(spark.createDataFrame([(2, 99)], "shard int, v int"),
             base_version=v1)
    # redo the round bound to the checkpointed base
    t.append(spark.createDataFrame([(2, 20)], "shard int, v int"),
             base_version=v1)
    assert _rows(t.read(spark)) == [(1, 10), (2, 20)]  # 99 orphaned


def test_logged_same_writer_commit_is_carried(spark, tmp_path):
    """The counterpart: a same-writer commit that IS in the round log
    (e.g. a daemon fold of an earlier batch) is durable and must be
    carried by a later rebase from an older base."""
    root = str(tmp_path / "store")
    cat = Catalog(root, writer="crawl")
    t = cat.table("t", "shard")
    v1 = t.append(spark.createDataFrame([(1, 10)], "shard int, v int"))
    cat.commit_round(1, {"t": v1})
    v2 = t.append(spark.createDataFrame([(2, 20)], "shard int, v int"))
    cat.commit_round(2, {"t": v2})          # durable
    t.append(spark.createDataFrame([(3, 30)], "shard int, v int"),
             base_version=v1)               # old base, logged v2 carried
    assert _rows(t.read(spark)) == [(1, 10), (2, 20), (3, 30)]


def test_commit_round_fold_under_lock(tmp_path):
    """fold=True merges only the caller's tables into the round entry
    (the daemon's shape) — a concurrently-committed version of another
    table is never clobbered."""
    cat = Catalog(str(tmp_path), writer="crawl")
    cat.commit_round(3, {"frontier": 5, "results": 7})
    cat.commit_round(3, {"frontier": 6}, fold=True)
    assert cat.completed_rounds()[3] == {"frontier": 6, "results": 7}
    cat.commit_round(3, {"frontier": 9, "archive": 2})   # replace form
    assert cat.completed_rounds()[3] == {"frontier": 9, "archive": 2}


def _write_seeds(d, name, urls):
    import os

    os.makedirs(d, exist_ok=True)
    t = pa.table({
        "url": pa.array(urls, pa.string()),
        "image_id": pa.array([f"s{i}" for i in range(len(urls))], pa.string()),
        "priority": pa.array([0.05] * len(urls), pa.float64()),
    })
    pq.write_table(t, os.path.join(d, name))


def test_daemon_concurrent_with_crawl_rounds(spark, tmp_path, fixture_dfs,
                                             crawl_cfg):
    """Round-4 verdict 'Next round' #7: the continuous ingest daemon
    runs WHILE run_crawl executes rounds in the same process (before
    the optimistic protocol, whoever committed second silently dropped
    the other's frontier delta). Invariant checked: the final
    frontier ∪ archive URL set equals the sequential reference run's
    (crawl first, then a drain of the same seeds) — no update lost in
    either direction. Row-level crawl state (retry counts, rounds) is
    interleave-dependent by design; the URL-seen/identity SET is not."""
    import time

    from hyperion_crawler_spark.plans.loop import run_crawl
    from hyperion_crawler_spark.streaming.seed_ingest import (
        ingest_seed_stream,
        start_seed_ingest_daemon,
    )

    def _url_set(root):
        cat = Catalog(root)
        out = set()
        for name in ("frontier", "archive"):
            df = cat.table(name).read(spark)
            if df is not None:
                out.update(r[0] for r in df.select("urlhash").collect())
        return out

    seeds = [f"https://seed-host-{i % 3}.external/doc/{i}" for i in range(24)]

    # --- interleaved run: daemon up first, seeds drop mid-crawl
    store_i = str(tmp_path / "interleaved")
    seed_dir = str(tmp_path / "seeds")
    _write_seeds(seed_dir, "b0.parquet", seeds[:8])
    daemon_cat = Catalog(store_i, writer="seed_ingest")
    q, totals = start_seed_ingest_daemon(
        spark, daemon_cat, crawl_cfg, seed_dir,
        str(tmp_path / "ckpt_i"), processing_time="1 seconds")
    try:
        crawl_err = []

        def _crawl():
            try:
                run_crawl(spark, store_i, crawl_cfg,
                          corpus=fixture_dfs["corpus"],
                          links=fixture_dfs["links"],
                          robots=fixture_dfs["robots"],
                          seeds=fixture_dfs["seeds"], n_rounds=3)
            except Exception as e:  # surfaced after join
                crawl_err.append(e)

        th = threading.Thread(target=_crawl)
        th.start()
        _write_seeds(seed_dir, "b1.parquet", seeds[8:16])
        time.sleep(2)
        _write_seeds(seed_dir, "b2.parquet", seeds[16:])
        th.join(timeout=600)
        assert not th.is_alive() and not crawl_err, crawl_err
        deadline = time.monotonic() + 120
        while totals["batches"] < 2 and time.monotonic() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    # drain any seed files the daemon didn't get to before stop
    ingest_seed_stream(spark, daemon_cat, crawl_cfg, seed_dir,
                       str(tmp_path / "ckpt_i"))

    # --- sequential reference: same crawl, then the same seeds
    store_s = str(tmp_path / "sequential")
    run_crawl(spark, store_s, crawl_cfg, corpus=fixture_dfs["corpus"],
              links=fixture_dfs["links"], robots=fixture_dfs["robots"],
              seeds=fixture_dfs["seeds"], n_rounds=3)
    ingest_seed_stream(spark, Catalog(store_s, writer="seed_ingest"),
                       crawl_cfg, seed_dir, str(tmp_path / "ckpt_s"))

    inter, seq = _url_set(store_i), _url_set(store_s)
    # no update lost in either direction, and the 24 externally-
    # ingested seeds (the rows the old protocol could silently drop)
    # are all present
    assert inter == seq
    assert len(inter) >= 24


def test_insert_strict_concurrent_conflict_rolls_back(spark, tmp_path):
    """Two racing INSERTs with overlapping keys: exactly one commits,
    the loser detects the interleaved conflict, rolls its append back
    file-exactly, and raises — no duplicate keys survive (r5 review:
    the old probe-then-append let both pass)."""
    import threading

    from hyperion_crawler_spark.sources.tables import Catalog

    t1 = Catalog(str(tmp_path), writer="w1").table("t", None)
    t2 = Catalog(str(tmp_path), writer="w2").table("t", None)
    base = spark.createDataFrame([(1, "seed")], "k int, v string")
    t1.append(base)

    a = spark.createDataFrame([(2, "a"), (3, "a")], "k int, v string")
    b = spark.createDataFrame([(3, "b"), (4, "b")], "k int, v string")

    # deterministic interleaving: both probe the same head, then both
    # append — simulate by probing via insert_strict on thread 2 while
    # thread 1 has already committed between t2's probe and append.
    # Simplest deterministic form: commit a AFTER t2 reads head but
    # BEFORE t2's append — achieved by monkeypatching t2.append to
    # inject t1's commit first.
    orig_append = type(t2).append
    injected = {"done": False}

    def racing_append(self, df, meta=None, base_version=None):
        if not injected["done"]:
            injected["done"] = True
            orig_append(t1, a)                     # the interleaver
        return orig_append(self, df, meta=meta, base_version=base_version)

    t2.append = racing_append.__get__(t2)
    try:
        import pytest as _pytest
        with _pytest.raises(ValueError, match="INSERT conflict"):
            t2.insert_strict(spark, b, ["k"])
    finally:
        t2.append = orig_append.__get__(t2)

    rows = sorted((r["k"], r["v"]) for r in t1.read(spark).collect())
    assert rows == [(1, "seed"), (2, "a"), (3, "a")], rows
    # non-conflicting concurrent insert still lands (same interleave,
    # disjoint keys)
    injected["done"] = False
    c = spark.createDataFrame([(10, "c")], "k int, v string")
    d = spark.createDataFrame([(11, "d")], "k int, v string")

    def racing_append2(self, df, meta=None, base_version=None):
        if not injected["done"]:
            injected["done"] = True
            orig_append(t1, c)
        return orig_append(self, df, meta=meta, base_version=base_version)

    t2.append = racing_append2.__get__(t2)
    try:
        t2.insert_strict(spark, d, ["k"])
    finally:
        t2.append = orig_append.__get__(t2)
    ks = sorted(r["k"] for r in t1.read(spark).collect())
    assert ks == [1, 2, 3, 10, 11]


def test_overwrite_refuses_to_bury_foreign_commit(spark, tmp_path):
    """Round-5 verdict 'What's wrong' #1: a whole-table overwrite that
    would silently drop a FOREIGN writer's commit (landed after the
    overwriter's entry point) raises ForeignOverwriteError instead of
    last-writer-wins; replacing the caller's OWN interleaved commits
    stays allowed (that's what overwrite means)."""
    import pytest as _pytest

    from hyperion_crawler_spark.sources.tables import (Catalog,
                                                       ForeignOverwriteError)

    t1 = Catalog(str(tmp_path), writer="crawl").table("t", None)
    t2 = Catalog(str(tmp_path), writer="daemon").table("t", None)
    read_ver = t1.overwrite(
        spark.createDataFrame([(1, "a")], "k int, v string"))

    # t1 derived its replacement from read_ver; a foreign commit lands
    # before the overwrite reaches the store → refuse
    t2.append(spark.createDataFrame([(2, "daemon")], "k int, v string"))
    with _pytest.raises(ForeignOverwriteError, match="bury foreign"):
        t1.overwrite(spark.createDataFrame([(9, "x")], "k int, v string"),
                     base_version=read_ver)
    rows = sorted((r["k"], r["v"]) for r in t1.read(spark).collect())
    assert rows == [(1, "a"), (2, "daemon")]       # nothing was buried

    # same writer replacing its own chain of commits is fine
    t1.append(spark.createDataFrame([(3, "mine")], "k int, v string"))
    v = t1.overwrite(spark.createDataFrame([(9, "x")], "k int, v string"))
    assert [tuple(r) for r in t1.read(spark).collect()] == [(9, "x")]

    # losing the race mid-overwrite to a foreign writer also refuses:
    # inject the foreign commit at t1's commit instant
    state = {"fired": False}
    orig = t1._commit

    def racing_commit(files, meta=None, keys=None, ver=None, **kw):
        if not state["fired"]:
            state["fired"] = True
            t2.append(spark.createDataFrame([(5, "late")],
                                            "k int, v string"))
        return orig(files, meta=meta, keys=keys, ver=ver, **kw)

    t1._commit = racing_commit
    try:
        with _pytest.raises(ForeignOverwriteError):
            t1.overwrite(spark.createDataFrame([(8, "y")],
                                               "k int, v string"))
    finally:
        t1._commit = orig
    assert state["fired"]
    rows = sorted((r["k"], r["v"]) for r in t1.read(spark).collect())
    assert rows == [(5, "late"), (9, "x")]


def test_fold_defers_on_foreign_unlogged_delta(spark, tmp_path, monkeypatch):
    """Closing the r5 known limit: a fold (merge-triggered or explicit
    compact) must not bake a delta committed by ANOTHER writer in an
    unlogged version — that delta may be a crashed attempt's leftovers
    whose redo would then double-apply. The merge defers (keeps
    appending deltas) and compact raises; once the foreign version is
    round-logged, folding resumes."""
    import pytest as _pytest

    from hyperion_crawler_spark.sources.tables import (Catalog,
                                                       ForeignDeltaPending)

    cat_a = Catalog(str(tmp_path), writer="crawl")
    cat_b = Catalog(str(tmp_path), writer="daemon")
    monkeypatch.setattr(tables, "COMPACT_AFTER", 2)
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)   # isolate the count trigger
    ta = cat_a.table("t", "shard")
    tb = cat_b.table("t", "shard")

    base = spark.createDataFrame([(1, 1, "a"), (2, 2, "b")],
                                 "k int, shard int, v string")
    v1 = ta.append(base)
    cat_a.commit_round(1, {"t": v1})

    # crawl commits a delta and CRASHES before logging it
    v2 = ta.merge(spark, spark.createDataFrame(
        [(3, 3, "crashed")], "k int, shard int, v string"), ["k"])
    assert any(f.get("kind") == "delta" for f in ta._live_files(v2))

    # daemon's merge would hit COMPACT_AFTER=2 — must DEFER the fold
    v3 = tb.merge(spark, spark.createDataFrame(
        [(4, 4, "daemon")], "k int, shard int, v string"), ["k"])
    assert any(f.get("kind") == "delta" for f in tb._live_files(v3)), \
        "fold must defer while a foreign unlogged delta is live"

    # explicit maintenance compact from the daemon refuses outright
    with _pytest.raises(ForeignDeltaPending, match="unlogged foreign"):
        tb.compact(spark)

    # reads still reconcile correctly through the deferred deltas
    rows = sorted((r["k"], r["v"]) for r in tb.read(spark).collect())
    assert rows == [(1, "a"), (2, "b"), (3, "crashed"), (4, "daemon")]

    # the crawl checkpoints its round → its version becomes durable →
    # the daemon's next fold proceeds and bakes everything
    cat_a.commit_round(2, {"t": v2})
    cat_b.commit_round(2, {"t": v3}, fold=True)
    v4 = tb.compact(spark)
    assert not any(f.get("kind") == "delta" for f in tb._live_files(v4))
    rows = sorted((r["k"], r["v"]) for r in tb.read(spark).collect())
    assert rows == [(1, "a"), (2, "b"), (3, "crashed"), (4, "daemon")]

    # same-writer unlogged deltas still fold freely (the crawl's own
    # in-round compaction path) — only FOREIGN unlogged defers
    v5 = ta.merge(spark, spark.createDataFrame(
        [(5, 5, "own1")], "k int, shard int, v string"), ["k"])
    v6 = ta.merge(spark, spark.createDataFrame(
        [(6, 6, "own2")], "k int, shard int, v string"), ["k"])
    assert not any(f.get("kind") == "delta" for f in ta._live_files(v6)), \
        "own unlogged deltas must still hit the COMPACT_AFTER fold"
