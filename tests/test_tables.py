"""SnapshotTable: append / merge / overwrite-partitions / time travel /
file pruning / crash invisibility."""

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hyperion_crawler_spark.sources import tables
from hyperion_crawler_spark.sources.tables import Catalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_and_time_travel(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("t1", "shard")
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "shard int, v int")
    v1 = t.append(df1)
    df2 = spark.createDataFrame([(3, 30)], "shard int, v int")
    v2 = t.append(df2)
    assert _rows(t.read(spark)) == [(1, 10), (2, 20), (3, 30)]
    assert _rows(t.read(spark, version=v1)) == [(1, 10), (2, 20)]
    assert v2 > v1


def test_merge_upsert_semantics(spark, tmp_path):
    # MERGE = ON CONFLICT DO UPDATE (reference base/loader.py:144-186)
    t = Catalog(str(tmp_path)).table("t2", "shard")
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], "k int, shard int, v string"))
    t.merge(spark, spark.createDataFrame([(2, 2, "B"), (3, 3, "c")], "k int, shard int, v string"), ["k"])
    assert _rows(t.read(spark)) == [(1, 1, "a"), (2, 2, "B"), (3, 3, "c")]


def test_merge_prunes_untouched_files(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("t3", "shard")
    big = spark.range(1000).select(
        F.pmod("id", F.lit(8)).cast("int").alias("shard"), F.col("id").alias("v"))
    t.append(big)
    files_before = {f["path"] for f in t._live_files()}
    # merge touching only shard 3
    src = spark.createDataFrame([(3, 99999)], "shard int, v long")
    t.merge(spark, src, ["v"])
    files_after = {f["path"] for f in t._live_files()}
    carried = files_before & files_after
    assert carried, "untouched shard files must be carried over, not rewritten"
    assert _rows(t.read(spark).filter("v = 99999")) == [(3, 99999)]
    assert t.read(spark).count() == 1001


def test_overwrite_partitions_replace(spark, tmp_path):
    # REPLACE = DELETE WHERE part IN (...) + insert (krx/loader.py:163-176)
    t = Catalog(str(tmp_path)).table("t4", "shard")
    t.append(spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "shard int, v int"))
    t.overwrite_partitions(spark, spark.createDataFrame([(1, 99)], "shard int, v int"), [1])
    assert _rows(t.read(spark)) == [(1, 99), (2, 20)]


def test_uncommitted_data_invisible(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("t5", "shard")
    t.append(spark.createDataFrame([(1, 1)], "shard int, v int"))
    # simulate a crash mid-write: data files exist, no manifest
    entries = t._write_data(spark.createDataFrame([(9, 9)], "shard int, v int"))
    assert entries
    assert _rows(t.read(spark)) == [(1, 1)]


def test_round_checkpoint_log(tmp_path):
    cat = Catalog(str(tmp_path))
    assert cat.last_round() is None
    cat.commit_round(0, {"frontier": 1})
    cat.commit_round(1, {"frontier": 2, "results": 1})
    assert cat.last_round() == 1
    assert cat.completed_rounds()[1]["results"] == 1


def test_merge_with_delete_keys(spark, tmp_path):
    # frontier retire path: WHEN MATCHED (delete set) THEN DELETE
    t = Catalog(str(tmp_path)).table("t6", "shard")
    t.append(spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")], "k int, shard int, v string"))
    src = spark.createDataFrame([(4, 4, "d"), (2, 2, "B")], "k int, shard int, v string")
    dels = spark.createDataFrame([(3, 3)], "k int, shard int")
    t.merge(spark, src, ["k"], delete_keys=dels)
    assert _rows(t.read(spark)) == [(1, 1, "a"), (2, 2, "B"), (4, 4, "d")]


def test_merge_delete_wins_over_source(spark, tmp_path):
    # a key in BOTH source and delete_keys is deleted, not re-inserted
    t = Catalog(str(tmp_path)).table("t7", "shard")
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], "k int, shard int, v string"))
    src = spark.createDataFrame([(2, 2, "B"), (3, 3, "c")], "k int, shard int, v string")
    dels = spark.createDataFrame([(2, 2), (3, 3)], "k int, shard int")
    t.merge(spark, src, ["k"], delete_keys=dels)
    assert _rows(t.read(spark)) == [(1, 1, "a")]


def test_merge_empty_source_carries_files_unchanged(spark, tmp_path):
    # idle round: an all-empty merge must NOT rewrite the table
    t = Catalog(str(tmp_path)).table("t8", "shard")
    t.append(spark.range(100).select(
        F.pmod("id", F.lit(4)).cast("int").alias("shard"), F.col("id").alias("v")))
    files_before = {f["path"] for f in t._live_files()}
    empty = spark.createDataFrame([], "shard int, v long")
    t.merge(spark, empty, ["v"], delete_keys=spark.createDataFrame([], "v long, shard int"))
    files_after = {f["path"] for f in t._live_files()}
    assert files_after == files_before, "empty merge rewrote live files"
    assert t.read(spark).count() == 100


def test_unpartitioned_merge_writes_only_the_batch(spark, tmp_path):
    """An unpartitioned table (the ETL loader's targets) merges like
    every other: 10 rows merged into a 1,000-row base write those 10
    rows and carry every base file, not a rewrite of the table."""
    t = Catalog(str(tmp_path)).table("u", None)
    t.append(spark.range(1000).select(F.col("id").alias("k"),
                                      F.lit("old").alias("v")))
    base = {f["path"] for f in t._live_files()}
    t.merge(spark, spark.range(995, 1005).select(
        F.col("id").alias("k"), F.lit("new").alias("v")), ["k"])
    after = t._live_files()
    assert base <= {f["path"] for f in after}, "base files must be carried"
    assert sum(f["rows"] for f in after if f["path"] not in base) == 10
    assert _rows(t.read(spark)) == [
        (k, "new" if k >= 995 else "old") for k in range(1005)]


def test_read_pruned_skips_cold_partitions(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("t9", "shard")
    t.append(spark.range(200).select(
        F.pmod("id", F.lit(8)).cast("int").alias("shard"), F.col("id").alias("v")))
    pruned = t.read_pruned(spark, [2, 5])
    assert set(r[0] for r in pruned.select("shard").distinct().collect()) == {2, 5}
    assert len(pruned.inputFiles()) < len(t.read(spark).inputFiles())
    assert t.read_pruned(spark, []).count() == 0


def test_expire_snapshots_gc(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("g1", "shard")
    t.append(spark.createDataFrame([(1, 10)], "shard int, v int"))
    t.merge(spark, spark.createDataFrame([(1, 11)], "shard int, v int"), ["v"])
    v3 = t.merge(spark, spark.createDataFrame([(2, 20)], "shard int, v int"), ["v"])
    # orphan: crashed attempt wrote data, never committed a manifest
    t._write_data(spark.createDataFrame([(9, 99)], "shard int, v int"))
    import glob as g
    n_files_before = len(g.glob(f"{t.dir}/data/**/*", recursive=True))
    stats = t.expire_snapshots(keep_last=2)
    assert stats["removed_manifests"] == [1]
    assert stats["removed_files"] > 0
    n_files_after = len(g.glob(f"{t.dir}/data/**/*", recursive=True))
    assert n_files_after < n_files_before
    # current + retained time travel still read fine
    assert _rows(t.read(spark)) == [(1, 11), (2, 20), (2, 20)] or t.read(spark).count() >= 2
    assert t.read(spark, version=v3).count() == t.read(spark).count()
    assert t.versions() == stats["retained_versions"]
    # expired version is gone, not silently wrong
    import pytest
    with pytest.raises(FileNotFoundError):
        t._manifest(1)


def test_catalog_expire_respects_round_log(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    t = cat.table("g2", "shard")
    v1 = t.append(spark.createDataFrame([(1, 1)], "shard int, v int"))
    cat.commit_round(1, {"g2": v1})
    v2 = t.merge(spark, spark.createDataFrame([(2, 2)], "shard int, v int"), ["v"])
    cat.commit_round(2, {"g2": v2})
    v3 = t.merge(spark, spark.createDataFrame([(3, 3)], "shard int, v int"), ["v"])
    cat.commit_round(3, {"g2": v3})
    stats = cat.expire(keep_rounds=2)
    # rounds 2 and 3 must stay resumable; round 1's version is expired
    assert v1 in stats["g2"]["removed_manifests"]
    assert set(stats["g2"]["retained_versions"]) == {v2, v3}
    assert cat.base_versions()["g2"] == v3
    assert t.read(spark, version=v2).count() == 2
    assert t.read(spark, version=v3).count() == 3


# ---- merge-on-read (Iceberg v2 deltas) ---------------------------------

def _file_bytes(t, entries):
    return sum(os.path.getsize(os.path.join(t.dir, f["path"])) for f in entries)


def test_mor_merge_writes_delta_not_queue(spark, tmp_path):
    # a merge on a big table must write O(changed rows), not O(table):
    # every base file is carried by reference and the new bytes are tiny
    t = Catalog(str(tmp_path)).table("m1", "shard")
    big = spark.range(100_000).select(
        F.col("id").alias("k"),
        F.pmod("id", F.lit(8)).cast("int").alias("shard"),
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    t.append(big)
    base_files = {f["path"] for f in t._live_files()}
    base_bytes = _file_bytes(t, t._live_files())
    src = spark.createDataFrame(
        [(5, 5, "UP"), (100_005, 5, "NEW")], "k long, shard int, v string")
    dels = spark.createDataFrame([(7, 7)], "k long, shard int")
    t.merge(spark, src, ["k"], delete_keys=dels)
    after = t._live_files()
    assert base_files <= {f["path"] for f in after}, "base files must be carried, not rewritten"
    delta = [f for f in after if f.get("kind") == "delta"]
    assert delta and all("seq" in f for f in delta)
    assert _file_bytes(t, delta) < base_bytes / 10, \
        f"delta bytes {_file_bytes(t, delta)} not O(changed rows) vs base {base_bytes}"
    got = t.read(spark)
    assert got.count() == 100_000  # +1 new, -1 deleted, 1 updated in place
    assert _rows(got.filter("k in (5, 7, 100005)").select("k", "v")) == \
        [(5, "UP"), (100_005, "NEW")]


def test_mor_delete_wins_and_reinsert_later(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("m2", "shard")
    t.append(spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b")], "k int, shard int, v string"))
    # same-commit source+delete on k=2 → DELETE branch wins, also when
    # the delete set names the key twice
    t.merge(spark,
            spark.createDataFrame([(2, 2, "B")], "k int, shard int, v string"),
            ["k"],
            delete_keys=spark.createDataFrame([(2, 2), (2, 2)], "k int, shard int"))
    assert _rows(t.read(spark)) == [(1, 1, "a")]
    # later commit re-inserts k=2 → newest _seq wins over the tombstone
    t.merge(spark,
            spark.createDataFrame([(2, 2, "b2")], "k int, shard int, v string"),
            ["k"])
    assert _rows(t.read(spark)) == [(1, 1, "a"), (2, 2, "b2")]


def test_mor_compaction_folds_deltas(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "COMPACT_AFTER", 3)
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)  # isolate the count trigger
    t = Catalog(str(tmp_path)).table("m3", "shard")
    t.append(spark.createDataFrame([(1, 1, "a")], "k int, shard int, v string"))
    for i in range(2, 5):  # 3 delta commits → third triggers compaction
        t.merge(spark, spark.createDataFrame(
            [(i, i % 8, f"v{i}")], "k int, shard int, v string"), ["k"])
    files = t._live_files()
    assert not any(f.get("kind") == "delta" for f in files), \
        "COMPACT_AFTER delta commits must fold into base files"
    assert "keys" not in t._manifest(t.current_version())
    assert _rows(t.read(spark)) == [
        (1, 1, "a"), (2, 2, "v2"), (3, 3, "v3"), (4, 4, "v4")]
    # explicit compact() is a no-op on a delta-free table
    assert t.compact(spark) == t.current_version()


def test_mor_idle_merge_carries_files(spark, tmp_path):
    # an unpartitioned empty write leaves a 0-row part file: the merge
    # must remove it, not orphan it
    for name, part in (("m4", "shard"), ("m4u", None)):
        t = Catalog(str(tmp_path)).table(name, part)
        t.append(spark.createDataFrame([(1, 1, "a")],
                                       "k int, shard int, v string"))
        before = {f["path"] for f in t._live_files()}
        t.merge(spark, spark.createDataFrame([], "k int, shard int, v string"),
                ["k"], delete_keys=spark.createDataFrame([], "k int, shard int"))
        assert {f["path"] for f in t._live_files()} == before
        assert _all_parquet(t) == _referenced(t), "orphan files written"


def test_merge_evaluates_its_source_once(spark, tmp_path, monkeypatch):
    """A merge into a table with live files decides fold-or-append
    from the manifest, so only its write evaluates the source: once on
    the delta path, on an idle merge whose source filters every row
    away, and on a fold. A counting UDF in the source's filter sees
    each row once."""
    from pyspark.sql.types import BooleanType

    t = Catalog(str(tmp_path)).table("once", "shard")
    t.append(spark.range(1000).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(8)).cast("int").alias("shard")))
    for keep, fold in ((True, False), (False, False), (True, True)):
        monkeypatch.setattr(tables, "COMPACT_AFTER", 2 if fold else 32)
        seen = spark.sparkContext.accumulator(0)

        def _keep(k, keep=keep, seen=seen):
            seen.add(1)
            return keep

        kept = F.udf(_keep, BooleanType()).asNondeterministic()
        src = spark.range(1000, 1010).filter(kept("id")).select(
            F.col("id").alias("k"), F.pmod("id", F.lit(8)).cast("int").alias("shard"))
        t.merge(spark, src, ["k"])
        assert seen.value == 10, f"source evaluated {seen.value / 10:g} times"
        assert fold != any(f.get("kind") == "delta" for f in t._live_files())
    assert t.read(spark).count() == 1010


def test_merge_rejects_changed_keys(spark, tmp_path):
    # readers reconcile every live delta by the head's keys, so a merge
    # under other keys would silently re-key the older deltas
    import pytest

    t = Catalog(str(tmp_path)).table("kk", "shard")
    t.append(spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("j"),
        F.pmod("id", F.lit(4)).cast("int").alias("shard")))
    one = spark.createDataFrame([(1, 0, 1)], "k long, j long, shard int")
    t.merge(spark, one, ["k"])
    ver = t.current_version()
    with pytest.raises(ValueError, match="keyed on"):
        t.merge(spark, one, ["k", "j"])
    assert t.current_version() == ver
    t.merge(spark, one, ["k"])
    t.compact(spark)  # no live deltas: new keys are free to start
    t.merge(spark, one, ["k", "j"])
    assert t.read(spark).count() == 100


def test_mor_read_pruned_reconciles(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("m5", "shard")
    t.append(spark.range(64).select(
        F.col("id").alias("k"),
        F.pmod("id", F.lit(8)).cast("int").alias("shard"),
        F.lit("old").alias("v")))
    t.merge(spark,
            spark.createDataFrame([(10, 2, "new")], "k long, shard int, v string"),
            ["k"],
            delete_keys=spark.createDataFrame([(18, 2)], "k long, shard int"))
    pruned = t.read_pruned(spark, [2])
    assert _rows(pruned.select("k", "v")) == sorted(
        [(k, "new" if k == 10 else "old") for k in range(2, 64, 8) if k != 18])


def test_mor_time_travel_and_resume_base(spark, tmp_path):
    # a redo bound to base_version must not see (and must orphan) a
    # later uncheckpointed delta
    t = Catalog(str(tmp_path)).table("m6", "shard")
    v1 = t.append(spark.createDataFrame([(1, 1, "a")], "k int, shard int, v string"))
    v2 = t.merge(spark, spark.createDataFrame(
        [(2, 2, "b")], "k int, shard int, v string"), ["k"])
    # crashed attempt: delta committed but round never checkpointed
    t.merge(spark, spark.createDataFrame(
        [(3, 3, "CRASH")], "k int, shard int, v string"), ["k"])
    # redo on v2
    v4 = t.merge(spark, spark.createDataFrame(
        [(3, 3, "redo")], "k int, shard int, v string"), ["k"], base_version=v2)
    assert _rows(t.read(spark, version=v1)) == [(1, 1, "a")]
    assert _rows(t.read(spark, version=v2)) == [(1, 1, "a"), (2, 2, "b")]
    assert _rows(t.read(spark, version=v4)) == [
        (1, 1, "a"), (2, 2, "b"), (3, 3, "redo")]


def test_mor_read_never_shuffles_base(spark, tmp_path, monkeypatch):
    """The read-side delta application must be the equality-delete plan
    (base ANTI-JOIN broadcast(delta keys) ∪ delta survivors) — at a
    10^10-row frontier the base scan must not feed a hash exchange.
    The over-threshold fallback (the same anti-join, shuffled) must
    produce the identical table."""
    cat = Catalog(str(tmp_path))
    t = cat.table("m7", "shard")
    t.append(spark.range(50_000).select(
        F.col("id").alias("k"),
        F.pmod("id", F.lit(8)).cast("int").alias("shard"),
        F.lit("old").alias("v")))
    t.merge(spark,
            spark.createDataFrame([(10, 2, "new"), (50_001, 1, "ins")],
                                  "k long, shard int, v string"),
            ["k"],
            delete_keys=spark.createDataFrame([(18, 2)], "k long, shard int"))
    fast = t.read(spark)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, \
        "delta application must broadcast, not shuffle the base"
    # fallback equivalence: no broadcast hint, and no size-driven
    # broadcast by Spark either, so the anti-join must shuffle
    monkeypatch.setattr(tables, "MOR_BROADCAST_BYTES", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        slow = t.read(spark)
        splan = slow._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in splan and "BroadcastHashJoin" not in splan
        slow_rows = sorted(map(tuple, slow.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert sorted(map(tuple, fast.collect())) == slow_rows
    assert fast.count() == 50_000  # +1 inserted, -1 deleted


def test_mor_random_ops_match_dict_model(spark, tmp_path, monkeypatch):
    """Model-based check: an arbitrary merge/delete/compact sequence on
    a merge-on-read table must equal a plain dict replay. Deterministic
    seed; covers same-commit upsert+delete, re-inserts after tombstone,
    ratio- and count-triggered compaction interleavings."""
    import random

    rng = random.Random(7)
    monkeypatch.setattr(tables, "COMPACT_AFTER", 4)
    t = Catalog(str(tmp_path)).table("mm", "shard")
    model: dict[int, str] = {}
    keyspace = list(range(40))

    def to_df(rows, schema="k int, shard int, v string"):
        return spark.createDataFrame(rows, schema)

    # seed base
    base = [(k, k % 8, f"v{k}") for k in keyspace[:20]]
    t.append(to_df(base))
    model.update({k: v for k, _, v in base})

    for step in range(12):
        ups = [(k, k % 8, f"s{step}v{k}")
               for k in rng.sample(keyspace, rng.randint(0, 5))]
        dels = [(k, k % 8) for k in rng.sample(keyspace, rng.randint(0, 3))]
        t.merge(spark, to_df(ups), ["k"],
                delete_keys=to_df(dels, "k int, shard int") if dels else None)
        del_set = {k for k, _ in dels}
        for k, _, v in ups:
            if k not in del_set:
                model[k] = v
        for k in del_set:
            model.pop(k, None)
        if step % 5 == 4:
            t.compact(spark)
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == model, f"diverged at step {step}"


def test_mor_append_after_deltas_read_ok(spark, tmp_path, monkeypatch):
    """append on a delta-carrying MoR table folds the deltas first:
    tombstones apply to the PRE-EXISTING base only, and appended rows —
    even one re-using a previously tombstoned key, or duplicating an
    upserted key — survive untouched (APPEND allows duplicates; a
    base-next-to-deltas write would have been retro-killed)."""
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)  # keep deltas live for the append
    t = Catalog(str(tmp_path)).table("ma", "shard")
    t.append(spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b")], "k int, shard int, v string"))
    t.merge(spark, spark.createDataFrame([(3, 3, "c")], "k int, shard int, v string"),
            ["k"], delete_keys=spark.createDataFrame([(2, 2)], "k int, shard int"))
    t.append(spark.createDataFrame(
        [(10, 2, "x"), (2, 2, "revived"), (3, 3, "dup")],
        "k int, shard int, v string"))
    got = _rows(t.read(spark))
    assert got == [(1, 1, "a"), (2, 2, "revived"), (3, 3, "c"),
                   (3, 3, "dup"), (10, 2, "x")]
    files = t._live_files()
    assert not any(f.get("kind") == "delta" for f in files),         "append must fold deltas so appended rows sit outside the reconcile"


def test_mor_overwrite_partitions_folds_deltas_first(spark, tmp_path, monkeypatch):
    """partition overwrite on a delta-carrying table must not resurrect
    tombstoned keys or leak _seq/_tomb columns."""
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)  # keep deltas live for the overwrite
    t = Catalog(str(tmp_path)).table("mo", "shard")
    t.append(spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (9, 1, "z")], "k int, shard int, v string"))
    t.merge(spark, spark.createDataFrame([(3, 2, "c")], "k int, shard int, v string"),
            ["k"], delete_keys=spark.createDataFrame([(9, 1)], "k int, shard int"))
    t.overwrite_partitions(
        spark, spark.createDataFrame([(5, 2, "NEW")], "k int, shard int, v string"), [2])
    out = t.read(spark)
    assert set(out.columns) == {"k", "shard", "v"}
    assert _rows(out) == [(1, 1, "a"), (5, 2, "NEW")]  # 9 stays dead; shard-2 replaced


def test_mor_duplicate_key_in_one_merge_is_deterministic(spark, tmp_path, monkeypatch):
    """Two upsert rows for the SAME key in one merge commit share
    (_seq, _tomb); the delta reconcile must pick a deterministic
    winner (max value row) — not whichever row the hash agg saw last —
    or resumes stop being bit-identical."""
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)
    for i in range(3):
        t = Catalog(str(tmp_path / f"s{i}")).table("d", "shard")
        t.append(spark.createDataFrame([(1, 1, "base")], "k int, shard int, v string"))
        dup = spark.createDataFrame(
            [(2, 2, "bb"), (2, 2, "aa"), (2, 2, "zz")], "k int, shard int, v string"
        ).repartition(8)  # spread so agg order is genuinely arbitrary
        t.merge(spark, dup, ["k"])
        got = _rows(t.read(spark).filter(F.col("k") == 2))
        assert got == [(2, 2, "zz")], got  # max value row, every run


def test_catalog_table_flags_are_order_independent(spark, tmp_path):
    """A bare cat.table('x') before the declaring call must not
    downgrade the table: partition_col/sort_cols upgrade in place; a
    conflicting partition_col re-declaration raises."""
    import pytest

    cat = Catalog(str(tmp_path))
    bare = cat.table("frontier")                      # careless first touch
    declared = cat.table("frontier", "shard", sort_cols=[F.col("v").desc()])
    assert bare is declared
    assert declared.partition_col == "shard"
    assert declared.sort_cols is not None
    with pytest.raises(ValueError, match="conflicting"):
        cat.table("frontier", "other_col")


def test_rewrite_small_files_binpacks_per_partition(spark, tmp_path):
    """Append-table maintenance: N appends × S shards leaves N·S small
    files; rewrite_small_files folds them to one per shard, preserving
    the row multiset, the per-file partition stats, and manifest meta."""
    t = Catalog(str(tmp_path)).table("a", "shard")
    for i in range(6):
        t.append(spark.createDataFrame([(s, i) for s in range(4)],
                                       "shard int, v int"),
                 meta={"upto_round": i})
    before = t._live_files()
    assert len(before) == 24
    rows_before = _rows(t.read(spark))
    v = t.rewrite_small_files(spark, small_bytes=1 << 20)
    assert v is not None
    after = t._live_files(v)
    assert len(after) == 4  # one consolidated file per shard
    stats = sorted((f["part_min"], f["part_max"]) for f in after)
    assert stats == [(0, 0), (1, 1), (2, 2), (3, 3)]
    # every entry keeps the footer row count merge's fold rule reads
    assert [f["rows"] for f in after] == [
        pq.ParquetFile(os.path.join(t.dir, f["path"])).metadata.num_rows
        for f in after]
    assert _rows(t.read(spark, version=v)) == rows_before
    # meta (e.g. fetched_srcs coverage watermark) carried forward
    assert t._manifest(v)["meta"] == {"upto_round": 5}
    # nothing left to do → no-op
    assert t.rewrite_small_files(spark, small_bytes=1 << 20) is None


def test_rewrite_small_files_skips_delta_tables_and_big_files(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)
    t = Catalog(str(tmp_path)).table("m", "shard")
    t.append(spark.createDataFrame([(1, 1, "a")], "k int, shard int, v string"))
    t.merge(spark, spark.createDataFrame([(2, 1, "b")],
                                         "k int, shard int, v string"), ["k"])
    assert any(f.get("kind") == "delta" for f in t._live_files())
    assert t.rewrite_small_files(spark, small_bytes=1 << 20) is None
    # big-file guard: files above the threshold are never rewritten
    t2 = Catalog(str(tmp_path)).table("b", "shard")
    t2.append(spark.createDataFrame([(1, 10)], "shard int, v int"))
    t2.append(spark.createDataFrame([(1, 11)], "shard int, v int"))
    assert t2.rewrite_small_files(spark, small_bytes=10) is None


def test_expire_with_rewrite_bounds_crawl_file_count(
        spark, fixture_dfs, crawl_cfg, tmp_path_factory):
    """The 10^5-round shape: periodic Catalog.expire with rewrite keeps
    append tables at O(partition values) files, and the crawl resumes
    from the consolidated snapshots with identical final state."""
    from hyperion_crawler_spark.plans.loop import run_crawl

    kw = dict(corpus=fixture_dfs["corpus"], links=fixture_dfs["links"],
              robots=fixture_dfs["robots"], seeds=fixture_dfs["seeds"])
    s_m = str(tmp_path_factory.mktemp("maint"))
    s_p = str(tmp_path_factory.mktemp("plain"))
    run_crawl(spark, s_m, crawl_cfg, n_rounds=4, **kw)
    cat = Catalog(s_m)
    cat.expire(keep_rounds=1, spark=spark, rewrite_small_bytes=32 << 20)
    run_crawl(spark, s_m, crawl_cfg, n_rounds=8, **kw)   # resumes rounds 5-8
    cat.expire(keep_rounds=1, spark=spark, rewrite_small_bytes=32 << 20)

    run_crawl(spark, s_p, crawl_cfg, n_rounds=8, **kw)   # uninterrupted control

    for tbl in ("archive", "results"):
        n_files = len(Catalog(s_m).table(tbl, None)._live_files())
        pvals = {(f.get("part_min"), f.get("part_max"))
                 for f in Catalog(s_m).table(tbl, None)._live_files()}
        assert n_files <= len(pvals), \
            f"{tbl}: {n_files} files for {len(pvals)} partition values"

    def state(store):
        out = []
        for tbl in ("frontier", "archive", "results"):
            df = Catalog(store).table(tbl, None).read(spark)
            if df is not None:
                cols = [c for c in df.columns if c != "psnr_db"]
                out.append(sorted(tuple(r) for r in df.select(*cols).collect()))
        return out

    assert state(s_m) == state(s_p), \
        "maintenance changed crawl semantics (must be content-identical)"


def test_props_survive_bare_handles(spark, tmp_path):
    """Durable table properties: a bare SnapshotTable handle (fresh
    Catalog — the maintenance-CLI shape) must recover declared
    partition_col / sorted-ness from props.json instead of silently
    downgrading the table. A props.json that still carries the old
    merge-mode and schema-evolving keys opens and drops them."""
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    cat = Catalog(str(tmp_path))
    t = cat.table("ev", "shard", sort_cols=[F.col("v").desc()])
    t.append(spark.createDataFrame([(1, 1, 5)], "k int, shard int, v int"))
    bare = SnapshotTable(str(tmp_path), "ev")
    assert bare.partition_col == "shard" and bare.sorted_declared
    # a props.json written while merging on read and evolving schemas
    # were per-table flags
    os.makedirs(tmp_path / "old")
    with open(tmp_path / "old" / "props.json", "w") as f:
        json.dump({"merge_on_read": True, "schema_evolving": True,
                   "partition_col": "shard", "sorted": False}, f)
    assert SnapshotTable(str(tmp_path), "old").partition_col == "shard"
    with open(tmp_path / "old" / "props.json") as f:
        props = json.load(f)
    assert "merge_on_read" not in props and "schema_evolving" not in props


def test_rewrite_preserves_evolved_schema_and_skips_sorted(spark, tmp_path):
    """Small-file consolidation through a BARE handle must not drop
    columns a table gained (the manifest schema's read), and must
    refuse to rewrite a sorted table whose sort exprs it can't recover
    (order-destroying)."""
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    cat = Catalog(str(tmp_path))
    t = cat.table("lin", None)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)], "k int, v string, extra double"))
    bare = SnapshotTable(str(tmp_path), "lin")
    v = bare.rewrite_small_files(spark, small_bytes=1 << 20)
    assert v is not None
    out = bare.read(spark, version=v)
    assert "extra" in out.columns, "consolidation dropped an evolved column"
    got = {r["k"]: r["extra"] for r in out.collect()}
    assert got == {1: None, 2: 9.5}

    s = cat.table("srt", "shard", sort_cols=[F.col("v").desc()])
    s.append(spark.createDataFrame([(1, 1)], "shard int, v int"))
    s.append(spark.createDataFrame([(1, 2)], "shard int, v int"))
    bare_s = SnapshotTable(str(tmp_path), "srt")
    assert bare_s.rewrite_small_files(spark, small_bytes=1 << 20) is None, \
        "bare handle must refuse to unsort a sorted table"
    # ...but the declaring handle (sort exprs known) can rewrite
    assert s.rewrite_small_files(spark, small_bytes=1 << 20) is not None


def test_mor_merge_with_nested_map_value_column(spark, tmp_path, monkeypatch):
    """The deterministic tie-break must exclude NESTED unorderable
    types (array<map>, struct-of-map), not just top-level maps."""
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)
    t = Catalog(str(tmp_path)).table("nm", "shard")
    df = spark.createDataFrame(
        [(1, 1, [{"a": "x"}])],
        "k int, shard int, tags array<map<string,string>>")
    t.append(df)
    t.merge(spark, spark.createDataFrame(
        [(2, 2, [{"b": "y"}])],
        "k int, shard int, tags array<map<string,string>>"), ["k"])
    rows = {r["k"]: r["tags"] for r in t.read(spark).collect()}
    assert rows[2] == [{"b": "y"}]  # read reconciles without AnalysisException


def test_catalog_table_sort_cols_conflict_raises(spark, tmp_path):
    import pytest

    cat = Catalog(str(tmp_path))
    cat.table("sc", "shard", sort_cols=[F.col("a").desc()])
    with pytest.raises(ValueError, match="sort_cols"):
        cat.table("sc", "shard", sort_cols=[F.col("b").asc()])
    # identical re-declaration is fine
    cat.table("sc", "shard", sort_cols=[F.col("a").desc()])


def _all_parquet(t):
    out = set()
    for dp, _dn, fns in os.walk(os.path.join(t.dir, "data")):
        out.update(os.path.relpath(os.path.join(dp, f), t.dir)
                   for f in fns if f.endswith(".parquet"))
    return out


def _referenced(t):
    out = set()
    for v in range(1, (t.current_version() or 0) + 1):
        try:
            out.update(f["path"] for f in t._manifest(v)["files"])
        except FileNotFoundError:
            pass
    return out


def test_compacting_merge_writes_no_orphan_delta(spark, tmp_path, monkeypatch):
    """r5: a merge that is going to compact (count OR ratio trigger)
    must fold the in-memory batch directly — writing delta files the
    fold commit immediately orphans is pure write amplification. After
    the fold, every parquet file on disk belongs to a committed
    manifest (no instant orphans from this commit)."""
    # ratio trigger: tiny base, one big merge lands as a delta (the
    # batch itself is not counted) → the next merge folds it
    monkeypatch.setattr(tables, "COMPACT_AFTER", 99)
    t = Catalog(str(tmp_path / "r")).table("m9", "shard")
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 2, "b")],
                                   "k int, shard int, v string"))
    assert all("rows" in f for f in t._live_files()), "row stats missing"
    t.merge(spark, spark.createDataFrame(
        [(i, i % 8, f"v{i}") for i in range(1, 10)],
        "k int, shard int, v string"), ["k"])
    assert any(f.get("kind") == "delta" for f in t._live_files())
    t.merge(spark, spark.createDataFrame([(10, 2, "v10")],
                                         "k int, shard int, v string"), ["k"])
    assert not any(f.get("kind") == "delta" for f in t._live_files())
    assert _all_parquet(t) == _referenced(t), "orphan files written"
    assert sorted(_rows(t.read(spark))) == sorted(
        [(i, i % 8, f"v{i}") for i in range(1, 11)])

    # count trigger: COMPACT_AFTER=2 → second delta commit folds, and
    # that commit too must leave no unreferenced files
    monkeypatch.setattr(tables, "COMPACT_AFTER", 2)
    monkeypatch.setattr(tables, "COMPACT_RATIO", 0)  # isolate the count trigger
    t2 = Catalog(str(tmp_path / "c")).table("m9", "shard")
    t2.append(spark.range(64).select(
        F.col("id").alias("k"),
        F.pmod("id", F.lit(8)).cast("int").alias("shard"),
        F.lit("old").alias("v")))
    t2.merge(spark, spark.createDataFrame([(1, 1, "n1")],
                                          "k long, shard int, v string"), ["k"])
    t2.merge(spark, spark.createDataFrame([(2, 2, "n2")],
                                          "k long, shard int, v string"), ["k"])
    assert not any(f.get("kind") == "delta" for f in t2._live_files())
    assert _all_parquet(t2) == _referenced(t2), "orphan files written"
    got = dict((r[0], r[2]) for r in _rows(t2.read(spark)))
    assert got[1] == "n1" and got[2] == "n2" and got[5] == "old"


def test_small_churn_over_many_shards_appends_delta(spark, tmp_path):
    """The fold rule counts rows, once, before writing: ~500 changed rows
    against a ~3,000-row base spread over 32 shards stay under
    ``COMPACT_RATIO`` and append a delta — even though 32 tiny delta
    files weigh more than 20 % of the base BYTES (per-file parquet
    overhead, not churn). No file is written and then orphaned."""
    t = Catalog(str(tmp_path)).table("m10", "shard")
    t.append(spark.range(3000).select(
        F.col("id").alias("k"),
        F.pmod("id", F.lit(32)).cast("int").alias("shard"),
        F.lit("old").alias("v")))
    base = t._live_files()
    assert len(base) == 32
    src = spark.range(0, 3000, 6).select(           # 500 keys, every shard
        F.col("id").alias("k"),
        F.pmod("id", F.lit(32)).cast("int").alias("shard"),
        F.lit("new").alias("v"))
    t.merge(spark, src, ["k"])
    delta = [f for f in t._live_files() if f.get("kind") == "delta"]
    assert delta, "sub-ratio churn must append a delta, not fold"
    assert sum(f["rows"] for f in delta) < tables.COMPACT_RATIO * 3000
    assert _file_bytes(t, delta) > tables.COMPACT_RATIO * _file_bytes(t, base)
    assert _all_parquet(t) == _referenced(t), "orphan files written"
    assert _rows(t.read(spark)) == [
        (k, k % 32, "new" if k % 6 == 0 else "old") for k in range(3000)]


_ALL_TYPES = ("k long, shard int, x double, ok boolean, s string, b binary, "
              "d date, ts timestamp, amt decimal(12,3), tags array<string>, "
              "attrs map<string,int>, st struct<a:int,b:string>")


def _typed_frame(spark):
    import datetime
    import decimal

    rows = []
    for i in range(40):
        if i % 7 == 0:  # a row of nulls in every partition value
            rows.append((i, i % 4) + (None,) * 10)
            continue
        rows.append((
            i, i % 4, i / 3, i % 2 == 0, f"s{i}", bytes([i, 0, 255]),
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            datetime.datetime(2021, 3, 4, 5, 6, 7, 890123) + datetime.timedelta(hours=i),
            decimal.Decimal(i * 1001) / 1000, [f"t{i}", None],
            {"a": i, "b": None}, (i, None if i % 3 else f"b{i}")))
    return spark.createDataFrame(rows, _ALL_TYPES)


def test_write_path_fidelity(spark, tmp_path):
    """Every column type the engine stores round-trips through the
    table write: rows read back equal, the manifest records the frame's
    schema, every file holds its row count and no footer key-value
    metadata, a partitioned write holds one file per partition value
    with exact stats, nothing but the data files lands under ``data/``,
    and an empty frame writes nothing."""
    df = _typed_frame(spark)
    cat = Catalog(str(tmp_path))
    for name, part in (("typed_p", "shard"), ("typed_u", None)):
        t = cat.table(name, part)
        t.append(df)
        assert _rows(t.read(spark)) == _rows(df)
        files = t._live_files()
        assert t._schema(t._snapshot()) == df.schema
        for f in files:
            path = os.path.join(t.dir, f["path"])
            assert pq.read_metadata(path).metadata is None
            assert f["rows"] == pq.read_metadata(path).num_rows
        assert sum(f["rows"] for f in files) == 40
        if part:
            assert sorted(f["part_min"] for f in files) == [0, 1, 2, 3]
            for f in files:
                held = pq.read_table(os.path.join(t.dir, f["path"]),
                                     columns=[part]).column(part).unique()
                assert f["part_min"] == f["part_max"] == held.to_pylist()[0]
                assert len(held) == 1
        else:
            assert all("part_min" not in f for f in files)
        data = os.path.join(t.dir, "data")
        stray = [n for _dp, dns, fns in os.walk(data) for n in dns + fns
                 if n.endswith(".crc") or n in ("_SUCCESS", "_temporary")]
        assert not stray
        listing = sorted(os.listdir(data))
        t.append(df.limit(0))
        assert t._live_files() == files
        assert sorted(os.listdir(data)) == listing


def test_widened_table_reads_old_rows_as_null_without_a_job(spark, tmp_path):
    """An append with a new column widens the schema its manifest
    records: a bare handle reads the older file's rows with null in
    that column, and building the read runs no Spark job."""
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    t = Catalog(str(tmp_path)).table("w", "shard")
    t.append(spark.createDataFrame([(1, 1)], "k int, shard int"))
    t.append(spark.createDataFrame([(2, 2, 9.5)],
                                   "k int, shard int, extra double"))
    bare = SnapshotTable(str(tmp_path), "w")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(None))
    df = bare.read(spark)
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == jobs, \
        "building the read ran a Spark job"
    assert df.columns == ["k", "shard", "extra"]
    assert _rows(df) == [(1, 1, None), (2, 2, 9.5)]


def test_append_with_a_changed_column_type_raises(spark, tmp_path):
    import pytest

    t = Catalog(str(tmp_path)).table("tc", None)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="'v'"):
        t.append(spark.createDataFrame([(2, 2)], "k int, v int"))
    assert t.versions() == [1]
    assert _all_parquet(t) == _referenced(t), "the refused append wrote files"


def test_rebased_merge_carries_a_foreign_writers_column(spark, tmp_path):
    """A merge rebased over a foreign writer's commit widens its schema
    by that commit's: the column the other writer added survives, with
    its values, next to the rows that lack it."""
    root = str(tmp_path)
    crawl = Catalog(root, writer="crawl").table("t", "shard")
    ingest = Catalog(root, writer="seed_ingest").table("t", "shard")
    v1 = crawl.append(spark.createDataFrame([(1, 1, "a")],
                                            "k int, shard int, v string"))
    ingest.merge(spark, spark.createDataFrame(
        [(2, 2, "b", 7)], "k int, shard int, v string, extra int"), ["k"])
    crawl.merge(spark, spark.createDataFrame(
        [(3, 3, "c")], "k int, shard int, v string"), ["k"], base_version=v1)
    out = crawl.read(spark)
    assert out.columns == ["k", "shard", "v", "extra"]
    assert _rows(out) == [(1, 1, "a", None), (2, 2, "b", 7), (3, 3, "c", None)]


def test_manifest_without_schema_reads_its_footers(spark, tmp_path):
    """A store written before manifests carried the schema: its data
    files hold Spark's footer schema key and its manifests no
    ``schema``. Reads take the union of the live files' footer schemas
    and return the same rows, and the next commit records the schema."""
    t = Catalog(str(tmp_path)).table("old", "shard")
    t.append(spark.createDataFrame([(1, 1)], "k int, shard int"))
    t.append(spark.createDataFrame([(2, 2, 9.5)],
                                   "k int, shard int, extra double"))
    t.merge(spark, spark.createDataFrame([(1, 1, 0.5)],
                                         "k int, shard int, extra double"), ["k"])
    assert any(f.get("kind") == "delta" for f in t._live_files())
    want = _rows(t.read(spark))
    schema = t._schema(t._snapshot())
    by_name = {f.name: f for f in schema.fields + [
        T.StructField("_seq", T.LongType()), T.StructField("_tomb", T.BooleanType())]}
    for path in _referenced(t):
        path = os.path.join(t.dir, path)
        data = pq.read_table(path)
        written = T.StructType([by_name[c] for c in data.column_names])
        pq.write_table(data.replace_schema_metadata(
            {tables._SPARK_SCHEMA_KEY: written.json()}), path)
    for v in t.versions():
        m = t._manifest(v)
        del m["schema"]
        with open(os.path.join(t.dir, "snapshots", f"v{v:06d}.json"), "w") as f:
            json.dump(m, f)
    assert t._schema(t._snapshot()) == schema
    assert _rows(t.read(spark)) == want
    v = t.append(spark.createDataFrame([(3, 3, None)],
                                       "k int, shard int, extra double"))
    assert t._manifest(v)["schema"] == schema.jsonValue()
    assert _rows(t.read(spark)) == sorted(want + [(3, 3, None)])


def test_base_versions_reads_the_round_log_once(tmp_path, monkeypatch):
    cat = Catalog(str(tmp_path))
    log = {str(r): {"frontier": r, **({"results": r} if r % 4 != 3 else {})}
           for r in range(200)}
    with open(os.path.join(cat.root, "rounds.json"), "w") as f:
        json.dump(log, f)
    calls = []
    read = Catalog.completed_rounds

    def counted(self):
        calls.append(1)
        return read(self)

    monkeypatch.setattr(Catalog, "completed_rounds", counted)
    assert cat.base_versions() == {"frontier": 199, "results": 198}
    assert len(calls) == 1
