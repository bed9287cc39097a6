"""Sharded Bloom URL-seen set — applyInPandas state kernel (SURVEY §2.9).

The reference dedups with an in-memory ``seen_keys`` set, first
occurrence wins (/root/reference/api/src/etl/base/loader.py:188-209).
At a 10^10-URL frontier an exact set is ~80 GB of raw keys — the
north_rule replaces it with a sharded Bloom filter:

* shard = ``pmod(urlhash, n_shards)`` — same key the frontier table is
  partitioned by, so the probe's shuffle co-locates with the frontier
  MERGE.
* state = bitset blobs per shard, stored as BinaryType rows in the
  ``seen_filters`` table, committed per round (checkpointable,
  resumable). The table is APPEND-ONLY DELTAS (r5): each commit adds a
  blob holding only the bits of that batch's fresh URLs, and readers
  OR-fold a shard's blobs (the probe kernel folds its cogroup rows
  natively). Bloom-bit OR is commutative and idempotent, so a crawl
  round and a concurrent seed-ingest batch writing the same shard
  commute at the file level — the snapshot store's optimistic rebase
  carries both appends and NO writer's bits are lost (the old
  read-modify-write replacement row was last-writer-wins under
  concurrency). Sparse delta blobs also compress ~100× in parquet, so
  per-round seen-state bytes are O(new URLs), not O(filter size).
  ``fold_filters`` is the maintenance op that OR-compacts each shard
  back to one row so read cost stays bounded; ``n_items`` is per-delta
  insert count — SUM over a shard's rows = total distinct inserts
  (the probe never re-inserts a seen URL).
* probe+update runs as ONE ``cogroup(...).applyInPandas`` pass:
  candidates grouped by shard meet their shard's blob; bit math is
  numpy-vectorized over the whole Arrow batch (no per-row Python).
  The kernel emits two row kinds in one output schema — surviving
  (unseen) candidates and the batch's delta filter blob — so no
  second shuffle is needed.

This table is the engine's one URL-seen state, and ``probe_and_update``
has two callers, both in plans/round.py: ``admit_seeds`` (the bootstrap
and every seed-ingest micro-batch) and ``run_round`` (link
discoveries). No module keeps a second seen set, in the streaming state
store or elsewhere: a stream's URL dedup is an ``admit_seeds`` call
against this table (tests/test_plans.py::test_one_url_admission_path).

Bloom guarantees: no false negatives ever (a seen URL is never
re-crawled); false-positive rate at the design point (10^6 keys/shard,
m=2^24, k=7) ≈ 1e-3 — a dropped-though-new URL, the standard crawl
trade-off. At test scale (hundreds of keys, m=2^20) the FPR is ~1e-25,
so exact-parity tests against the oracle are sound; an exact shadow set
(``seen_exact`` table) is additionally asserted equal in tests
(SURVEY §7 Phase 2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.hashing import bloom_positions_vec

PROBE_OUT_SCHEMA = (
    "shard int, kind string, urlhash long, url string, host string, "
    "image_id string, priority double, filter_bytes binary, n_items long"
)


def _probe_kernel(cfg: CrawlConfig):
    m, k = cfg.bloom_bits_per_shard, cfg.bloom_k

    def fn(cands: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        if len(cands) == 0:
            # shard untouched this round: emit NOTHING — appends leave
            # stored rows untouched by construction (at 2^14 shards
            # most are untouched per round)
            return pd.DataFrame(columns=["shard", "kind", "urlhash", "url", "host",
                                         "image_id", "priority", "filter_bytes", "n_items"])
        shard = int(cands["shard"].iloc[0])
        if len(state) > 0:
            # OR-fold ALL of the shard's delta blobs (append-only
            # seen state: any number of rows per shard; packed-byte
            # OR == bit OR, no unpack needed for the fold)
            packed = np.frombuffer(state["filter_bytes"].iloc[0], dtype=np.uint8).copy()
            for b in state["filter_bytes"].iloc[1:]:
                np.bitwise_or(packed, np.frombuffer(b, dtype=np.uint8), out=packed)
            bits = np.unpackbits(packed)
        else:
            bits = np.zeros(m, dtype=np.uint8)
        hashes = cands["urlhash"].to_numpy(dtype=np.int64)
        pos = bloom_positions_vec(hashes, m, k)          # (n, k)
        seen = bits[pos.astype(np.int64)].all(axis=1)    # all k bits set
        fresh = cands.loc[~seen].copy()
        fresh["kind"] = "url"
        fresh["filter_bytes"] = None
        fresh["n_items"] = np.int64(0)
        out_cols = ["shard", "kind", "urlhash", "url", "host", "image_id",
                    "priority", "filter_bytes", "n_items"]
        if len(fresh) == 0:
            return fresh[out_cols]  # no state change: no delta row
        # DELTA blob: only the fresh URLs' bits — appended, never a
        # rewrite of the folded state (commutes with concurrent writers)
        delta = np.zeros(m, dtype=np.uint8)
        delta[pos[~seen].astype(np.int64).ravel()] = 1
        filt_row = pd.DataFrame([{
            "shard": shard, "kind": "filter", "urlhash": 0, "url": None, "host": None,
            "image_id": None, "priority": 0.0,
            "filter_bytes": np.packbits(delta).tobytes(),
            "n_items": len(fresh),
        }])
        return pd.concat([fresh[out_cols], filt_row[out_cols]], ignore_index=True)

    return fn


def probe_and_update(candidates: DataFrame, filters: DataFrame | None,
                     cfg: CrawlConfig) -> tuple[DataFrame, DataFrame]:
    """Returns (unseen_candidates, new_filter_deltas).

    ``candidates`` must carry (shard, urlhash, url, host, image_id,
    priority) and be pre-deduped within the batch (first-wins — the
    kernel dedups *across* rounds only); ``filters`` None means no seen
    state yet. Both results are projections
    of one cogroup pass, fenced here with a lazy local checkpoint, so
    splitting by ``kind`` does not recompute the kernel and there is
    nothing for the caller to release. A filter row's ``n_items`` is
    the number of fresh URLs in its shard, so their sum is the unseen
    count without a scan of the unseen rows.
    """
    cand = candidates.select("shard", "urlhash", "url", "host", "image_id", "priority")
    if filters is None:
        filters = candidates.sparkSession.createDataFrame(
            [], "shard int, filter_bytes binary, n_items long")
    out = (
        cand.groupBy("shard")
        .cogroup(filters.select("shard", "filter_bytes", "n_items").groupBy("shard"))
        .applyInPandas(_probe_kernel(cfg), PROBE_OUT_SCHEMA)
    ).localCheckpoint(eager=False)
    unseen = out.filter(F.col("kind") == "url").select(
        "shard", "urlhash", "url", "host", "image_id", "priority")
    new_filters = out.filter(F.col("kind") == "filter").select("shard", "filter_bytes", "n_items")
    return unseen, new_filters


def count_new(new_filters: DataFrame) -> int:
    """Unseen-URL count of one probe, read from its filter rows."""
    return int(new_filters.agg(F.sum("n_items")).first()[0] or 0)


def _fold_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """OR all of one shard's delta blobs into a single blob (packed-
    byte OR == bit OR). n_items sums: exact for a single writer (each
    delta counts only URLs unseen against the folded state it probed);
    with concurrent writers a URL both inserted in the same window is
    counted in each delta, so the sum is an upper bound on distinct
    keys — the standard CRDT add-counter trade, fine for the FPR
    sizing heuristic n_items feeds."""
    packed = np.frombuffer(pdf["filter_bytes"].iloc[0], dtype=np.uint8).copy()
    for b in pdf["filter_bytes"].iloc[1:]:
        np.bitwise_or(packed, np.frombuffer(b, dtype=np.uint8), out=packed)
    return pd.DataFrame([{"shard": int(pdf["shard"].iloc[0]),
                          "filter_bytes": packed.tobytes(),
                          "n_items": int(pdf["n_items"].sum())}])


def fold_filters(spark, seen_table,
                 require_checkpointed: bool = False) -> int | None:
    """Maintenance: OR-compact the append-only seen_filters table back
    to ONE row per shard (the fold the probe kernel otherwise performs
    on every read). Bounds probe read cost at O(shards), not O(rounds).

    Concurrency-safe by file disjointness: the commit replaces exactly
    the files that were folded; an append that lands mid-fold is a NEW
    file, so the optimistic rebase carries it and its bits stay live
    (the delta representation makes a lost update impossible — OR is
    order-free). Returns the new version, or None if there is nothing
    to fold. Folded-away row versions remain time-travelable until
    ``Catalog.expire`` sweeps them.

    ``require_checkpointed``: refuse (return None) unless the table
    head is referenced in the round log. A MAINTENANCE caller (CLI GC)
    must set this: a store can carry a crashed crawl attempt's seen
    delta at head — bits whose frontier merge never committed. The
    crawl's own redo discipline orphans that commit on resume, but a
    fold from a different writer would bake its bits into a logged
    blob, making the crashed attempt's URLs read as seen forever while
    their frontier rows are gone — permanently lost URLs (same
    stale-head guard as ``rewrite_small_files``, ADVICE r4). The
    IN-CRAWL fold (cfg.fold_seen_every) does NOT set it: there the
    head is this round's own just-rebased append — crashed leftovers
    are already orphaned out, and a crash before this round's
    commit_round orphans the fold itself."""
    head = seen_table.current_version()
    if not head:
        return None
    if require_checkpointed:
        logged = (seen_table.log_lookup() if seen_table.log_lookup
                  else set())
        if head not in logged:
            return None  # dirty head: in-flight or crashed commits
    return seen_table.fold_files(
        spark,
        lambda df: (df.select("shard", "filter_bytes", "n_items")
                    .groupBy("shard")
                    .applyInPandas(_fold_kernel,
                                   "shard int, filter_bytes binary, n_items long")),
        {"op": "fold_filters"}, version=head)
