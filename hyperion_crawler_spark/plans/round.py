"""One crawl round — the engine's core logical plan (SURVEY §3 mapping).

round k: load frontier snapshot → filter eligible (P9) → robots +
salted per-host top-k (W2) → fetch/validate (mapInPandas over the
image+caption corpus) → link expansion → canonicalize+hash new URLs
(F17) → first-wins batch dedup (A4) → Bloom seen probe+update
(applyInPandas) → MERGE frontier / append seen_filters delta blobs /
append results + lineage → snapshot commit = checkpoint.

This replaces the reference's E→T→L HTTP round trip
(/root/reference/workflows/krx_etl_workflow.yaml:30-189 — the full row
payload is serialized as JSON between phases, its main scalability
ceiling): here data stays on executors across all stages; rows cross
node boundaries only at the two explicit shuffles (host top-k window;
seen-shard cogroup) plus the corpus join.

URLs from outside the loop — the bootstrap's seed list and every
seed-ingest micro-batch — enter through ``admit_seeds``: the same
canonicalize → seen probe → frontier MERGE steps, folded into the
round log instead of committing a round of their own.

Timeline: 1 round = 60 s of politeness budget (ROUND_SECONDS);
``next_fetch_ts`` is in these synthetic seconds. Retry backoff
``5·2^retries`` s with ≤3 retries mirrors the reference workflow
(/root/reference/workflows/krx_etl_workflow.yaml:43-47).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators.politeness import ROUND_SECONDS, schedule_round
from ..state.seen import count_new, probe_and_update
from ..functions.urls import canonicalize_df, host_expr
from .fetch import fetch_and_validate

FRONTIER_COLS = ["urlhash", "url", "host", "image_id", "shard", "priority",
                 "status", "retry_count", "next_fetch_ts", "discovered_round"]


def canonical_url_rows(raw: DataFrame, url_col: str, image_col: str, priority_col: str,
                       cfg: CrawlConfig, dedup_order: list) -> DataFrame:
    """Canonicalize → hash → shard → first-wins dedup on urlhash.

    First-wins semantics mirror the reference's batch dedup
    (/root/reference/api/src/etl/base/loader.py:188-209: first
    occurrence of the key tuple wins) with a deterministic total order
    (``dedup_order`` — priority always descends first, remaining
    tiebreaks ascend) replacing arrival order, so results are identical
    under any partitioning.

    Scale shape: canonicalization takes the JVM fast path for
    already-canonical rows (canonicalize_df); dedup is a ``min_by``
    HASH AGGREGATE on urlhash — map-side combinable, one shuffle — not
    a window (a row_number window over a mostly-unique key sorts the
    whole frontier for nothing; measured 6× slower at 2M URLs).

    ``dedup_order``: list of Columns; the FIRST must be the priority
    column (descending semantics), the rest ascending tiebreaks.
    """
    canon = canonicalize_df(raw.withColumn("url", F.col(url_col)), "url")
    keyed = canon.select(
        F.xxhash64("url").alias("urlhash"),
        F.col("url"),
        host_expr(F.col("url")).alias("host"),
        F.pmod(F.xxhash64("url"), F.lit(cfg.n_shards)).cast("int").alias("shard"),
        F.col(image_col).alias("image_id"),
        F.col(priority_col).alias("priority"),
        F.struct((-F.col(priority_col)).alias("_o0"),
                 *[c.alias(f"_o{i+1}") for i, c in enumerate(dedup_order)]).alias("_ord"),
    )
    picked = keyed.groupBy("urlhash").agg(
        F.min_by(F.struct("url", "host", "shard", "image_id", "priority"), F.col("_ord")).alias("_r")
    )
    return picked.select("urlhash", "_r.url", "_r.host", "_r.image_id", "_r.shard", "_r.priority")


def _frontier_table(cat):
    """Frontier = the priority queue, materialized SORTED within each
    shard file by (priority DESC, urlhash ASC) — Iceberg sort-order
    analog (north_rule). Sort Columns built lazily (needs a live
    SparkContext).

    A round's frontier MERGE appends O(changed-rows) delta files
    (new/retried URLs + tombstones for retired ones) instead of
    rewriting the whole pending queue — at a 10^10-row queue a rewrite
    writes 10^10 rows to change ~10^5. Deltas fold into fresh sorted
    base files when the store's compaction triggers fire, which also
    re-materializes the queue in priority order. The shard partition
    column is pmod(urlhash, n_shards) — a pure function of the merge
    key, as merge-on-read pruning requires."""
    return cat.table("frontier", "shard",
                     sort_cols=[F.col("priority").desc(), F.col("urlhash").asc()])


def _queued(unseen: DataFrame, round_idx: int) -> DataFrame:
    """Frontier rows for fresh URLs: queued, no retries, due at once,
    discovered in ``round_idx``."""
    return unseen.select(
        "urlhash", "url", "host", "image_id", "shard", "priority",
        F.lit("queued").alias("status"), F.lit(0).alias("retry_count"),
        F.lit(0).cast("long").alias("next_fetch_ts"),
        F.lit(round_idx).alias("discovered_round"),
    )


def admit_seeds(spark: SparkSession, cat, cfg: CrawlConfig, seeds: DataFrame,
                round_idx: int, marker: str | None = None) -> int:
    """Admit seed rows ``(url, image_id, priority)`` into the crawl
    state and fold the new table versions into round ``round_idx``'s
    log entry. Returns the number of URLs that were not seen before.

    The one URL-admission path from outside the crawl loop: the
    bootstrap (``init_frontier``) and every seed-ingest micro-batch
    (streaming/seed_ingest.py) call it. Canonicalize + first-wins
    dedup → Bloom probe+update against the last checkpointed seen
    filters → MERGE the unseen rows into the frontier as queued work,
    append the filter deltas (and the exact shadow when enabled) →
    ``commit_round(fold=True)``. Reads and write-bases bind to
    ``base_versions``; the fold touches only the tables written here,
    so a concurrently checkpointing crawl round keeps its versions of
    every other table. The round-log fold comes LAST: it is the
    durability point, so a crash before it replays the admission, and
    the replay adds nothing because every candidate is now seen.
    ``marker`` names an extra round-log key set to 1."""
    frontier_t = _frontier_table(cat)
    seen_t = cat.table("seen_filters", "shard")
    base = cat.base_versions()
    cand = canonical_url_rows(
        seeds, "url", "image_id", "priority", cfg, [F.col("image_id")],
    )
    current = seen_t.read(spark, version=base.get("seen_filters"))
    unseen, filters = probe_and_update(cand, current, cfg)
    versions = {
        "frontier": frontier_t.merge(spark, _queued(unseen, round_idx), ["urlhash"],
                                     base_version=base.get("frontier")),
        "seen_filters": seen_t.append(filters,
                                      base_version=base.get("seen_filters", 0)),
    }
    if cfg.exact_seen_shadow:
        versions["seen_exact"] = cat.table("seen_exact", "shard").append(
            unseen.select("urlhash", "shard"),
            base_version=base.get("seen_exact", 0))
    if marker:
        versions[marker] = 1
    # the probe's filter rows carry the fresh-URL count; the probe
    # fences its own output, so this is a scan of that fence
    n_new = count_new(filters)
    cat.commit_round(round_idx, versions, fold=True)
    return n_new


def init_frontier(spark: SparkSession, cat, cfg: CrawlConfig, seeds: DataFrame) -> dict:
    """Round-0 bootstrap: admit the crawl's seed list, all marked seen
    (a URL is 'seen' once it enters the frontier — never re-added).

    Seeds merge onto the store's current state, probed against the
    current seen filters, so a store the continuous ingest daemon
    already streamed seeds into is extended, not clobbered: the daemon
    may legally start before the crawl's first round. The round-0
    entry carries a ``_seeded`` marker so ``run_crawl`` can tell a
    bootstrapped store from one that only ever saw daemon ingestion.

    Refuses on a store with committed crawl work (a crawled round, or
    a prior bootstrap): re-seeding those is a caller bug."""
    rounds = cat.completed_rounds()
    if rounds and (max(rounds) > 0 or rounds.get(0, {}).get("_seeded")):
        raise ValueError(
            "init_frontier on a store with committed crawl rounds "
            f"(last_round={cat.last_round()}); it would re-seed the "
            "existing frontier/seen state. Resume with run_crawl, or "
            "point at a fresh store directory.")
    return {"round": 0, "seeded": admit_seeds(spark, cat, cfg, seeds, 0,
                                              marker="_seeded")}


def run_round(spark: SparkSession, cat, cfg: CrawlConfig, round_idx: int,
              corpus: DataFrame | None, links: DataFrame, robots: DataFrame,
              corpus_table=None, corpus_buckets: int = 0) -> dict:
    """Execute crawl round ``round_idx`` (≥1) and commit its snapshot.

    ``corpus`` may be a plain DataFrame (test scale), or pass
    ``corpus_table`` (a SnapshotTable partitioned by ``img_bucket``,
    written via ``fetch.write_bucketed_corpus``) + ``corpus_buckets``:
    the fetch then reads ONLY payload files whose bucket the round's
    schedule touches — manifest-level pruning of the 100 TB table."""
    frontier_t = _frontier_table(cat)
    seen_t = cat.table("seen_filters", "shard")
    results_t = cat.table("results", "round")
    lineage_t = cat.table("lineage", "round")

    timing: dict[str, float] = {}

    def _mark(label, t0):
        timing[label] = round(time.perf_counter() - t0, 2)
        return time.perf_counter()

    t_round0 = time.perf_counter()
    t = t_round0
    # bind ALL reads and write-bases to the last checkpointed versions:
    # a redo after a mid-round crash must not see (or compound) the
    # crashed attempt's uncheckpointed snapshots
    base = cat.base_versions()
    round_ts = int(round_idx * ROUND_SECONDS)
    frontier = frontier_t.read(spark, version=base.get("frontier"))
    if frontier is None:
        # fully-drained frontier (every URL terminal): the round is
        # idle but must still run — retries may be waiting in later
        # rounds after a redo, and the checkpoint must advance
        from .. import schemas as S

        frontier = spark.createDataFrame([], S.FRONTIER)
    eligible = frontier.filter(
        (F.col("status") == "queued") & (F.col("next_fetch_ts") <= round_ts)
    )

    scheduled, excluded = schedule_round(eligible, robots, cfg)
    # fences (README "Caching"): each frame below with two or more
    # readers is cut once, lazily, here; projections of a fenced frame
    # get none, and nothing is released by hand
    scheduled = scheduled.localCheckpoint(eager=False)

    if corpus_table is not None:
        from .fetch import read_corpus_for_schedule

        corpus = read_corpus_for_schedule(spark, corpus_table, scheduled,
                                          corpus_buckets or None)
    # the schedule is a subset of the frontier, so the frontier's
    # manifest rows bound it and spare the fetch its broadcast-guard count
    results = fetch_and_validate(
        scheduled, corpus,
        row_bound=frontier_t.manifest_rows(base.get("frontier")),
    ).localCheckpoint(eager=False)
    fetched = results.filter(F.col("status") == "fetched")

    # --- link expansion → new frontier candidates -------------------
    discoveries_raw = fetched.select("url").join(
        links, fetched["url"] == links["src_url"], "inner"
    ).select(
        F.col("dst_url").alias("_raw_url"),
        F.col("dst_image_id").alias("_image_id"),
        F.col("dst_priority").alias("_priority"),
        F.col("src_url").alias("_src"),
    )
    cand = canonical_url_rows(
        discoveries_raw, "_raw_url", "_image_id", "_priority", cfg,
        [F.col("_src"), F.col("_image_id")],
    ).localCheckpoint(eager=False)

    current_filters = seen_t.read(spark, version=base.get("seen_filters"))
    unseen, new_filters = probe_and_update(cand, current_filters, cfg)

    # --- frontier state transitions ----------------------------------
    # The frontier holds PENDING work only (the 10^10-scale invariant:
    # each round's MERGE cost ∝ active queue, not all-URLs-ever).
    # Terminal rows — fetched, quarantined, retry-exhausted, robots-
    # excluded — are DELETEd from the frontier and appended to the
    # append-only `archive`; the seen filter already guarantees they
    # can never re-enter.
    backoff = (F.lit(cfg.backoff_initial)
               * F.pow(F.lit(float(cfg.backoff_multiplier)), F.col("retry_count"))).cast("long")
    res_updates = results.select(
        "urlhash", "url", "host", "image_id", "shard", "priority",
        F.when(F.col("status") == "fetched", F.lit("fetched"))
         .when(F.col("status") == "quarantined", F.lit("quarantined"))
         .when(F.col("retry_count") + 1 > cfg.max_retries, F.lit("failed"))
         .otherwise(F.lit("queued")).alias("status"),
        F.when(F.col("status") == "failed", F.col("retry_count") + 1)
         .otherwise(F.col("retry_count")).alias("retry_count"),
        F.when(F.col("status") == "failed", F.lit(round_ts) + backoff)
         .otherwise(F.lit(round_ts)).cast("long").alias("next_fetch_ts"),
        "discovered_round",
    )
    excl_updates = excluded.select(
        "urlhash", "url", "host", "image_id", "shard", "priority",
        F.lit("excluded").alias("status"), "retry_count",
        "next_fetch_ts", "discovered_round",
    )
    retry_rows = res_updates.filter(F.col("status") == "queued")
    terminal_rows = (res_updates.filter(F.col("status") != "queued")
                     .unionByName(excl_updates.select(*FRONTIER_COLS)))
    # a merge reads its source and delete set once; archive_rows is
    # fenced because the merge and the archive append both read it
    frontier_merge = (
        retry_rows.select(*FRONTIER_COLS)
        .unionByName(_queued(unseen, round_idx))
    )
    archive_rows = terminal_rows.select(*FRONTIER_COLS) \
        .withColumn("archived_round", F.lit(round_idx)).localCheckpoint(eager=False)

    t = _mark("plan_build", t)

    # --- optional image near-dup pass (cfg.image_neardup_dist) ------
    # This round's fetched pHashes pair against each other AND the
    # crawl-wide (phash → first image_id) index within Hamming
    # distance N — the LAION-style image-dedup step as CRAWL STATE:
    # work per round ∝ this round's images × block collisions, never
    # a rescan of all images ever fetched. The index is merge-on-read
    # keyed by phash (O(new) delta appends); pairs are evidence rows
    # in `image_neardups`, committed inside the round checkpoint so a
    # redo reproduces them exactly.
    n_neardups = 0
    if cfg.image_neardup_dist > 0:
        from ..operators.dedup import hamming_join, hamming_pairs

        phash_t = cat.table("phash_index", "shard")
        neardups_t = cat.table("image_neardups", "round")
        new_ph = results.filter(F.col("status") == "fetched") \
            .select(F.col("image_id").alias("id"), F.col("phash").alias("h"))
        intra = hamming_pairs(new_ph, "id", "h",
                              max_dist=cfg.image_neardup_dist) \
            .select(F.col("id1").alias("image_id"),
                    F.col("id2").alias("dup_of"), "dist")
        idx_df = phash_t.read(spark, version=base.get("phash_index", 0))
        if idx_df is not None:
            # hamming_join reads (id, h) on both sides; the index
            # stores (h, shard, image_id) — present it under those
            # names
            cross = hamming_join(
                new_ph,
                idx_df.select(F.col("image_id").alias("id"), "h"),
                max_dist=cfg.image_neardup_dist,
                id_col="id", hash_col="h") \
                .withColumnRenamed("left_id", "image_id") \
                .withColumnRenamed("right_id", "dup_of")
            intra = intra.unionByName(cross)
        nd_rows = (intra.withColumn("round", F.lit(round_idx))
                   .select("image_id", "dup_of",
                           F.col("dist").cast("int").alias("dist"), "round")
                   .localCheckpoint())
        n_neardups = nd_rows.count()

    # --- commits (snapshot per table; round commit = checkpoint) ----
    from concurrent.futures import ThreadPoolExecutor

    versions = {}

    def _commit_results():
        return results_t.append(
            results.select("urlhash", "url", "host", "image_id",
                           F.lit(round_idx).alias("round"), "status",
                           "psnr_db", "caption_ok", "phash", "caption"),
            base_version=base.get("results", 0))

    def _commit_frontier():
        return frontier_t.merge(
            spark, frontier_merge, ["urlhash"],
            delete_keys=archive_rows.select("urlhash", "shard"),
            base_version=base.get("frontier"))

    def _commit_archive():
        return cat.table("archive", "shard").append(
            archive_rows, base_version=base.get("archive", 0))

    def _commit_seen():
        # append-only delta blobs (state/seen.py r5): commutes with a
        # concurrent ingest batch's append at the file level, so no
        # writer's bloom bits can be lost to a row-level last-writer-
        # wins replacement
        return seen_t.append(new_filters,
                             base_version=base.get("seen_filters", 0))

    jobs = {"results": _commit_results, "frontier": _commit_frontier,
            "archive": _commit_archive, "seen_filters": _commit_seen}
    if cfg.exact_seen_shadow:
        # opened only when on: a handle creates the table's directory
        seen_exact_t = cat.table("seen_exact", "shard")
        jobs["seen_exact"] = lambda: seen_exact_t.append(
            unseen.select("urlhash", "shard"),
            base_version=base.get("seen_exact", 0))
    if cfg.image_neardup_dist > 0:
        def _commit_phash_index():
            # first-wins: an already-indexed phash keeps its original
            # representative (source rows win on match, so restrict to
            # hashes the index hasn't seen — the left_anti keeps the
            # merge source ∝ genuinely-new hashes)
            new_idx = (results.filter(F.col("status") == "fetched")
                       .groupBy(F.col("phash").alias("h"))
                       .agg(F.min("image_id").alias("image_id"))
                       .withColumn("shard", F.pmod(F.xxhash64("h"),
                                                   F.lit(cfg.n_shards))
                                   .cast("int")))
            prior = phash_t.read(spark, version=base.get("phash_index", 0))
            if prior is not None:
                new_idx = new_idx.join(prior.select("h"), "h", "left_anti")
            return phash_t.merge(spark, new_idx.select("h", "shard", "image_id"),
                                 ["h"], base_version=base.get("phash_index", 0))

        def _commit_neardups():
            return neardups_t.append(nd_rows,
                                     base_version=base.get("image_neardups",
                                                           0))

        jobs["phash_index"] = _commit_phash_index
        jobs["image_neardups"] = _commit_neardups
    # The one barrier: a single aggregate over the union of the fences
    # the parallel commits share, which also yields the round's totals.
    # Its scan materializes results, cand, the probe output and
    # archive_rows, so every commit below only scans fences. (An
    # Observation on the results append would spare the results branch,
    # but under AQE it loses its value when an idle round's results are
    # empty. r7 note: submitting the frontier merge — the commit phase's
    # long pole — ahead of this barrier was measured and NOT kept: both
    # then compute the same un-materialized shared partitions
    # concurrently and the duplicated work beat the overlap, 6.7 → 7.7 s
    # commit phase.)
    def _is(status):
        return (F.col("status") == status).cast("long").alias(status)

    shared = (results.select(F.lit(1).alias("scheduled"), _is("fetched"), _is("failed"))
              .unionByName(cand.select(F.lit(1).alias("discovered")),
                           allowMissingColumns=True)
              .unionByName(new_filters.select(F.col("n_items").alias("new_urls")),
                           allowMissingColumns=True)
              .unionByName(archive_rows.select(F.lit(1).alias("archived")),
                           allowMissingColumns=True))
    row = shared.agg(*[F.sum(c).alias(c) for c in shared.columns]).first()
    n = {c: int(row[c] or 0) for c in shared.columns}
    # Independent tables commit IN PARALLEL: Spark schedules the jobs
    # concurrently across the executor cores a single sequential job
    # leaves idle (measured ~1.6x on the full round at sf0.1). Each
    # table still gets exactly one deterministic commit — resume/redo
    # semantics are untouched; the optimistic commit protocol makes
    # concurrent versioning safe by construction.
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = {name: pool.submit(fn) for name, fn in jobs.items()}
        for name, fut in futs.items():
            versions[name] = fut.result()
    t = _mark("commit_tables", t)
    if cfg.rescore_every:
        # Incremental fetched-source set (seen-filter pattern): each
        # round APPENDS its fetched URLs (a URL is fetched in exactly
        # one round — terminal status — so the table is a set). The
        # rescore below reads THIS small set, never the full results
        # history: the round-2 verdict's unbounded
        # `results_t.read(all rounds)` scan per rescore is gone.
        fetched_srcs_t = cat.table("fetched_srcs", "round")
        fetched_now = fetched.select(F.col("url").alias("src_url"),
                                     F.lit(round_idx).alias("round"))
        # coverage watermark: each append records the highest round it
        # covers in the manifest meta. If rescoring was disabled for
        # any earlier span (enabled mid-crawl, OR toggled off and on
        # again), the gap between the watermark and this round is
        # backfilled once from the results history — otherwise
        # known_links would silently lose those rounds' fetched URLs.
        fs_ver = base.get("fetched_srcs", 0)
        covered = 0
        if fs_ver:
            covered = (fetched_srcs_t._manifest(fs_ver)
                       .get("meta", {}).get("upto_round", 0))
        if covered < round_idx - 1 and base.get("results", 0) > 0:
            prev = results_t.read(spark, version=base.get("results", 0))
            if prev is not None:
                fetched_now = (prev.filter((F.col("status") == "fetched")
                                           & (F.col("round") > covered))
                               .select(F.col("url").alias("src_url"), "round")
                               .unionByName(fetched_now))
        versions["fetched_srcs"] = fetched_srcs_t.append(
            fetched_now, meta={"upto_round": round_idx}, base_version=fs_ver)
    if cfg.rescore_every and round_idx % cfg.rescore_every == 0:
        # PageRank priority re-scoring over the ENGINE-KNOWN link graph
        # (edges whose src this crawl has fetched). Committed as part of
        # THIS round's checkpoint: a crash before commit_round orphans
        # the rescored snapshot and the redo reproduces it exactly.
        from ..operators.graph import rescore_frontier_delta

        fetched_srcs = fetched_srcs_t.read(
            spark, version=versions["fetched_srcs"])
        if fetched_srcs is None:
            fetched_srcs = spark.createDataFrame([], "src_url string, round int")
        known_links = links.join(fetched_srcs.select("src_url").distinct(), "src_url")
        fr_now = frontier_t.read(spark, version=versions["frontier"])
        if fr_now is not None:
            # Commit ONLY the rows the blend moved, through the
            # merge-on-read frontier merge — O(known-graph) delta
            # bytes per rescore instead of rewriting the whole
            # pending queue (a 10^10-row table must not be rewritten
            # to change the graph-adjacent slice). Compaction re-sorts
            # the queue as usual.
            moved = rescore_frontier_delta(
                fr_now, known_links, iters=2, weight=cfg.rescore_weight
            ).select(*FRONTIER_COLS)
            versions["frontier"] = frontier_t.merge(
                spark, moved, ["urlhash"], base_version=versions["frontier"])
        t = _mark("rescore_priority", t)
    if cfg.fold_seen_every and round_idx % cfg.fold_seen_every == 0:
        # OR-compact the append-only seen deltas back to one blob per
        # shard (state/seen.py) so the probe's read stays O(shards).
        # Committed inside THIS round's checkpoint: a crash before
        # commit_round orphans the folded snapshot and the redo
        # reproduces it (fold of the same deltas is deterministic).
        from ..state.seen import fold_filters

        fv = fold_filters(spark, seen_t)
        if fv is not None:
            versions["seen_filters"] = fv
        t = _mark("fold_seen", t)
    # task-log timing (reference CrawlerTaskLog start/end/execution_time,
    # api/src/models/task_log.py:21-23): one lineage row per round with
    # its totals, wall time and the per-phase seconds measured so far,
    # built JVM-side (no Python task). Lineage is operational telemetry
    # — it is NOT part of the bit-identical resume contract (test_resume
    # compares frontier/archive/seen/results, never lineage).
    import json as _json

    exec_time = round(time.perf_counter() - t_round0, 3)
    lineage_row = spark.range(1).select(
        F.lit(round_idx).alias("round"),
        F.lit("success").alias("status"),
        *[F.lit(v).cast("long").alias(c) for c, v in (
            ("urls_scheduled", n["scheduled"]), ("fetched", n["fetched"]),
            ("failed", n["failed"]), ("deduped", n["discovered"] - n["new_urls"]))],
        F.lit(float(exec_time)).alias("execution_time"),
        F.lit(_json.dumps({"round": round_idx, "phase_seconds": timing},
                          sort_keys=True)).alias("params"))
    versions["lineage"] = lineage_t.append(lineage_row, base_version=base.get("lineage", 0))
    t = _mark("write_lineage", t)
    cat.commit_round(round_idx, versions)
    out = {
        "round": round_idx, "scheduled": n["scheduled"], "fetched": n["fetched"],
        "failed": n["failed"], "discovered": n["discovered"], "new_urls": n["new_urls"],
        "deduped": n["discovered"] - n["new_urls"], "timing": timing,
    }
    if cfg.image_neardup_dist > 0:
        out["image_neardups"] = n_neardups
    return out
