"""Fetch + per-row validation — mapInPandas kernel (SURVEY §2.1 S1).

The reference's extract phase is an off-thread HTTP fetch per batch
(/root/reference/api/src/etl/krx/extractor.py:39-59 — run_in_executor +
pykrx network call). Here the "fetch" is a join against the image+
caption corpus table (the synthetic web), and the per-row validity gate
(reference: /root/reference/api/src/etl/krx/transformer.py:197-231 —
close non-null, high ≥ all, low ≤ all …) becomes the input_hint's
invariant: decoded-pixel allclose vs ground truth (PSNR ≥ 40 dB for
lossy formats, bit-exact for lossless), recomputed phash == stored
phash, and exact caption equality.

Transient failures are simulated deterministically —
``(urlhash + 131·retry_count) mod 17 == 0`` (unsigned) — so the
retry/backoff machinery (reference workflow retry blocks:
/root/reference/workflows/krx_etl_workflow.yaml:43-47,266-271) is
exercised reproducibly and the parity oracle can mirror it exactly.

Statuses: ``fetched`` (valid) / ``failed`` (transient, retryable) /
``quarantined`` (validation failure, never retried — mirrors the
reference's drop-with-warning, transformer.py:86-89).

The kernel iterates Arrow batches; pixel math is numpy. The only
per-row loop is over variable-size binary blobs (unavoidable for opaque
payloads); ``bytes`` is projected into the plan ONLY here — every other
stage prunes it (SURVEY §7 "what's hard" #4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.images import LOSSY_FMTS, decode, make_pixels, phash64, psnr_db

FETCH_OUT_SCHEMA = (
    "urlhash long, url string, host string, image_id string, retry_count int, "
    "priority double, shard int, discovered_round int, "
    "status string, psnr_db double, caption_ok boolean, phash long, caption string"
)

_CAPTION_RE = re.compile(r"^caption of (img\d{10}) in (en|ko|de|ja|fr)$")
PSNR_GATE_DB = 40.0
FAIL_MOD = 17


def transient_failure_mask(urlhash: np.ndarray, retry: np.ndarray) -> np.ndarray:
    """Deterministic simulated fetch failure (uint64 arithmetic)."""
    u = urlhash.astype(np.uint64)
    with np.errstate(over="ignore"):
        v = u + np.uint64(131) * retry.astype(np.uint64)
    return (v % np.uint64(FAIL_MOD)) == 0


def _fetch_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        status = np.empty(n, dtype=object)
        psnr = np.full(n, np.nan)
        cap_ok = np.zeros(n, dtype=bool)
        phash_out = np.zeros(n, dtype=np.int64)

        # the inner join guarantees corpus columns are non-null here —
        # these batch-wide int64 casts are safe (corpus-miss rows never
        # reach this kernel; they take the anti-join quarantine path)
        fail = transient_failure_mask(
            pdf["urlhash"].to_numpy(np.int64), pdf["retry_count"].to_numpy(np.int64)
        )
        blobs = pdf["bytes"].to_numpy(object)
        img_ids = pdf["image_id"].to_numpy(object)
        ws = pdf["w"].to_numpy(np.int64)
        hs = pdf["h"].to_numpy(np.int64)
        fmts = pdf["fmt"].to_numpy(object)
        caps = pdf["caption"].to_numpy(object)
        stored_ph = pdf["phash"].to_numpy(np.int64)

        for i in range(n):
            if fail[i]:
                status[i] = "failed"
                continue
            try:
                px = decode(bytes(blobs[i]))
            except Exception:
                status[i] = "quarantined"
                continue
            truth = make_pixels(str(img_ids[i]), int(ws[i]), int(hs[i]))
            p = psnr_db(px, truth)
            psnr[i] = p if np.isfinite(p) else 99.0
            lossy = fmts[i] in LOSSY_FMTS
            pixels_ok = (p >= PSNR_GATE_DB) if lossy else np.array_equal(px, truth)
            ph = phash64(px)
            phash_out[i] = ph
            # perceptual hashes are compared by hamming distance: lossy
            # re-encoding may flip borderline cells (≤2 tolerated);
            # lossless must match exactly
            dist = bin((ph ^ int(stored_ph[i])) & ((1 << 64) - 1)).count("1")
            phash_ok = dist <= (2 if lossy else 0)
            m = _CAPTION_RE.match(str(caps[i]))
            cap_ok[i] = bool(m and m.group(1) == str(img_ids[i]))
            status[i] = "fetched" if (pixels_ok and cap_ok[i] and phash_ok) else "quarantined"

        out = pdf[["urlhash", "url", "host", "image_id", "retry_count", "priority",
                   "shard", "discovered_round", "caption"]].copy()
        out["status"] = status
        out["psnr_db"] = psnr
        out["caption_ok"] = cap_ok
        out["phash"] = phash_out
        yield out[["urlhash", "url", "host", "image_id", "retry_count", "priority",
                   "shard", "discovered_round", "status", "psnr_db", "caption_ok",
                   "phash", "caption"]]


_MISS_COLS = ["urlhash", "url", "host", "image_id", "retry_count", "priority",
              "shard", "discovered_round"]


def _miss_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Corpus-miss rows: same transient-failure mask as the fetch kernel
    (uint64 wraparound arithmetic — kept in numpy so the bit pattern is
    identical to the hit path and the parity oracle), then quarantine."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        fail = transient_failure_mask(
            pdf["urlhash"].to_numpy(np.int64), pdf["retry_count"].to_numpy(np.int64)
        )
        out = pdf[_MISS_COLS].copy()
        out["status"] = np.where(fail, "failed", "quarantined")
        out["psnr_db"] = np.nan
        out["caption_ok"] = False
        out["phash"] = np.int64(0)
        out["caption"] = None
        yield out[["urlhash", "url", "host", "image_id", "retry_count", "priority",
                   "shard", "discovered_round", "status", "psnr_db", "caption_ok",
                   "phash", "caption"]]


BROADCAST_ROW_CAP = 20_000_000  # ~2 GB at ~100 B/row, under Spark's 8 GB/512M-row hard limit


def fetch_and_validate(scheduled: DataFrame, corpus: DataFrame,
                       row_bound: int | None = None) -> DataFrame:
    """corpus(image_id) ⨝ broadcast(scheduled) → validated results,
    plus a left-anti pass for scheduled ids absent from the corpus.

    Scale shape (the 100 TB design point): the per-round schedule is
    small (bounded by the politeness budget) and is BROADCAST; the
    corpus — which carries the BinaryType payload — is the streamed
    probe side of an inner BroadcastHashJoin, so its bytes NEVER cross
    an Exchange. (The previous ``scheduled LEFT JOIN corpus`` shape
    could not broadcast — Spark can't broadcast the left side of a
    left-outer — and planned as a sort-merge join shuffling the entire
    payload table every round.) Missing image_ids are recovered by a
    separate anti-join that projects ONLY ``image_id`` from the corpus —
    a narrow 8-byte-per-row shuffle at worst, broadcastable under AQE at
    test scale. Catalyst prunes ``bytes`` from every other stage because
    only the inner join selects it; with a bucketed corpus table
    (``read_corpus_for_schedule``) the join additionally skips every
    payload file whose bucket the round doesn't touch.

    Plan gate: tests/test_plans.py::test_fetch_plan_never_shuffles_corpus
    asserts BroadcastHashJoin + no Exchange carrying ``bytes``.

    Guard: the per-round schedule is bounded per host (politeness
    budget) but not globally — at extreme host counts an unconditional
    broadcast could blow past Spark's 8 GB / 512M-row broadcast hard
    limit and hard-fail the round. The probe is a plain distributed
    ``count()`` — map-side partial aggregation, no row movement. (A
    ``limit(cap+1).count()`` probe would be WORSE here: Catalyst plans
    it as LocalLimit → Exchange(SinglePartition) → GlobalLimit, which
    ships every surviving image_id to one task — a guaranteed
    straggler at exactly the scale the guard targets, since per-task
    rows sit far below the cap so LocalLimit prunes nothing.) Above
    ``BROADCAST_ROW_CAP`` the join falls back to a plain shuffle join
    (degrades — the payload crosses an Exchange that round — but
    completes). ``row_bound``, an upper bound on the schedule's rows
    known without a job (the round passes its frontier's manifest row
    total), skips the count when it is within the cap.
    """
    known_small = row_bound is not None and row_bound <= BROADCAST_ROW_CAP
    oversized = not known_small and scheduled.count() > BROADCAST_ROW_CAP
    build = scheduled if oversized else F.broadcast(scheduled)
    hits = corpus.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash").join(
        build, "image_id", "inner"
    )
    fetched = hits.mapInPandas(_fetch_kernel, FETCH_OUT_SCHEMA)
    misses = scheduled.join(corpus.select("image_id"), "image_id", "left_anti")
    quarantined = misses.mapInPandas(_miss_kernel, FETCH_OUT_SCHEMA)
    return fetched.unionByName(quarantined)


# ---------------------------------------------------------------------
# bucketed corpus: storage-partitioned pruning for the fetch join
# ---------------------------------------------------------------------
def corpus_bucket(image_id_col, n_buckets: int):
    """Bucket id for the corpus table layout: pmod(xxhash64(image_id), n).
    Both the writer (write_bucketed_corpus) and the reader
    (read_corpus_for_schedule) derive it from image_id, so bucket
    pruning is exact — the Iceberg ``bucket(n, image_id)`` partition
    transform analog."""
    return F.pmod(F.xxhash64(image_id_col), F.lit(n_buckets)).cast("int")


def write_bucketed_corpus(table, corpus: DataFrame, n_buckets: int) -> int:
    """Materialize the corpus into a SnapshotTable partitioned by
    ``img_bucket`` so per-round reads prune cold payload files. The
    table must be created with partition_col='img_bucket'. The bucket
    count is RECORDED IN THE SNAPSHOT META — readers derive it from the
    table, so a resume can never prune with a different modulus than
    the files were written with (which would silently mark scheduled
    URLs as corpus misses)."""
    return table.overwrite(
        corpus.withColumn("img_bucket", corpus_bucket(F.col("image_id"), n_buckets)),
        meta={"corpus_buckets": int(n_buckets)})


def corpus_bucket_count(table) -> int:
    """The bucket modulus the corpus table was written with (from its
    current snapshot meta). Raises if the table wasn't written via
    write_bucketed_corpus."""
    ver = table.current_version()
    if ver is None:
        raise ValueError(f"corpus table {table.name!r} has no committed snapshot")
    n = table._manifest(ver).get("meta", {}).get("corpus_buckets")
    if not n:
        raise ValueError(
            f"corpus table {table.name!r} carries no corpus_buckets meta — "
            f"write it with write_bucketed_corpus()")
    return int(n)


def read_corpus_for_schedule(spark, table, scheduled: DataFrame,
                             n_buckets: int | None = None) -> DataFrame:
    """Read ONLY the corpus files whose bucket appears in the schedule.

    The bucket modulus comes from the table's snapshot meta (see
    write_bucketed_corpus); passing ``n_buckets`` explicitly asserts it
    matches — a mismatch is a hard error, never silent mis-pruning.
    The bucket set is ≤ n_buckets small ints (one tiny aggregate over
    the schedule, which the round fences); file skipping happens at the
    manifest level, so a round that touches 3 of 1024 buckets reads 3
    buckets' payload files and nothing else — the 'never rescan cold
    payload files' clause of the 100 TB design."""
    stored = corpus_bucket_count(table)
    if n_buckets is not None and int(n_buckets) != stored:
        raise ValueError(
            f"corpus table {table.name!r} was bucketed with {stored} buckets "
            f"but the caller asked for {n_buckets} — refusing to mis-prune")
    buckets = [r[0] for r in scheduled.select(
        corpus_bucket(F.col("image_id"), stored).alias("b")).distinct().collect()]
    return table.read_pruned(spark, buckets)
