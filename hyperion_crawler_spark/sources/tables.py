"""Snapshot-committing table store: Iceberg-semantics over parquet.

The sandbox has no Iceberg jars, so this module implements the subset of
Iceberg behavior the engine needs behind a stable interface (SURVEY §7
Phase 3 fallback): immutable snapshot manifests, atomic commits,
MERGE INTO with file-level partition pruning, partition overwrite, and
time travel — on a real cluster the same call sites bind to
``df.writeTo(tbl)`` / ``MERGE INTO`` and nothing above this layer
changes.

Layout per table::

    <root>/<name>/data/commit-<id>/[_pv=<v>/]part-*.parquet  # written once
    <root>/<name>/snapshots/v<ver>.json                     # exclusive link
    <root>/<name>/props.json                 # partition column, sortedness

A manifest lists live files plus per-file min/max stats of the table's
partition column and row counts, both reported by the task that wrote
the file (the analog of Iceberg manifest file stats), and the table's
schema as Spark ``StructType`` JSON (Iceberg keeps it in its table
metadata). Every read passes that schema to Spark, so no read infers a
schema from file footers, which hold no key-value metadata, and a file
written before a column was added reads it as null. A write whose frame
has new columns widens the schema by union; a column whose type changes
is an error. Every
``merge`` is merge-on-read (Iceberg v2): it appends one delta batch of
upserts and delete-key tombstones and carries every base file by
reference; readers reconcile newest-wins per key, and a churn- or
count-triggered fold rewrites base files. This is what keeps a
per-round MERGE from rewriting a 10^10-row frontier (SURVEY §7 "what's
hard" #3).

Crash safety: data files are written first, the manifest link is the
commit point. The write tasks create each data file at its final path
in a fresh commit directory with pyarrow (no Hadoop output committer,
``_temporary`` rename, ``_SUCCESS`` marker or ``.crc`` side file): no
reader can see a file until a manifest names it. A kill between the
two, or a failed task attempt, leaves orphan data that no manifest
references — invisible to readers, so resume sees the last complete
snapshot (north_rule checkpoint clause), and ``expire_snapshots``
sweeps it. Mirrors the
reference's commit-or-rollback batching
(/root/reference/api/src/etl/krx/loader.py:139-161: commit per batch,
rollback on error).

Sink-mode parity with the reference (LoadMode INSERT/UPDATE/UPSERT/
REPLACE/APPEND — /root/reference/api/src/etl/base/loader.py:15-21):
``append`` = INSERT/APPEND, ``merge`` = UPSERT (ON CONFLICT DO UPDATE,
base/loader.py:144-186), ``overwrite_partitions`` = REPLACE
(DELETE WHERE ... then insert, krx/loader.py:163-176).
"""

from __future__ import annotations

import contextlib
import errno
import itertools
import json
import os
import time
import uuid
from urllib.parse import quote

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow.compute import run_end_encode
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Merge-on-read tuning, shared by every table (tests monkeypatch these).
# A merge folds its deltas into fresh base files once the on-disk
# pending delta rows reach COMPACT_RATIO of the base rows, or once it
# would be the COMPACT_AFTER-th live delta commit (see _merge_delta);
# 0 disables a trigger.
COMPACT_RATIO = 0.2
COMPACT_AFTER = 32
# Broadcast ceiling for the read-side delta application (the Iceberg
# equality-delete plan); above it _reconcile's anti-join shuffles.
# Parquet bytes, not rows — on an object store the manifest
# would carry sizes, here the local stat is exact.
MOR_BROADCAST_BYTES = 256 << 20


class CommitConflict(Exception):
    """A concurrent writer committed the snapshot version this commit
    targeted (the manifest's exclusive-create lost the race). Callers
    re-read the new head, rebase their file list, and retry — the
    Iceberg optimistic-commit protocol. Never escapes the public ops;
    raised/caught inside their retry loops."""


class ForeignOverwriteError(Exception):
    """``overwrite`` detected a commit by a DIFFERENT writer between
    the caller's entry point and the head — replacing the table now
    would silently bury that writer's data, and replace semantics
    offer no rebase rule to carry it. NOT retryable (deliberately not
    a ``CommitConflict``): the caller must re-derive from the new
    head or switch to ``merge``."""


class ForeignDeltaPending(Exception):
    """A fold/compaction would bake in a delta committed by a
    DIFFERENT writer in a version absent from the round log. That
    delta is either in-flight (its writer will checkpoint it soon) or
    a crashed attempt's leftovers (its writer's redo will orphan it on
    resume) — and a fold cannot tell which. Baking it makes it
    un-orphanable: the redo then re-applies the same rows on top of
    the folded copy (the ``_rebased_files`` known-limit window, closed
    by this guard). Callers either defer the fold (merge keeps
    appending deltas) or wait for the foreign writer to checkpoint."""


def _write_json_tmp(path: str, obj) -> str:
    """Write ``obj`` durably to a fresh tmp file next to ``path``."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _atomic_write_json(path: str, obj) -> None:
    os.rename(_write_json_tmp(path, obj), path)


def _exclusive_write_json(path: str, obj) -> None:
    """Write ``obj`` to ``path`` failing with CommitConflict if the
    path already exists: write a tmp file, then ``os.link`` it into
    place — link is atomic AND exclusive (unlike ``os.rename``, which
    silently replaces), so exactly one of two racing committers wins
    and the loser learns it lost. This is the commit point of every
    snapshot version."""
    tmp = _write_json_tmp(path, obj)
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise CommitConflict(path) from e
    finally:
        os.unlink(tmp)


# The footer key holding the Spark schema of files written before
# manifests carried the table schema (see SnapshotTable._schema).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# Buffered bytes per row group: Spark's parquet block size.
_ROW_GROUP_BYTES = 128 << 20


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable: the type a parquet read
    returns, whatever the writer declared."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType))
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _widen(schema: T.StructType, written: T.StructType) -> T.StructType:
    """``schema`` with the columns of ``written`` it lacks appended, as
    Iceberg's add-column schema update does (every column nullable,
    which is what a parquet read returns). A column both hold with
    different types raises ``ValueError``."""
    written = _nullable(written)
    have = {f.name: f.dataType for f in schema.fields}
    for f in written.fields:
        if f.name in have and have[f.name] != f.dataType:
            raise ValueError(
                f"column {f.name!r} has type {have[f.name].simpleString()} "
                f"in the table and {f.dataType.simpleString()} in the write")
    return T.StructType(schema.fields
                        + [f for f in written.fields if f.name not in have])


def _project(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df`` as the columns of ``schema``, null where ``df`` lacks one."""
    return df.select(*[
        (F.col(f.name).cast(f.dataType) if f.name in df.columns
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields])


# What the write kernel yields per file.
_WRITTEN = pa.schema([("path", pa.string()), ("rows", pa.int64()),
                      ("pv", pa.int64())])


def _file_writer(table_dir: str, commit_dir: str, part_col: str | None,
                 with_stats: bool):
    """``mapInArrow`` kernel for ``SnapshotTable._write_data``: its
    input is sorted by ``part_col`` within the task, and each run of
    one value is written as one snappy parquet file
    ``<commit_dir>/_pv=<value>/part-<partition>-<attempt>.parquet``
    (``part_col`` None: one file per task in ``commit_dir``). Yields
    one ``(path, rows, pv)`` row per file, the path relative to
    ``table_dir``, and ``pv`` the partition value when ``with_stats``
    (an integral partition column), else null. Names carry the task's
    attempt id, so a retried attempt never writes over another's file."""

    def runs(batches):
        for b in batches:
            if not b.num_rows:
                continue
            if part_col is None:
                yield None, b
                continue
            encoded = run_end_encode(b.column(part_col))
            start = 0
            for value, end in zip(encoded.values.to_pylist(),
                                  encoded.run_ends.to_pylist()):
                yield value, b.slice(start, end - start)
                start = end

    def kernel(batches):
        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        for value, run in itertools.groupby(runs(batches), key=lambda r: r[0]):
            rel = (os.path.join(commit_dir, name) if part_col is None else
                   os.path.join(commit_dir, f"_pv={quote(str(value), safe='')}", name))
            path = os.path.join(table_dir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            rows = _write_run(path, (piece for _, piece in run))
            yield pa.RecordBatch.from_pydict(
                {"path": [rel], "rows": [rows], "pv": [value if with_stats else None]},
                schema=_WRITTEN)

    return kernel


def _write_run(path: str, pieces) -> int:
    """Write the batches ``pieces`` (one schema, at least one) to one
    parquet file, one row group per ``_ROW_GROUP_BYTES`` buffered;
    return the row count. The footer holds no key-value metadata: the
    manifest carries the table schema."""
    first = next(pieces)
    rows, buf, buffered = 0, [], 0
    with pq.ParquetWriter(path, first.schema, compression="snappy",
                          store_schema=False) as writer:
        for piece in itertools.chain([first], pieces):
            buf.append(piece)
            buffered += piece.nbytes
            rows += piece.num_rows
            if buffered >= _ROW_GROUP_BYTES:
                writer.write_table(pa.Table.from_batches(buf))
                buf, buffered = [], 0
        if buf:
            writer.write_table(pa.Table.from_batches(buf))
    return rows


class SnapshotTable:
    def __init__(self, root: str, name: str, partition_col: str | None = None,
                 sort_cols: list | None = None, writer: str | None = None):
        """``sort_cols``: Column sort expressions applied within each
        data file at write time (Iceberg table sort-order analog) — the
        frontier uses (priority DESC, urlhash ASC) so the priority queue
        is materialized SORTED and the scheduling scan reads it in queue
        order (north_rule: 'priority queue materialized as a sorted
        MERGE INTO').

        ``partition_col`` of a merged table must be a deterministic
        function of the merge keys, so tombstones prune the same files
        as the base rows they kill (see ``merge``)."""
        self.dir = os.path.join(root, name)
        self.name = name
        self.partition_col = partition_col
        self.sort_cols = sort_cols
        # commit identity for the optimistic-commit rebase: an
        # intervening commit by a DIFFERENT writer (e.g. the seed-ingest
        # daemon next to a crawl) is carried through a rebase; one by
        # the SAME writer that never reached the round log is a crashed
        # attempt's orphan and is dropped (exactly the redo discipline
        # base_versions() encodes). None = anonymous single writer.
        self.writer = writer
        # optional hook (set by Catalog.table): () -> set of this
        # table's versions referenced by ANY round-log entry — a logged
        # same-writer commit is durable, not an orphan
        self.log_lookup = None
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "snapshots"), exist_ok=True)
        # Durable table properties (Iceberg table-metadata analog):
        # serializable declarations persist in props.json so a BARE
        # handle — a maintenance process, a fresh Catalog in a CLI —
        # recovers the table's declared layout instead of silently
        # downgrading it. sort_cols hold live Column objects and can't
        # round-trip, so only a boolean "sorted" marker is stored —
        # enough for maintenance code to refuse order-destroying
        # rewrites it can't reproduce. The schema is not a property: each
        # manifest carries it. (The merge-mode and schema-evolving keys
        # that older stores wrote are ignored and dropped on the next
        # sync: every table merges on read and widens its schema.)
        props = {}
        if os.path.exists(self._props_path):
            with open(self._props_path) as f:
                props = json.load(f)
        if self.partition_col is None:
            self.partition_col = props.get("partition_col")
        elif (props.get("partition_col") is not None
              and props["partition_col"] != self.partition_col):
            # same hard error Catalog.table raises: a bare handle with a
            # conflicting layout must not silently rewrite the durable
            # declaration (ADVICE r4 — the silent-downgrade the props
            # file exists to prevent)
            raise ValueError(
                f"table {name!r} declared with partition_col="
                f"{props['partition_col']!r} in props.json; got conflicting "
                f"{self.partition_col!r}")
        self.sorted_declared = bool(props.get("sorted"))
        self._sync_props(props)

    @property
    def _props_path(self) -> str:
        return os.path.join(self.dir, "props.json")

    def _sync_props(self, on_disk: dict | None = None) -> None:
        """Persist the serializable declarations if they changed (also
        called by Catalog.table after an order-independent declaration,
        so later bare handles see it)."""
        if on_disk is None:
            on_disk = {}
            if os.path.exists(self._props_path):
                with open(self._props_path) as f:
                    on_disk = json.load(f)
        self.sorted_declared = self.sorted_declared or self.sort_cols is not None
        new_props = {"partition_col": self.partition_col,
                     "sorted": self.sorted_declared}
        if new_props != on_disk:
            _atomic_write_json(self._props_path, new_props)

    # ---- snapshot bookkeeping -------------------------------------
    def versions(self) -> list[int]:
        snaps = os.listdir(os.path.join(self.dir, "snapshots"))
        return sorted(int(s[1:-5]) for s in snaps if s.startswith("v") and s.endswith(".json"))

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.dir, "snapshots", f"v{version:06d}.json")) as f:
            return json.load(f)

    def _snapshot(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: head); version 0 or no
        commit yet is the empty table."""
        ver = version if version is not None else self.current_version()
        return self._manifest(ver) if ver else {"files": []}

    def _schema(self, manifest: dict) -> T.StructType:
        """The table schema ``manifest`` records. A manifest written
        before manifests carried it gets the union of its live files'
        footer schemas, read with pyarrow (no Spark job)."""
        if "schema" in manifest:
            return T.StructType.fromJson(manifest["schema"])
        schema = T.StructType()
        for f in manifest["files"]:
            meta = pq.read_metadata(os.path.join(self.dir, f["path"])).metadata
            written = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
            schema = _widen(schema, T.StructType(
                [c for c in written.fields if c.name not in ("_seq", "_tomb")]))
        return schema

    def added_records(self, version: int) -> int:
        """Rows the append that committed ``version`` added (Iceberg's
        ``added-records`` snapshot summary), with no Spark job."""
        return self._manifest(version)["summary"]["added-records"]

    def _commit(self, files: list[dict], meta: dict | None,
                keys: list[str] | None = None, *, ver: int,
                schema: T.StructType, added: int | None = None) -> int:
        """Commit a new snapshot at ``ver`` via exclusive manifest
        create. Raises CommitConflict when a
        concurrent writer took that version — the caller's retry loop
        re-reads the head, rebases, and tries again. The manifest
        records the table ``schema`` every read passes to Spark, the
        committing writer's identity for the rebase walk, and an
        append's ``added`` row count."""
        manifest = {"version": ver, "files": files, "meta": meta or {},
                    "writer": self.writer, "schema": schema.jsonValue()}
        if keys and any(f.get("kind") == "delta" for f in files):
            manifest["keys"] = keys  # reconcile keys for merge-on-read readers
        if added is not None:
            manifest["summary"] = {"added-records": added}
        _exclusive_write_json(
            os.path.join(self.dir, "snapshots", f"v{ver:06d}.json"), manifest)
        return ver

    def _rebased_files(self, base_ver: int | None, head_ver: int
                       ) -> tuple[list[dict], T.StructType]:
        """File list and schema for a commit computed against
        ``base_ver`` when the head has advanced to ``head_ver``: start
        from the base snapshot and REPLAY the file-level diff (additions
        + removals) of each intervening commit that must survive —
        commits by OTHER writers (a concurrent daemon batch), and
        same-writer commits that are referenced in the round log
        (durable) — widening the base schema by each replayed commit's,
        so a column a foreign writer added is carried with its files.
        Same-writer commits absent from the log are a crashed attempt's
        uncheckpointed leftovers: their diffs are skipped, which orphans
        their files — the exact redo discipline ``Catalog.base_versions``
        encodes, now correct under concurrency too.

        The former known limit — a foreign commit COMPACTING state that
        included an orphaned same-writer delta, baking the orphan in —
        is closed (r6): every fold site (``compact``, the
        ``_merge_delta`` fold) first checks
        ``_foreign_unlogged_deltas`` and defers/raises while any live
        delta belongs to another writer's unlogged commit
        (``ForeignDeltaPending``; tests/test_concurrency.py)."""
        base = base_ver or 0
        # the NORMALIZED base, not base_ver: _snapshot(None) means
        # "current head", which would seed the replay with head files
        # while the loop below replays diffs from v1 — carrying the
        # very orphans the walk exists to drop
        base_m = self._snapshot(base)
        base_files, base_schema = base_m["files"], self._schema(base_m)
        if head_ver <= base:
            return base_files, base_schema
        logged: set[int] = set()
        if self.log_lookup is not None:
            logged = self.log_lookup()
        files = {f["path"]: f for f in base_files}
        schema = base_schema
        try:
            prev = base_files
            for v in range(base + 1, head_ver + 1):
                m = self._manifest(v)
                cur = m["files"]
                if m.get("writer") != self.writer or v in logged:
                    prev_paths = {f["path"] for f in prev}
                    cur_paths = {f["path"] for f in cur}
                    for p in prev_paths - cur_paths:
                        files.pop(p, None)
                    for f in cur:
                        if f["path"] not in prev_paths:
                            files[f["path"]] = f
                    schema = _widen(schema, self._schema(m))
                prev = cur
        except FileNotFoundError:
            # an intervening manifest was expired — only maintenance
            # (single-writer, between rounds) expires, so the old
            # base-only semantics are the safe answer
            return base_files, base_schema
        return list(files.values()), schema

    def _live_files(self, version: int | None = None) -> list[dict]:
        return self._snapshot(version)["files"]

    # ---- data writing ---------------------------------------------
    def _write_data(self, df: DataFrame) -> list[dict]:
        """Write df under a fresh commit dir; return file entries with
        exact row counts and partition-value stats (Iceberg
        identity-partition analog).

        One Spark action: ``repartition(pc)`` puts every partition
        value in exactly one task (one file per value, immune to AQE
        partition coalescing), ``sortWithinPartitions(pc, *sort_cols)``
        makes each value one run in its task's stream, and an Arrow
        kernel (``_file_writer``) writes each run as one parquet file
        under ``_pv=<value>/`` and returns its ``(path, rows, value)``.
        The file keeps the partition column, so snapshots are read as
        plain file lists with no partition discovery. An unpartitioned
        ``df`` gets one file per non-empty task.

        Files go straight to their final names: the manifest that names
        them is the commit point, so a failed task attempt's partial
        file is an orphan like a crashed commit's, and nothing is
        renamed, listed or re-read. An empty ``df`` writes no file and
        creates no directory, and returns ``[]``."""
        sub = f"commit-{uuid.uuid4().hex[:12]}"
        pc = self.partition_col if (self.partition_col and self.partition_col in df.columns) else None
        sort_exprs = list(self.sort_cols or [])
        if pc:
            # (At real scale cap file size with repartitionByRange —
            # Iceberg's write.target-file-size analog.)
            out = df.repartition(F.col(pc)).sortWithinPartitions(pc, *sort_exprs)
        else:
            out = df.sortWithinPartitions(*sort_exprs) if sort_exprs else df
        with_stats = bool(pc) and isinstance(df.schema[pc].dataType, T.IntegralType)
        kernel = _file_writer(self.dir, os.path.join("data", sub), pc, with_stats)
        written = out.mapInArrow(kernel, "path string, rows long, pv long").collect()
        entries: list[dict] = []
        for path, rows, pval in sorted(written):
            ent: dict = {"path": path, "rows": rows}
            if pval is not None:
                ent["part_min"] = ent["part_max"] = pval
            entries.append(ent)
        return entries

    # ---- public ops -------------------------------------------------
    def is_empty(self) -> bool:
        return not self._live_files()

    def manifest_rows(self, version: int | None = None) -> int:
        """Upper bound on the rows a read of ``version`` returns, from
        the manifest's footer row counts with no job: a delta's upserts
        replace base rows and its tombstones add none."""
        return sum(f["rows"] for f in self._live_files(version))

    def _read_files(self, spark: SparkSession, files: list[dict],
                    schema: T.StructType) -> DataFrame:
        """Read ``files`` with the table ``schema`` from their manifest,
        plus ``_seq``/``_tomb`` for delta files: Spark infers no schema
        (no job), and a file written before a column was added reads
        it as null."""
        if any(f.get("kind") == "delta" for f in files):
            schema = T.StructType(schema.fields + [
                T.StructField("_seq", T.LongType()),
                T.StructField("_tomb", T.BooleanType())])
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.dir, f["path"]) for f in files])

    def _delta_winners(self, d: DataFrame, keys: list[str]) -> DataFrame:
        """Newest row per key among DELTA rows only (tombstone beats
        upsert at equal ``_seq`` — a key merged and deleted in the same
        commit is deleted). Small: O(changed rows) over ≤
        ``COMPACT_AFTER`` commits. Keeps ``_tomb``."""
        user_cols = [c for c in d.columns if c not in ("_seq", "_tomb")]
        val_cols = [c for c in user_cols if c not in keys]
        # Tie-break: two upsert rows for the SAME key in the SAME merge
        # commit share (_seq, _tomb) — without a further ordering the
        # winner is whichever row the hash-agg saw last, i.e.
        # nondeterministic across runs (a resume-bit-identity hazard).
        # Extend the ordering struct with the
        # orderable value columns (maps aren't orderable in Spark) so
        # ties resolve to the max value row, deterministically — the
        # same total-order trick the as-of join tiebreak uses. The
        # orderability check is RECURSIVE: a map nested inside an
        # array/struct is just as unorderable as a top-level one
        # (Spark rejects it in an ordering expression).
        def _orderable(dt) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        orderable = [c for c in val_cols if _orderable(d.schema[c].dataType)]
        picked = d.groupBy(*keys).agg(
            F.max_by(F.struct(*val_cols, "_tomb"),
                     F.struct(F.col("_seq"), F.col("_tomb").cast("int"),
                              *[F.col(c) for c in orderable])).alias("_r"))
        return picked.select(*[F.col(k) for k in keys],
                             *[F.col(f"_r.{c}").alias(c) for c in val_cols],
                             F.col("_r._tomb").alias("_tomb"))

    def _reconcile(self, spark: SparkSession, files: list[dict],
                   keys: list[str], schema: T.StructType,
                   extra_delta: DataFrame | None = None) -> DataFrame:
        """Merge-on-read scan: base files with the deltas applied, newest
        ``_seq`` wins per key among the deltas.

        ``extra_delta``: an UNWRITTEN delta batch (``schema``'s columns,
        stamped with ``_seq``/``_tomb``) folded in alongside the on-disk
        deltas —
        the pre-write fold path of ``_merge_delta`` uses this so a
        compacting merge never writes delta files its own commit
        orphans. Its size is unknown, so its presence never broadcasts.

        Scale shape (the Iceberg equality-delete plan): reconcile the
        DELTAS among themselves first (one small hash agg ∝ changed
        rows), then apply them to the base as ``base ANTI-JOIN (delta
        keys) UNION delta survivors``. Base rows are never grouped by
        key: rows that share a key in the base (APPEND loads) stay
        until a delta touches that key, which then replaces all of
        them, as a copy-on-write MERGE would. The keys are broadcast
        while the deltas stay within ``MOR_BROADCAST_BYTES``, so the
        base table NEVER shuffles and a 10^10-row frontier read costs a
        broadcast filter over the base scan; above it (compaction
        normally folds long before that) the anti-join shuffles."""
        base = [f for f in files if f.get("kind", "base") == "base"]
        delta = [f for f in files if f.get("kind") == "delta"]
        if not delta and extra_delta is None:
            return self._read_files(spark, base, schema)
        d = self._read_files(spark, delta, schema) if delta else extra_delta
        if delta and extra_delta is not None:
            d = d.unionByName(extra_delta)
        user_cols = schema.names
        if not base:
            return (self._delta_winners(d, keys)
                    .filter(~F.col("_tomb")).select(*user_cols))
        b = self._read_files(spark, base, schema)
        winners = self._delta_winners(d, keys)
        if extra_delta is not None:
            # read twice below (anti-join keys, then the union): fenced
            # so the unwritten batch is evaluated once
            winners = winners.localCheckpoint(eager=False)
        gone = winners.select(*keys)
        delta_bytes = sum(
            os.path.getsize(os.path.join(self.dir, f["path"])) for f in delta)
        if extra_delta is None and delta_bytes <= MOR_BROADCAST_BYTES:
            gone = F.broadcast(gone)
        # a using-column join puts the keys first: restore the table's
        # column order
        survivors = b.join(gone, keys, "left_anti").select(*user_cols)
        return survivors.unionByName(
            winners.filter(~F.col("_tomb")).select(*user_cols))

    def _delta_keys(self, head: int) -> list[str]:
        """Reconcile keys for a (possibly rebased) delta-carrying file
        list: every manifest that commits delta files records them and
        they are stable per table, so the newest manifest carrying
        ``keys`` at or below ``head`` is authoritative."""
        for v in range(head, 0, -1):
            try:
                m = self._manifest(v)
            except FileNotFoundError:
                continue
            if "keys" in m:
                return m["keys"]
        raise KeyError(f"table {self.name!r}: no merge keys recorded")

    def _scan(self, spark: SparkSession, manifest: dict,
              files: list[dict]) -> DataFrame:
        """Read ``files``, some or all of ``manifest``'s."""
        schema = self._schema(manifest)
        if any(f.get("kind") == "delta" for f in files):
            return self._reconcile(spark, files, manifest["keys"], schema)
        return self._read_files(spark, files, schema)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        m = self._snapshot(version)
        if not m["files"]:
            return None
        return self._scan(spark, m, m["files"])

    def read_pruned(self, spark: SparkSession, part_values: list[int],
                    version: int | None = None) -> DataFrame | None:
        """Read only the files whose partition stats intersect
        ``part_values`` (manifest-level file skipping — the Iceberg
        partition-pruned scan analog). Files with unknown stats are
        always read (safe). Returns None when the snapshot has no files
        at all (consistent with ``read``); an empty ``part_values`` or
        a no-hit prune returns an EMPTY frame of the version's schema.
        For a merge-on-read table the
        prune is key-consistent because the partition column is a
        function of the merge keys: a key's base row, upserts and
        tombstones all live in the same partition value, so pruning
        never splits a reconcile group."""
        m = self._snapshot(version)
        if not m["files"]:
            return None
        _, hit = self._prune(part_values, m["files"]) if part_values else ([], [])
        if not hit:
            return spark.createDataFrame([], self._schema(m))
        return self._scan(spark, m, hit)

    def insert_strict(self, spark: SparkSession, source: DataFrame,
                      keys: list[str], meta: dict | None = None) -> int:
        """INSERT with conflict-is-error semantics that hold under
        CONCURRENT writers (reference krx/loader.py:146-158 — the DB
        raises and the batch rolls back). A bare probe-then-append is
        check-then-act: two writers probe the same head, both see no
        conflict, both rebase-commit, duplicates land. Protocol here:

        1. probe at head ``h``; conflict → raise, nothing written.
        2. ``append(base_version=h)``. If our commit landed at ``h+1``
           no writer interleaved — the probe verdict stands.
        3. Otherwise re-probe against the interleaved state
           (version ``ver-1``); on conflict, COMMIT A ROLLBACK that
           drops exactly the files our append added (a snapshot store
           can undo an append), then raise. A concurrent reader may
           have seen the rolled-back rows in the interim — the
           transient visibility any deferred-constraint check has.

        ``source`` is read by up to two conflict checks and the write,
        so the caller fences it (README "Caching")."""

        def _conflicts(state: DataFrame | None) -> bool:
            return state is not None and bool(
                source.join(state.select(*keys).distinct(), keys,
                           "left_semi").limit(1).count())

        head = self.current_version() or 0
        if _conflicts(self.read(spark, version=head) if head else None):
            raise ValueError(
                f"INSERT conflict on {keys} into {self.name!r}")
        ver = self.append(source, meta=meta, base_version=head)
        if ver == head + 1:
            return ver
        if _conflicts(self.read(spark, version=ver - 1)):
            ours = ({f["path"] for f in self._manifest(ver)["files"]}
                    - {f["path"] for f in self._manifest(ver - 1)["files"]})
            self._replace_files(ours, [], T.StructType(),
                                {"op": "insert_rollback"})
            raise ValueError(
                f"INSERT conflict on {keys} into {self.name!r} "
                f"(concurrent writer; append rolled back)")
        return ver

    def _replace_files(self, drop: set[str], entries: list[dict],
                       written: T.StructType, meta: dict) -> int:
        """Commit the head without the files at ``drop`` paths, plus
        ``entries`` written from a frame of schema ``written``. A lost
        race re-reads the new head and retries, so whatever other
        writers committed meanwhile is carried."""
        while True:
            head = self.current_version() or 0
            m = self._snapshot(head)
            keep = [f for f in m["files"] if f["path"] not in drop]
            try:
                return self._commit(keep + entries, meta, ver=head + 1,
                                    schema=_widen(self._schema(m), written))
            except CommitConflict:
                continue

    def append(self, df: DataFrame, meta: dict | None = None,
               base_version: int | None = None) -> int:
        """Append on top of ``base_version`` (default: current). A round
        that redoes work after a mid-round crash passes the last
        CHECKPOINTED version so the crashed attempt's uncheckpointed
        snapshot files are orphaned, not compounded.

        Appended rows have no merge identity (APPEND allows duplicate
        keys), so they must live as plain BASE files OUTSIDE the key
        reconcile — but base files written NEXT TO live deltas would be
        retro-killed by older tombstones for the same key (equality
        deletes apply to everything of lower sequence; a fresh append
        is higher). So a delta-carrying table is compacted first:
        the fold applies the existing tombstones to the OLD base only,
        and the appended rows land untouched afterwards. Appends to
        merged tables are rare (the crawl never does it); the fold cost
        is the documented trade.

        ``df``'s columns widen the table schema (``ValueError``, before
        anything is written, on a column whose type differs), and the
        manifest records the rows ``df`` added (``added_records``)."""
        entries: list[dict] | None = None
        while True:
            head = self.current_version() or 0
            base = base_version if base_version is not None else head
            files, schema = self._rebased_files(base, head)
            widened = _widen(schema, df.schema)
            if any(f.get("kind") == "delta" for f in files):
                folded = self._reconcile(df.sparkSession, files,
                                         self._delta_keys(head), schema)
                files = self._write_data(folded)
            if entries is None:  # appended data has no version baked in:
                entries = self._write_data(df)  # written once, retries reuse
            try:
                return self._commit(files + entries, meta, ver=head + 1,
                                    schema=widened,
                                    added=sum(e["rows"] for e in entries))
            except CommitConflict:
                continue  # optimistic retry: re-read head, rebase

    def overwrite(self, df: DataFrame, meta: dict | None = None,
                  base_version: int | None = None) -> int:
        """Whole-table REPLACE. Unlike ``merge``/``append`` there is no
        rebase rule — replace semantics can't replay a foreign writer's
        diff into a table the caller is wholesale discarding — so
        instead of silently burying it (the last-writer-wins edge the
        round-5 verdict flagged), an overwrite that would drop a
        FOREIGN writer's commit landed after the caller's entry point
        raises ``ForeignOverwriteError``. The caller decides: re-read +
        re-derive, or switch to ``merge``. Losing
        races against the caller's OWN interleaved commits (retries,
        round-logged steps) still resolve by simple retry — replacing
        your own earlier state is what overwrite means.

        ``base_version``: the snapshot the caller READ to derive its
        replacement (same contract as ``merge``); foreign commits after
        it are the ones at risk. Defaults to the head at entry — i.e.
        only a mid-flight foreign race refuses."""
        base = (base_version if base_version is not None
                else self.current_version() or 0)

        def _refuse_foreign(head: int) -> None:
            foreign = [v for v in range(base + 1, head + 1)
                       if self._writer_of(v) != self.writer]
            if foreign:
                raise ForeignOverwriteError(
                    f"overwrite of '{self.name}' from base v{base} would "
                    f"bury foreign-writer commit(s) {foreign}; re-derive "
                    f"from the new head or use merge()")

        # pre-flight the foreign check BEFORE paying the full-table
        # write: a refused overwrite should not leave a whole
        # replacement table orphaned on disk (review r6)
        _refuse_foreign(self.current_version() or 0)
        entries = self._write_data(df)
        while True:
            head = self.current_version() or 0
            _refuse_foreign(head)
            try:
                return self._commit(entries, meta, ver=head + 1,
                                    schema=_nullable(df.schema))
            except CommitConflict:
                continue  # loop re-reads head and re-checks for foreigners

    def _writer_of(self, version: int) -> str | None:
        """Writer identity of a committed manifest; an EXPIRED manifest
        (only maintenance — single-writer by contract — expires) reads
        as our own writer so the overwrite guard doesn't false-alarm on
        snapshot GC."""
        try:
            return self._manifest(version).get("writer")
        except FileNotFoundError:
            return self.writer

    def overwrite_partitions(self, spark: SparkSession, df: DataFrame, part_values: list[int],
                             meta: dict | None = None) -> int:
        """REPLACE semantics on the partition column (reference:
        DELETE WHERE key IN (...) then insert — krx/loader.py:163-176).

        On a delta-carrying table the deltas are folded first (``compact``): partition overwrite reasons about BASE
        files only — rewriting raw delta rows as base files would
        resurrect tombstoned keys and leak ``_seq``/``_tomb`` columns."""
        assert self.partition_col is not None
        entries = self._write_data(df)
        while True:  # recompute the carried set from the head per retry
            head = self.current_version() or 0
            if any(f.get("kind") == "delta" for f in self._live_files()):
                self.compact(spark)
                head = self.current_version() or 0
            m = self._snapshot(head)
            schema = self._schema(m)
            keep, rewrite = self._prune(part_values, m["files"])
            carried = keep
            if rewrite:
                old = self._read_files(spark, rewrite, schema)
                residual = old.filter(~F.col(self.partition_col).isin(part_values))
                carried = keep + self._write_data(residual)
            try:
                return self._commit(carried + entries, meta, ver=head + 1,
                                    schema=_widen(schema, df.schema))
            except CommitConflict:
                continue

    def merge(self, spark: SparkSession, source: DataFrame, keys: list[str],
              delete_keys: DataFrame | None = None, meta: dict | None = None,
              base_version: int | None = None) -> int:
        """MERGE INTO this USING source ON keys
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *,
        plus WHEN MATCHED (delete_keys) THEN DELETE.

        Source rows win on key match (upsert — ON CONFLICT DO UPDATE,
        base/loader.py:144-186); ``delete_keys`` rows (same key columns,
        plus the partition column for pruning) are removed — the
        frontier uses this to retire fetched/terminal URLs so the
        pending queue stays the working set, not all-URLs-ever. A key
        present in BOTH source and delete_keys is DELETED (the DELETE
        branch wins, as the docstring semantics require).

        Every merge is merge-on-read: a table with no live files gets
        the source, minus the delete keys, written as base files;
        otherwise ``_merge_delta`` appends one delta batch, or folds the
        table, deciding which from the manifest's on-disk row counts
        before it writes anything. Either way the source and delete set
        are evaluated once. An empty batch writes no file, so an idle
        merge carries the file list unchanged (an idle round must not
        rewrite a 10^10-row table).

        ``keys`` must be stable across a table's merges (the manifest
        records them for readers): a merge into a table with live
        deltas under other keys raises ``ValueError``.
        """
        # optimistic-commit loop: compute against the (rebased) base,
        # commit at head+1 via exclusive create; a lost race re-reads
        # the new head, rebases the file list (carrying a concurrent
        # writer's commits, orphaning a crashed same-writer attempt)
        # and recomputes — the Iceberg retry protocol
        while True:
            head = self.current_version() or 0
            base = base_version if base_version is not None else head
            files, schema = self._rebased_files(base, head)
            schema = _widen(schema, source.schema)
            try:
                if files:
                    return self._merge_delta(spark, source, keys, delete_keys,
                                             meta, files, schema, head + 1)
                alive = source
                if delete_keys is not None:  # DELETE wins
                    alive = source.join(delete_keys.select(*keys).distinct(),
                                        keys, "left_anti")
                return self._commit(self._write_data(alive), meta,
                                    ver=head + 1, schema=schema)
            except CommitConflict:
                continue

    def _merge_delta(self, spark: SparkSession, source: DataFrame,
                     keys: list[str], delete_keys: DataFrame | None,
                     meta: dict | None, files: list[dict],
                     schema: T.StructType, ver: int) -> int:
        """Merge-on-read commit: APPEND one delta batch (upserts stamped
        ``_seq=<this version>``, tombstones from ``delete_keys`` with
        ``_tomb=true``) instead of rewriting touched base files. Write
        cost is O(len(source)+len(delete_keys)) regardless of table
        size — a round's uniform urlhash scatter touches every shard
        file, so rewriting touched files would rewrite the whole
        pending queue (round-2 verdict, "what's wrong" #1).

        The batch is ``source ∪ tombstones``, each with the columns of
        the table ``schema`` (null where it lacks one, so a source that
        predates a column another writer added still folds):
        ``_delta_winners`` makes a tombstone beat an upsert at equal
        ``_seq`` (DELETE wins) and collapses repeated tombstones of a
        key, so neither needs an anti-join or a distinct here.

        Fold-or-append is decided before any file is written, from the
        manifest alone (every entry carries its footer ``rows``), so the
        batch is read once, by the write. The merge folds everything
        into fresh base files when either trigger fires:

        * churn — the on-disk pending delta rows reach ``COMPACT_RATIO``
          of the base rows, so a fold writes ≤ (1 + 1/ratio)× the churn
          already written plus one batch: total write amplification
          stays a constant multiple of churn however big the table.
          The batch is not counted, so a batch that alone reaches the
          ratio lands as a delta and the next merge folds it. (A
          count-only trigger rewrites a quiet 10^10-row table every N
          tiny merges.)
        * commit count — this would be the ``COMPACT_AFTER``-th live
          delta commit; caps read-side delta fan-in for tables whose
          churn rarely reaches the ratio.

        A folding commit never references this batch's delta files, so
        it reconciles the unwritten batch directly instead of writing
        files only to orphan them."""
        base = [f for f in files if f.get("kind", "base") == "base"]
        pending = [f for f in files if f.get("kind") == "delta"]
        # _scan reconciles every live delta by the head's keys, so other
        # keys would silently re-key the older deltas
        if pending and set(self._delta_keys(ver - 1)) != set(keys):
            raise ValueError(
                f"merge keys {keys} into {self.name!r}: its live deltas "
                f"are keyed on {self._delta_keys(ver - 1)}")
        # _seq must equal the commit version: a retry after a lost race
        # re-enters with a fresh ver and REWRITES the (O(changed-rows))
        # delta — two writers' deltas then carry distinct, correctly
        # ordered sequence numbers
        seq = ver
        delta = (_project(source, schema)
                 .withColumn("_seq", F.lit(seq).cast("long"))
                 .withColumn("_tomb", F.lit(False)))
        if delete_keys is not None:
            delta = delta.unionByName(
                _project(delete_keys, schema)
                .withColumn("_seq", F.lit(seq).cast("long"))
                .withColumn("_tomb", F.lit(True)))

        churn = sum(f["rows"] for f in pending)
        fold = ((COMPACT_RATIO
                 and churn >= COMPACT_RATIO * sum(f["rows"] for f in base))
                or (COMPACT_AFTER and len({f["seq"] for f in pending}) + 1
                    >= COMPACT_AFTER))
        # fold only when no live delta belongs to an unlogged FOREIGN
        # commit (in-flight or crashed-pending-redo — baking it would
        # make the redo double-apply); deferring just appends another
        # delta, and the trigger re-fires once the foreign writer
        # checkpoints
        if fold and not self._foreign_unlogged_deltas(pending, ver - 1):
            folded = self._reconcile(spark, files, keys, schema, extra_delta=delta)
            return self._commit(self._write_data(folded), meta, ver=ver,
                                schema=schema)

        entries = self._write_data(delta)
        for e in entries:
            e["kind"] = "delta"
            e["seq"] = seq
        return self._commit(files + entries, meta, keys=keys, ver=ver,
                            schema=schema)

    def _foreign_unlogged_deltas(self, delta_files: list[dict],
                                 head: int) -> list[int]:
        """Versions that introduced any of ``delta_files`` and were
        committed by ANOTHER writer without a round-log entry — the
        deltas a fold must not bake (see ``ForeignDeltaPending``).
        Walks manifests downward from ``head`` and stops once every
        delta is attributed (deltas only exist since the last fold, so
        the walk is shallow); an expired manifest below the walk means
        the remaining deltas predate the GC keep-window and are
        checkpointed by the maintenance contract.

        Durability test: a version is safe when it is round-logged OR
        at-or-below the table's HIGHEST logged version — a redo binds
        to the last checkpoint and never replays below it, and a live
        delta under the checkpoint was carried by the checkpointed
        lineage (the daemon's fold=True round entries supersede the
        crawl's same-round version, so intermediate versions drop out
        of the log while staying durable)."""
        remaining = {f["path"] for f in delta_files}
        if not remaining:
            return []
        logged = self.log_lookup() if self.log_lookup else set()
        logged_max = max(logged, default=0)
        out: list[int] = []
        nxt_paths: set | None = None    # paths of version v+1's manifest
        for v in range(head, -1, -1):   # down to v=0, the empty table
            if not remaining:
                break
            try:
                paths_v = {f["path"] for f in self._snapshot(v)["files"]}
            except FileNotFoundError:
                # expired ⇒ the remaining deltas predate the GC
                # keep-window and are checkpointed history: after
                # Catalog.expire() removed old manifests, walking on
                # would attribute them to the lowest retained version
                # (r6 ADVICE, high)
                break
            if nxt_paths is not None:
                intro_above = (nxt_paths - paths_v) & remaining
                if intro_above:
                    remaining -= intro_above
                    m_above = self._manifest(v + 1)
                    if (m_above.get("writer") != self.writer
                            and v + 1 not in logged
                            and v + 1 > logged_max):
                        out.append(v + 1)
            nxt_paths = paths_v
        return sorted(out)

    def compact(self, spark: SparkSession, meta: dict | None = None) -> int:
        """Fold delta files into fresh base files (Iceberg
        ``rewrite_data_files`` analog). No-op (returns the current
        version) when the table has no deltas. Raises
        ``ForeignDeltaPending`` when a live delta belongs to another
        writer's unlogged commit — folding it would make the crashed/
        in-flight writer's redo double-apply (the guard that closes
        the ``_rebased_files`` known-limit window)."""
        while True:
            ver = self.current_version()
            m = self._snapshot(ver)
            deltas = [f for f in m["files"] if f.get("kind") == "delta"]
            if not deltas:
                return ver or 0
            foreign = self._foreign_unlogged_deltas(deltas, ver)
            if foreign:
                raise ForeignDeltaPending(
                    f"compact of '{self.name}': live delta(s) from "
                    f"unlogged foreign commit(s) {foreign}; wait for that "
                    f"writer to checkpoint (or for its redo to orphan them)")
            schema = self._schema(m)
            df = self._reconcile(spark, m["files"], m["keys"], schema)
            try:
                return self._commit(self._write_data(df), meta, ver=ver + 1,
                                    schema=schema)
            except CommitConflict:
                continue  # concurrent commit landed: refold from new head

    def fold_files(self, spark: SparkSession, fold, meta: dict,
                   version: int | None = None) -> int | None:
        """Replace every live file of ``version`` (default: head) with
        ``fold(<their rows>)`` written as new files — the maintenance
        rewrite of an append table whose rows combine (seen-filter
        blobs OR-fold per shard). Files committed after ``version`` are
        new files and stay live. Returns the new version, or None when
        fewer than two files are live."""
        m = self._snapshot(version)
        files = m["files"]
        if len(files) <= 1:
            return None
        folded = fold(self._read_files(spark, files, self._schema(m)))
        return self._replace_files({f["path"] for f in files},
                                   self._write_data(folded), folded.schema, meta)

    def rewrite_small_files(self, spark: SparkSession,
                            small_bytes: int = 32 << 20,
                            base_version: int | None = None) -> int | None:
        """Bin-pack small BASE files into one consolidated file per
        partition value (Iceberg ``rewrite_data_files`` with a
        file-size filter — the append-table sibling of ``compact``).

        Append-only tables (archive / results / lineage) gain ~one file
        per partition value per round and their manifests grow per
        commit; at 10^5 rounds that is millions of small files and
        multi-GB manifests, with nothing ever folding them (MoR
        compaction only covers delta-carrying tables). This rewrite
        reads, per partition-value group, every live base file smaller
        than ``small_bytes`` and rewrites the group as ONE file,
        carrying larger files and the previous manifest ``meta``
        (e.g. fetched_srcs' coverage watermark) forward unchanged.

        Groups key off the manifest's per-file partition stats; the
        chosen files are rewritten in one ``_write_data`` pass, so the
        output is one file per partition value with exact stats and row
        counts. A maintenance process that opens tables by name
        (Catalog.expire) gets the partition column from props.json.

        Returns the new version, or None when there is nothing to do
        (no live files, any delta present — compaction owns those — or
        no group with ≥2 small files). Rows are preserved as a
        multiset; time travel to older versions keeps working until
        ``expire_snapshots`` sweeps them."""
        ver = base_version if base_version is not None else self.current_version()
        if not ver:
            return None
        if ver != self.current_version():
            # the head advanced past the requested base (e.g. a crash
            # after a table commit but before commit_round): a rewrite
            # built from the stale file list would silently drop the
            # post-checkpoint files from the new head. Maintenance is
            # always safe to skip — refuse. (ADVICE r4)
            return None
        if self.sort_cols is None and self.sorted_declared:
            # a sorted table opened through a bare handle: the Column
            # sort expressions can't be recovered from props.json, and
            # consolidating without them would destroy the declared
            # file clustering — refuse rather than silently unsort
            return None
        m = self._manifest(ver)
        files = m["files"]
        if not files or any(f.get("kind") == "delta" for f in files):
            return None
        groups: dict[tuple, list[dict]] = {}
        for f in files:
            groups.setdefault((f.get("part_min"), f.get("part_max")), []).append(f)
        keep: list[dict] = []
        todo: list[dict] = []
        for ents in groups.values():
            smalls = [e for e in ents if os.path.getsize(
                os.path.join(self.dir, e["path"])) < small_bytes]
            if len(smalls) >= 2:
                todo.extend(smalls)
                small_ids = {id(e) for e in smalls}  # identity, O(n)
                keep.extend(e for e in ents if id(e) not in small_ids)
            else:
                keep.extend(ents)
        if not todo:
            return None
        # the manifest schema keeps every column of files written
        # before the table widened. coalesce(1): an unpartitioned
        # table's rewrite lands in one file.
        schema = self._schema(m)
        df = self._read_files(spark, todo, schema)
        new_entries = self._write_data(df.coalesce(1))
        # single shot, no rebase-and-retry: Catalog.expire folds this
        # version into the round log, and carrying an unlogged
        # concurrent commit into it would make a crashed attempt durable
        try:
            return self._commit(keep + new_entries, meta=m.get("meta"),
                                ver=ver + 1, schema=schema)
        except CommitConflict:
            return None  # concurrent writer won the version: skip, safe

    def expire_snapshots(self, retain_versions: set[int] | None = None,
                         keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analog.

        Retains ``retain_versions`` (default: the last ``keep_last``)
        plus, always, the current version; deletes every other snapshot
        manifest and every data file no retained manifest references —
        which also sweeps the orphaned commit dirs a crashed attempt
        leaves behind (files written, manifest never renamed in).
        Time travel to retained versions keeps working; reads of expired
        versions fail (their manifests are gone), never silently lie.
        """
        versions = self.versions()
        retain = set(retain_versions or [])
        if retain_versions is None and versions:
            retain.update(versions[-keep_last:])
        if versions:
            retain.add(versions[-1])          # never expire the head
        retain &= set(versions)

        live_files: set[str] = set()
        for v in retain:
            live_files.update(f["path"] for f in self._manifest(v)["files"])

        removed_manifests = []
        for v in versions:
            if v not in retain:
                os.remove(os.path.join(self.dir, "snapshots", f"v{v:06d}.json"))
                removed_manifests.append(v)

        removed_files = 0
        data_root = os.path.join(self.dir, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                p = os.path.join(dirpath, fn)
                if os.path.relpath(p, self.dir) not in live_files:
                    os.remove(p)              # orphan or expired data
                    removed_files += 1
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return {"removed_manifests": removed_manifests,
                "removed_files": removed_files,
                "retained_versions": sorted(retain)}

    def _prune(self, part_values: list[int], files: list[dict] | None = None
               ) -> tuple[list[dict], list[dict]]:
        """Split live files into (untouched, needs-rewrite) by stats."""
        vals = set(part_values)
        lo, hi = (min(vals), max(vals)) if vals else (None, None)
        keep, rewrite = [], []
        for f in (files if files is not None else self._live_files()):
            pmin, pmax = f.get("part_min"), f.get("part_max")
            if pmin is None or lo is None:
                rewrite.append(f)  # unknown stats → must rewrite (safe)
            elif pmax < lo or pmin > hi or not any(pmin <= v <= pmax for v in vals):
                keep.append(f)
            else:
                rewrite.append(f)
        return keep, rewrite


class Catalog:
    """A directory of SnapshotTables + the round checkpoint log.

    ``rounds.json`` maps completed round → per-table snapshot version:
    the engine's checkpoint (north_rule: every round checkpoints
    frontier + seen state so a killed job resumes bit-identically).
    Analog of the reference's CrawlerTaskLog status machine
    (/root/reference/api/src/models/task_log.py:11-46).
    """

    def __init__(self, root: str, writer: str | None = None):
        """``writer``: this process's commit identity (e.g. "crawl",
        "seed_ingest") — recorded on every snapshot commit so the
        optimistic-commit rebase can tell a concurrent OTHER writer's
        commits (carried) from this writer's crashed-attempt leftovers
        (orphaned). None = anonymous single writer (tests, ad-hoc)."""
        self.root = root
        self.writer = writer
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def _logged_versions(self, name: str) -> set[int]:
        """All versions of table ``name`` referenced by any round-log
        entry — the durability test the rebase walk uses."""
        out: set[int] = set()
        for versions in self.completed_rounds().values():
            if name in versions:
                out.add(versions[name])
        return out

    def table(self, name: str, partition_col: str | None = None,
              sort_cols: list | None = None) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(
                self.root, name, partition_col, sort_cols, writer=self.writer)
            self._tables[name].log_lookup = \
                lambda n=name: self._logged_versions(n)
        # Handles are cached by name, so every declared property must be
        # caller-ORDER-INDEPENDENT: a first caller that omits a
        # declaration must not silently downgrade the table for a later
        # caller that makes it (e.g. a bare cat.table('frontier') before
        # the crawl's declaration would otherwise leave the writes
        # unsorted). Declarations fill in place; conflicting partition-
        # column or sort re-declarations are an error.
        t = self._tables[name]
        if partition_col is not None:
            if t.partition_col is None:
                t.partition_col = partition_col
            elif t.partition_col != partition_col:
                raise ValueError(
                    f"table {name!r} already declared with partition_col="
                    f"{t.partition_col!r}; got conflicting {partition_col!r}")
        if sort_cols is not None:
            if t.sort_cols is None:
                t.sort_cols = sort_cols
            elif [str(c) for c in t.sort_cols] != [str(c) for c in sort_cols]:
                # same hard error the partition_col conflict gets —
                # silently keeping the first declaration would cluster
                # this caller's writes by someone else's order
                raise ValueError(
                    f"table {name!r} already declared with sort_cols="
                    f"{[str(c) for c in t.sort_cols]}; got conflicting "
                    f"{[str(c) for c in sort_cols]}")
        t._sync_props()
        return t

    # ---- round checkpoints ----------------------------------------
    @property
    def _rounds_path(self) -> str:
        return os.path.join(self.root, "rounds.json")

    def completed_rounds(self) -> dict[int, dict[str, int]]:
        if not os.path.exists(self._rounds_path):
            return {}
        with open(self._rounds_path) as f:
            raw = json.load(f)
        return {int(k): v for k, v in raw.items()}

    def last_round(self) -> int | None:
        rounds = self.completed_rounds()
        return max(rounds) if rounds else None

    @contextlib.contextmanager
    def _round_lock(self, timeout: float = 120.0):
        """Advisory lock serializing round-log read-modify-write cycles
        between co-located writers (crawl loop + ingest daemon share
        the driver host — the deployment the daemon documents).
        ``flock`` on a PERSISTENT lockfile: the kernel drops the lock
        when the holder's fd closes — including ``kill -9`` — so there
        is no stale-lock heuristic at all. (The unlink/recreate
        protocol this replaces could time out waiters before its own
        60 s staleness threshold was reachable, and two breakers
        passing the staleness check together could each unlink the
        other's freshly-created lock.) The file is never unlinked on
        release: unlinking would let a late waiter lock the old inode
        while a new waiter creates-and-locks a fresh file. Multi-host
        catalogs need a shared lock service (the Iceberg catalog
        commit analog) — out of scope for this store."""
        import fcntl

        lock = os.path.join(self.root, "rounds.lock")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        t0 = time.monotonic()
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError as e:
                    # only EWOULDBLOCK/EAGAIN means "held by someone" —
                    # ENOLCK/EOPNOTSUPP (locking unsupported, e.g. some
                    # network mounts) must surface immediately, not
                    # masquerade as 120 s of contention
                    if e.errno not in (errno.EWOULDBLOCK, errno.EAGAIN):
                        raise
                    if time.monotonic() - t0 > timeout:
                        raise TimeoutError(f"round-log lock held: {lock}")
                    time.sleep(0.01)
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
            yield
        finally:
            os.close(fd)  # releases the flock

    def commit_round(self, round_idx: int, table_versions: dict[str, int],
                     fold: bool = False) -> None:
        """Checkpoint ``round_idx`` → table versions. ``fold=True``
        merges ``table_versions`` INTO the existing entry instead of
        replacing it — the ingest daemon folds only the tables it
        touched, so a concurrently-committed crawl version of some
        other table is never clobbered. The read-modify-write runs
        under the round lock (two writers, one file)."""
        with self._round_lock():
            rounds = self.completed_rounds()
            if fold:
                entry = dict(rounds.get(round_idx, {}))
                for k, v in table_versions.items():
                    # versions are monotone ints and a later commit
                    # always carries (or rebased over) earlier ones, so
                    # MAX is the newest state — a daemon batch that
                    # committed BEFORE the crawl's merge but folds AFTER
                    # it must not roll the log back to its stale version
                    entry[k] = max(entry.get(k, 0), v)
            else:
                entry = table_versions
            rounds[round_idx] = entry
            _atomic_write_json(self._rounds_path,
                               {str(k): v for k, v in rounds.items()})

    def expire(self, keep_rounds: int = 1,
               spark: SparkSession | None = None,
               rewrite_small_bytes: int | None = None) -> dict[str, dict]:
        """Catalog-wide GC: retain, per table, exactly the snapshot
        versions reachable from the last ``keep_rounds`` round
        checkpoints (resume safety — ``base_versions`` must keep
        resolving) plus each table's head; expire everything else and
        sweep orphans. The maintenance operation Iceberg runs as
        ``expire_snapshots`` per table, driven from the round log.

        With ``spark`` + ``rewrite_small_bytes``, first bin-packs each
        table's small base files (``rewrite_small_files``) on top of
        its last-checkpointed version and FOLDS the new version into
        the latest round-log entry — so resumes bind to the
        consolidated snapshot (identical content) and the GC below then
        sweeps the superseded small files. This bounds append-table
        file counts by O(partition values), not O(rounds)."""
        if rewrite_small_bytes and spark is not None:
            rounds0 = self.completed_rounds()
            if rounds0:
                last = max(rounds0)
                base = self.base_versions()
                changed: dict[str, int] = {}
                for name in sorted(os.listdir(self.root)):
                    if not os.path.isdir(os.path.join(self.root, name, "snapshots")):
                        continue
                    t = self._tables.get(name) or SnapshotTable(self.root, name)
                    nv = t.rewrite_small_files(
                        spark, rewrite_small_bytes,
                        base_version=base.get(name))
                    if nv is not None:
                        changed[name] = nv
                if changed:
                    # fold ONLY the rewritten tables, under the round
                    # lock: the rewrite jobs run for seconds, and a
                    # replace-form commit built from the pre-rewrite
                    # snapshot of the entry would clobber any daemon
                    # fold that landed in that window
                    self.commit_round(last, changed, fold=True)
        rounds = self.completed_rounds()
        kept_rounds = set(sorted(rounds)[-keep_rounds:]) if rounds else set()
        retain: dict[str, set[int]] = {}
        cum: dict[str, int] = {}
        for r in sorted(rounds):
            cum.update(rounds[r])
            if r in kept_rounds:
                for t, v in cum.items():
                    retain.setdefault(t, set()).add(v)
        stats: dict[str, dict] = {}
        for name in sorted(os.listdir(self.root)):
            if not os.path.isdir(os.path.join(self.root, name, "snapshots")):
                continue
            t = SnapshotTable(self.root, name)
            stats[name] = t.expire_snapshots(retain_versions=retain.get(name, set()))
        return stats

    def base_versions(self) -> dict[str, int]:
        """Per-table snapshot version as of the LAST COMMITTED round —
        the only state a (re)run may build on. A crashed mid-round
        attempt leaves higher uncheckpointed table versions; binding
        reads and writes to these versions orphans that attempt's files
        so the redo is exact (north_rule: resume bit-identically).
        Tables never checkpointed map to 0 (empty baseline)."""
        rounds = self.completed_rounds()
        base: dict[str, int] = {}
        for r in sorted(rounds):
            base.update(rounds[r])
        return base
