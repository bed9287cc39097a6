"""E→T→L pipeline facade — the reference's service API surface
re-expressed over DataFrames (SURVEY §3).

Reference shape being mirrored:
* ``ETLService.extract_data/transform_data/load_data/run_full_pipeline``
  — /root/reference/api/src/services/etl_service.py:92-227
* OO source registry (extractor/transformer/loader classes per source,
  YAML-configured) — etl_service.py:68-90, etl_config.yaml:4-136
* ``LoadMode`` INSERT/UPDATE/UPSERT/REPLACE/APPEND dispatch —
  api/src/etl/base/loader.py:15-21, krx/loader.py:62-70
* ``LoadResult`` tallies (loaded/updated/failed/skipped, success_rate)
  — api/src/etl/base/loader.py:24-59

Differences by design: phases hand DataFrames (lazy plans) to each
other instead of serializing row payloads through HTTP/JSON (the
reference's scalability ceiling — workflows/krx_etl_workflow.yaml:105,
177); validation quarantines via one predicate + anti-split instead of
per-row Python; the asset-master lookup-or-create is a broadcast join +
deterministic hash id instead of a DB round-trip per new symbol
(krx/transformer.py:151-195).
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Protocol

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions.scalars import clean_numeric, change_amount, trading_value, weekend_roll
from .operators.relational import (first_wins_dedup, lookup_or_create,
                                   price_validity_predicate)
from .sources.tables import Catalog


class LoadMode(str, Enum):
    """Mirror of the reference's five-mode enum
    (api/src/etl/base/loader.py:15-21)."""
    APPEND = "append"      # reference APPEND (duplicates allowed)
    INSERT = "insert"      # reference INSERT: bulk insert, CONFLICT = error
                           # (krx/loader.py:139-160 — an IntegrityError
                           # rolls the batch back and raises)
    UPDATE = "update"      # reference declares it ("업데이트만") but never
                           # dispatches it (krx/loader.py:69-70 raises) —
                           # implemented here as update-only-matched
    UPSERT = "upsert"      # reference UPSERT (ON CONFLICT DO UPDATE)
    REPLACE = "replace"    # reference REPLACE (delete partition + insert)


@dataclass
class LoadResult:
    """Mirror of the reference's LoadResult counters
    (api/src/etl/base/loader.py:24-59). ``quality_ok`` is the
    data-quality alert verdict (success_rate vs the configured
    threshold — etl_config.yaml:38-43), consumed by run_full_pipeline's
    gate. ``latency_ok``/``execution_time`` are the latency alert
    (reference etl_config.yaml:42-43, ``type: latency, threshold:
    600``): pipeline wall time vs the configured budget."""
    loaded: int = 0
    skipped: int = 0
    failed: int = 0
    quality_ok: bool = True
    latency_ok: bool = True
    execution_time: float = 0.0

    @property
    def success_rate(self) -> float:
        total = self.loaded + self.skipped + self.failed
        return self.loaded / total if total else 1.0


class SourceAdapter(Protocol):
    """One registered source = extract + transform + sink contract
    (reference: BaseExtractor/Transformer/Loader ABC triple)."""

    name: str
    target_table: str
    conflict_keys: list[str]
    partition_col: str | None

    def extract(self, spark: SparkSession, params: dict) -> DataFrame: ...
    def transform(self, df: DataFrame) -> tuple[DataFrame, DataFrame]: ...


class MarketDataSource:
    """Demo adapter with the reference KRX source's semantics over a
    deterministic synthetic frame (the analog of the golden ``mock_pykrx``
    fixture — /root/reference/tests/conftest.py:113-148).

    extract: per-ticker OHLCV+cap rows for a trade date (KRXExtractor —
    api/src/etl/krx/extractor.py:20-99), generated JVM-side.
    transform: clean_numeric/change_amount/trading_value scalar derivations
    (F2-F4), price-logic validity gate (transformer.py:197-231) with
    quarantine split, asset-uuid lookup-or-create (J4).
    """

    name = "market"
    target_table = "market_daily_prices"
    conflict_keys = ["uuid", "trade_date"]
    partition_col = None
    # latest-slice maintenance (reference update_latest_prices,
    # krx/loader.py:76-77,224-235): keep, per uuid, the max-trade_date
    # row in a side table on every load when the config flag is set
    update_latest = False
    latest_keys = ["uuid"]
    latest_order_col = "trade_date"

    def __init__(self, n_tickers: int = 100, dim_fraction_known: int = 3):
        self.n_tickers = n_tickers
        self.dim_mod = dim_fraction_known

    def extract(self, spark: SparkSession, params: dict) -> DataFrame:
        date = params.get("trade_date", "2024-01-05")
        t = spark.range(self.n_tickers)
        base = (F.pmod(F.xxhash64(F.col("id"), F.lit(date)), F.lit(90000)) + 10000) / 100.0
        vol = F.pmod(F.xxhash64(F.col("id"), F.lit(date), F.lit(1)), F.lit(1_000_000))
        return t.select(
            F.lpad(F.col("id").cast("string"), 6, "0").alias("ticker"),
            F.lit(date).cast("date").alias("trade_date"),
            F.concat(F.lit("₩"), F.floor(base * 100).cast("string")).alias("close_raw"),
            (base * 1.01).alias("high"),
            (base * 0.99).alias("low"),
            base.alias("open"),
            vol.alias("volume"),
            (F.pmod(F.xxhash64("id", F.lit(date), F.lit(2)), F.lit(900)) / 100.0 - 4.5).alias("change_rate"),
        )

    def asset_master(self, spark: SparkSession) -> DataFrame:
        """Known dimension rows (a subset — the rest exercise J4's
        create-on-miss)."""
        return spark.range(self.n_tickers).filter(F.col("id") % self.dim_mod == 0).select(
            F.lpad(F.col("id").cast("string"), 6, "0").alias("ticker"),
            F.concat(F.lit("uuid-"), F.col("id").cast("string")).alias("uuid"),
        )

    def transform(self, df: DataFrame, dim: DataFrame) -> tuple[DataFrame, DataFrame]:
        cleaned = df.withColumn("close", clean_numeric(F.col("close_raw")) / 100.0)
        derived = (
            cleaned
            .withColumn("change_amount", change_amount(F.col("close"), F.col("change_rate")))
            .withColumn("trading_value", trading_value(F.col("close"), F.col("volume")))
            .withColumn("trade_date", weekend_roll(F.col("trade_date")))
        )
        valid_pred = price_validity_predicate()
        valid = derived.filter(valid_pred)
        quarantine = derived.filter(~valid_pred)
        # J4 lookup-or-create with deterministic generated id
        gen = F.concat(F.lit("gen-"), F.substring(F.sha2(F.col("ticker"), 256), 1, 16))
        enriched = lookup_or_create(valid, dim, ["ticker"], "uuid", gen)
        out = enriched.select("uuid", "ticker", "trade_date", "open", "high", "low",
                              "close", "volume", "change_rate", "change_amount",
                              "trading_value")
        return out, quarantine


class ETLPipeline:
    """run_full_pipeline analog (etl_service.py:197-227): E→T→L in one
    lazy plan, sink committed atomically per run."""

    #: default data-quality gate — success-rate ≥ 0.95
    #: (reference alert threshold, etl_config.yaml:38-43)
    DEFAULT_QUALITY_THRESHOLD = 0.95

    def __init__(self, spark: SparkSession, store_dir: str):
        self.spark = spark
        self.cat = Catalog(store_dir)
        self.sources: dict[str, SourceAdapter] = {}
        self.default_modes: dict[str, LoadMode] = {}
        self.quality_threshold: float = self.DEFAULT_QUALITY_THRESHOLD
        self.quality_thresholds: dict[str, float] = {}  # per-source override
        self.latency_thresholds: dict[str, float] = {}  # seconds per run (yaml:42-43)

    def register(self, source, default_mode: LoadMode | None = None) -> None:
        self.sources[source.name] = source
        if default_mode is not None:
            self.default_modes[source.name] = default_mode

    # ---- phase API (the reference's per-phase service endpoints:
    # extract_data/transform_data/load_data, etl_service.py:92-188) ----
    # Each returns a task envelope like the reference's
    # {task_id, status, record_count, data}; "data" is a LAZY DataFrame
    # (the reference serializes rows through HTTP/JSON between phases —
    # its scalability ceiling; here phases hand plans).
    @staticmethod
    def _task_suffix(params: dict) -> str:
        return str(params.get("round", params.get("trade_date", 0)))

    def extract_data(self, source_name: str, params: dict | None = None) -> dict:
        src = self.sources[source_name]
        params = params or {}
        # fenced (README "Caching"): the envelope's record_count would
        # otherwise run the extraction once for the count and again when
        # the downstream phase consumes `data`; eager, because the count
        # runs at once
        raw = src.extract(self.spark, params).localCheckpoint()
        return {
            "task_id": f"{source_name}_extract_{self._task_suffix(params)}",
            "source": source_name, "status": "success",
            "record_count": raw.count(), "data": raw,
        }

    def transform_data(self, source_name: str, raw: DataFrame,
                       params: dict | None = None) -> dict:
        src = self.sources[source_name]
        params = params or {}
        dim = src.asset_master(self.spark)
        valid, quarantine = src.transform(raw, dim)
        return {
            "task_id": f"{source_name}_transform_{self._task_suffix(params)}",
            "source": source_name, "status": "success",
            "data": valid, "quarantine": quarantine,
        }

    def load_data(self, source_name: str, valid: DataFrame,
                  quarantine: DataFrame | None = None,
                  mode: LoadMode | None = None,
                  params: dict | None = None) -> dict:
        """Pass ``transform_data``'s quarantine frame through so the
        phase API hits the SAME quality gate as run_full_pipeline —
        without it failed counts are invisible and the gate can't trip."""
        params = params or {}
        result = self._load(source_name, valid, quarantine, mode, params)
        return {
            "task_id": f"{source_name}_load_{self._task_suffix(params)}",
            "source": source_name,
            "status": "success" if result.quality_ok else "quality_failed",
            "result": result,
        }

    def run_full_pipeline(self, source_name: str, params: dict | None = None,
                          mode: LoadMode | None = None) -> LoadResult:
        src = self.sources[source_name]
        params = params or {}
        # fence the extract exactly like the phase API does: the load
        # runs up to three actions over the E→T lineage (merge, latest-
        # slice, quarantine append) and would
        # otherwise re-run the extraction per action
        raw = src.extract(self.spark, params).localCheckpoint()
        dim = src.asset_master(self.spark)
        valid, quarantine = src.transform(raw, dim)
        return self._load(source_name, valid, quarantine, mode, params)

    def _load(self, source_name: str, valid: DataFrame,
              quarantine: DataFrame | None, mode: LoadMode | None,
              params: dict) -> LoadResult:
        import time

        t0 = time.perf_counter()
        src = self.sources[source_name]
        mode = mode or self.default_modes.get(source_name, LoadMode.UPSERT)
        # first-wins dedup on the conflict key (A4 — loader.py:188-209)
        deduped = first_wins_dedup(valid, src.conflict_keys,
                                   [F.col(c) for c in valid.columns if c not in src.conflict_keys])
        # F13 add_metadata: stamp lineage columns on every loaded row
        # (reference base/loader.py:211-220 stamps created_at/updated_at/
        # source; wall clock is banned, so the round/date param is the
        # deterministic analog)
        from .functions.scalars import add_metadata

        deduped = add_metadata(deduped, source_name,
                               F.lit(self._task_suffix(params)))

        table = self.cat.table(src.target_table, src.partition_col)
        # LoadResult tallies (SURVEY §2.1 S10 mapping of the reference's
        # LoadResult counters, base/loader.py:24-59) cost no count()
        # job: an append's commit records the rows its write tasks
        # wrote (``added_records``), and the other modes observe() the
        # load action itself (named accumulators on the plan)
        obs = Observation()
        observed = deduped.observe(obs, F.count(F.lit(1)).alias("loaded"))
        n_skip = 0
        if mode == LoadMode.APPEND:
            n_valid = table.added_records(table.append(deduped))
        elif mode == LoadMode.UPSERT:
            # fenced: a folding merge joins its batch, and Spark 4
            # Observations break under joins; eager, as a lazy fence
            # over an observed frame reports a wrong count
            table.merge(self.spark, observed.localCheckpoint(),
                        src.conflict_keys)
            n_valid = obs.get["loaded"]
        elif mode == LoadMode.INSERT:
            # reference INSERT: a key conflict is an integrity ERROR
            # (krx/loader.py:146-158 — the DB raises, the batch rolls
            # back). insert_strict carries those semantics through
            # concurrent writers: probe at a fixed head, verify the
            # commit landed directly on it, and roll the append back on
            # an interleaved conflict (r5 review — the old probe-then-
            # append let two racing INSERTs both pass their probes).
            # The batch feeds up to two conflict probes and the write,
            # so it is fenced, eagerly as the first probe runs at once.
            n_valid = table.added_records(table.insert_strict(
                self.spark, deduped.localCheckpoint(), src.conflict_keys))
        elif mode == LoadMode.UPDATE:
            # update-only-matched: rows whose key is absent are SKIPPED,
            # never inserted (the enum's "업데이트만" semantics; the
            # reference declares but never implements this branch).
            # This branch bypasses the Observation entirely: Spark 4's
            # Observation hits a toPyRow metrics assertion whenever the
            # observed plan contains (or is later fed into) a join, and
            # the match probe is inherently a join. Instead the probe is
            # ONE left join with a match flag, fenced once (eager: the
            # aggregate reads it at once): a single aggregate over the
            # fence yields total AND matched together, and the merge
            # source + the latest-slice batch are cheap filters over the
            # same fence. loaded = matched (the reference's `updated`
            # counter), skipped = the unmatched remainder so
            # success_rate sees the drops.
            existing = table.read(self.spark)
            if existing is None:
                n_valid, n_skip = 0, deduped.count()
            else:
                ks = src.conflict_keys
                flagged = deduped.join(
                    existing.select(*ks).distinct().withColumn("_m", F.lit(1)),
                    ks, "left").localCheckpoint()
                m = flagged.agg(F.count(F.lit(1)).alias("total"),
                                F.sum("_m").alias("matched")).first()
                n_valid = int(m["matched"] or 0)
                n_skip = int(m["total"]) - n_valid
                written = flagged.filter(F.col("_m") == 1).drop("_m")
                table.merge(self.spark, written, ks)
        elif mode == LoadMode.REPLACE:
            assert src.partition_col, "REPLACE needs a partition column"
            parts = [r[0] for r in observed.select(src.partition_col).distinct().collect()]
            table.overwrite_partitions(self.spark, observed, parts)
            n_valid = obs.get["loaded"]
        if getattr(src, "update_latest", False) and (
                mode != LoadMode.UPDATE or n_valid):
            # the latest slice must describe rows actually WRITTEN: in
            # UPDATE mode unmatched (skipped) rows never reach the
            # target and must not reach the side table either
            self._update_latest(src, written if mode == LoadMode.UPDATE else deduped)

        # quarantine table mirrors drop-with-warning (transformer.py:86-89);
        # the failed tally is the rows the append wrote (an empty batch
        # writes no file), not a count job of its own
        n_quar = 0
        if quarantine is not None:
            qt = self.cat.table(f"{src.target_table}_quarantine", None)
            n_quar = qt.added_records(qt.append(quarantine))
        result = LoadResult(loaded=n_valid, skipped=n_skip, failed=n_quar)
        # data-quality gate: the reference declares success-rate ≥ 0.95
        # as a monitoring alert (etl_config.yaml:38-43) but nothing
        # consumes it; here the verdict is recorded per run in the
        # lineage table and surfaced on the result
        threshold = self.quality_thresholds.get(source_name, self.quality_threshold)
        result.quality_ok = result.success_rate >= threshold
        # latency alert (etl_config.yaml:42-43): pipeline wall time vs
        # the configured budget — measured to the end of the sink
        # commits, i.e. the span where all lazy E→T→L work executes
        result.execution_time = round(time.perf_counter() - t0, 3)
        lat_threshold = self.latency_thresholds.get(source_name)
        result.latency_ok = (lat_threshold is None
                             or result.execution_time <= lat_threshold)
        status = ("quality_failed" if not result.quality_ok
                  else "latency_exceeded" if not result.latency_ok
                  else "success")
        task_id = f"{source_name}_load_{self._task_suffix(params)}"
        self.cat.table("etl_lineage", None).append(self.spark.createDataFrame(
            [(task_id, source_name, status, n_valid, n_skip, n_quar,
              float(result.success_rate), float(threshold),
              float(result.execution_time),
              float(lat_threshold) if lat_threshold is not None else None)],
            "task_id string, source string, status string, loaded long, "
            "skipped long, failed long, success_rate double, threshold double, "
            "execution_time double, latency_threshold double"))
        return result

    def _update_latest(self, src, batch: DataFrame) -> None:
        """Maintain ``<target_table>_latest``: one row per latest-key
        holding the max-order (e.g. newest trade_date) row seen across
        ALL loads — the reference's _update_latest_prices side table
        (krx/loader.py:224-235). Out-of-order loads can't regress the
        slice: the incoming batch competes against the existing row for
        each touched key and the newest wins; on an EQUAL order value
        the incoming batch wins deterministically (a same-date re-load
        carries corrections — the reference's upsert overwrites too;
        without the explicit tiebreak the window pick would be
        partition-order-dependent). Writes O(batch)."""
        from .operators.relational import latest_per_key

        lk = list(src.latest_keys)
        oc = F.col(src.latest_order_col)
        latest_t = self.cat.table(f"{src.target_table}_latest", None)
        cand = latest_per_key(batch, lk, oc, [])
        existing = latest_t.read(self.spark)
        if existing is not None:
            touched = existing.join(cand.select(*lk).distinct(), lk, "left_semi")
            both = (cand.withColumn("_new", F.lit(0))
                    .unionByName(touched.select(*cand.columns)
                                 .withColumn("_new", F.lit(1))))
            cand = latest_per_key(both, lk, oc,
                                  [F.col("_new").asc()]).drop("_new")
        latest_t.merge(self.spark, cand, lk)
