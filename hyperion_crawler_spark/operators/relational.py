"""Relational operators from the reference inventory (SURVEY §2.2-2.7)
as reusable DataFrame transforms. All pure Catalyst — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_wins_dedup(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """A4 — keep the first occurrence per key under a deterministic
    total order (the reference keeps first *arrival* — a nondeterminism
    we replace with explicit sort keys).
    Ref: check_duplicates, api/src/etl/base/loader.py:188-209.

    Window form — general (any Column sort exprs incl. desc()). For
    high-cardinality keys prefer ``first_wins_dedup_agg``: a window
    sorts every partition even when keys are mostly unique."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def first_wins_dedup_agg(df: DataFrame, keys: list[str], order_cols: list[Column]) -> DataFrame:
    """A4, aggregate form: min_by over a struct order key — one shuffle
    with map-side partial combine, no sort-the-world window. This is the
    shape the crawl frontier dedup uses (plans/round.canonical_url_rows);
    exposed here for relational pipelines too. ``order_cols`` are
    ASCENDING value expressions (negate numerics for descending)."""
    ordk = F.struct(*[c.alias(f"_o{i}") for i, c in enumerate(order_cols)])
    payload = [c for c in df.columns if c not in keys]
    picked = df.groupBy(*keys).agg(
        F.min_by(F.struct(*payload), ordk).alias("_r"))
    return picked.select(*keys, *[F.col(f"_r.{c}").alias(c) for c in payload])


def latest_per_key(df: DataFrame, keys: list[str], ts: Column, tiebreak: list[Column]) -> DataFrame:
    """W1/A2 — latest row per key (max ts, deterministic tiebreak).
    Ref: _update_latest_prices, api/src/etl/krx/loader.py:224-235."""
    w = Window.partitionBy(*keys).orderBy(ts.desc(), *tiebreak)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def topk_per_key(df: DataFrame, keys: list[str], order: list[Column], k: int) -> DataFrame:
    """W2/O2 — per-key top-k under a total order (politeness-budget
    shape). Adds ``rank`` (1-based)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k))


def consensus_histogram(df: DataFrame, key: str, rating: Column,
                        lo: int = 1, hi: int = 5) -> DataFrame:
    """A1 — per-key mean rating, count, and per-value histogram.
    Partial (map-side) aggregation is free from Catalyst.
    Ref: calculate_consensus, api/src/etl/base/transformer.py:221-237."""
    r = rating.alias("_r")
    aggs = [
        # portable floor-round, NOT F.round: Spark HALF_UPs the
        # shortest decimal repr while DuckDB rounds the raw double —
        # an avg landing on a .005 boundary (e.g. 107/40 = 2.675)
        # would flip the q04 value hash (r5 review; same rule as
        # __spark_entry__._pround)
        (F.floor(F.avg("_r") * 100.0 + F.lit(0.5)) / 100.0).alias("avg_rating"),
        F.count("_r").alias("n_ratings"),
    ] + [
        F.sum(F.when(F.col("_r") == v, 1).otherwise(0)).alias(f"n_rating_{v}")
        for v in range(lo, hi + 1)
    ]
    return df.select(key, r).groupBy(key).agg(*aggs)


def lookup_or_create(facts: DataFrame, dim: DataFrame, join_keys: list[str],
                     id_col: str, create_id: Column) -> DataFrame:
    """J4 — left-join a dimension; generate a deterministic id on miss
    (the reference round-trips the DB per new symbol and caches —
    api/src/etl/krx/transformer.py:151-195; we replace the
    lookup-or-insert with a hash-derived id, no serial point).
    ``create_id`` must be a deterministic expression over fact columns."""
    joined = facts.join(F.broadcast(dim.select(*join_keys, id_col)), join_keys, "left")
    return joined.withColumn(id_col, F.coalesce(F.col(id_col), create_id))


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """S5/J5 — MERGE semantics as a dataflow result (source wins on key
    match; unmatched target rows survive; unmatched source rows insert).
    Ref: upsert_postgres ON CONFLICT DO UPDATE,
    api/src/etl/base/loader.py:144-186. The stateful variant lives in
    sources/tables.py:SnapshotTable.merge; this pure form feeds the
    DuckDB oracle cross-check.

    PRECONDITION: ``source`` must be key-unique (run first_wins_dedup
    first, as every engine caller does) — a duplicated source key would
    otherwise insert multiple rows for one key, where SQL MERGE raises
    and the reference's per-row loop makes the last row win."""
    survivors = target.join(source.select(*keys).distinct(), keys, "left_anti")
    return survivors.select(*target.columns).unionByName(source.select(*target.columns))


def update_only(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """LoadMode.UPDATE — update-only-matched as a dataflow result:
    source wins on key match, unmatched SOURCE rows are skipped (never
    inserted), unmatched target rows survive. The mode the reference
    enum declares ("업데이트만", api/src/etl/base/loader.py:18) but
    never dispatches; the stateful form lives in ETLPipeline._load.
    Same key-unique source precondition as merge_upsert."""
    matched = source.join(target.select(*keys).distinct(), keys, "left_semi")
    survivors = target.join(matched.select(*keys).distinct(), keys, "left_anti")
    return survivors.select(*target.columns).unionByName(matched.select(*target.columns))


def replace_partition(target: DataFrame, source: DataFrame, part_col: str,
                      part_values: list) -> DataFrame:
    """S7 — REPLACE: delete rows in the given partitions, insert source.
    Ref: _replace_data DELETE WHERE trade_date IN (...) then insert,
    api/src/etl/krx/loader.py:163-176. NULL-partition rows are KEPT:
    SQL ``DELETE WHERE col IN (...)`` never matches NULL, but the
    naive ``~isin`` filter evaluates to NULL for them and silently
    deleted all NULL-partition data (r5 review)."""
    kept = target.filter(F.col(part_col).isNull()
                         | ~F.col(part_col).isin(part_values))
    return kept.select(*target.columns).unionByName(source.select(*target.columns))


def map_fields(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P1/P2 — projection + rename with dotted-path nested access;
    Ref: map_fields/get_nested_value,
    api/src/etl/base/transformer.py:97-123."""
    return df.select(*[F.col(src).alias(dst) for dst, src in mapping.items()])


def apply_defaults(df: DataFrame, defaults: dict) -> DataFrame:
    """P4 — fill missing/None with defaults.
    Ref: apply_default_values, api/src/etl/base/transformer.py:125-131."""
    return df.fillna(defaults)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions, but only
    when it has fewer than half that many: the input-skew repair for a
    scan that arrives as too few tasks for the per-row-expensive
    pipeline above it (guide §2.5: repartition right after the read).

    Decided while the plan is built, with no Spark job: a scan's count
    is its list of planned splits. A frame already holding an exchange
    under AQE is returned as is (asking its RDD would run the map
    stages). A file scan counts BYTE-RANGE SPLITS, not row groups: at
    sf0.1 ``lineitem`` is one row group but 2 splits on ``local[2]``,
    while the ``documents`` and ``embeddings`` scans are one split at
    sf0.01 and sf0.1 and do spread. A 100 TB table scans as far more
    splits than cores and never takes this shuffle."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if (df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"
            or df.rdd.getNumPartitions() * 2 >= par):
        return df
    return df.repartition(par)


def price_validity_predicate() -> Column:
    """P7 — the reference's OHLCV row-validity rule as one boolean expr.
    Expects columns open/high/low/close/volume (aliased by caller).
    Ref: _validate_transformed_data, api/src/etl/krx/transformer.py:197-231."""
    return (
        F.col("close").isNotNull()
        & (F.col("high") >= F.greatest("open", "low", "close"))
        & (F.col("low") <= F.least("open", "high", "close"))
        & (F.col("volume") >= 0)
    )
