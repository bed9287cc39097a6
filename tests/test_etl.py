"""E→T→L facade: mode dispatch, upsert idempotence, lookup-or-create,
LoadResult accounting (reference service semantics)."""

import pytest
from pyspark.sql import functions as F

from hyperion_crawler_spark.etl import ETLPipeline, LoadMode, MarketDataSource
from hyperion_crawler_spark.sources import tables


def _pipeline(spark, tmp_path):
    p = ETLPipeline(spark, str(tmp_path))
    p.register(MarketDataSource(n_tickers=60))
    return p


def test_full_pipeline_upsert(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    res = p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    assert res.loaded == 60 and res.success_rate == 1.0
    t = p.cat.table("market_daily_prices", None).read(spark)
    assert t.count() == 60
    # uuid: known dim rows keep their uuid, misses get generated ids
    known = t.filter(F.col("uuid").startswith("uuid-")).count()
    gen = t.filter(F.col("uuid").startswith("gen-")).count()
    assert known == 20 and gen == 40


def test_upsert_idempotent(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    first = sorted(tuple(r) for r in p.cat.table("market_daily_prices", None).read(spark).collect())
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    again = sorted(tuple(r) for r in p.cat.table("market_daily_prices", None).read(spark).collect())
    assert first == again, "re-running the same day must not duplicate rows"


def test_two_days_accumulate(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    p.run_full_pipeline("market", {"trade_date": "2024-01-08"})
    t = p.cat.table("market_daily_prices", None).read(spark)
    assert t.count() == 120
    assert t.select("trade_date").distinct().count() == 2


def test_weekend_rolls_to_friday(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-06"})  # Saturday
    t = p.cat.table("market_daily_prices", None).read(spark)
    days = [r[0].isoformat() for r in t.select("trade_date").distinct().collect()]
    assert days == ["2024-01-05"], "Saturday batch must land on Friday"


def test_append_mode_duplicates(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"}, mode=LoadMode.APPEND)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"}, mode=LoadMode.APPEND)
    assert p.cat.table("market_daily_prices", None).read(spark).count() == 120


class _DatePartitionedMarket(MarketDataSource):
    partition_col = "trade_date"


def test_append_loaded_is_the_rows_written_into_a_partitioned_target(
        spark, tmp_path):
    """APPEND's ``loaded`` is the row count its commit records: an empty
    batch into a partitioned target commits and loads 0, and a full
    batch loads its rows."""
    p = ETLPipeline(spark, str(tmp_path))
    t = p.cat.table("market_daily_prices", "trade_date")
    p.register(_DatePartitionedMarket(n_tickers=0))
    res = p.run_full_pipeline("market", {"trade_date": "2024-01-05"},
                              mode=LoadMode.APPEND)
    assert (res.loaded, res.failed) == (0, 0)
    assert t.current_version() == 1 and t.read(spark) is None
    p.register(_DatePartitionedMarket(n_tickers=60))
    res = p.run_full_pipeline("market", {"trade_date": "2024-01-08"},
                              mode=LoadMode.APPEND)
    assert res.loaded == 60 == t.read(spark).count()


@pytest.mark.parametrize("knobs", [
    {},  # the UPSERT batch reaches COMPACT_RATIO of the base: it folds
    {"COMPACT_RATIO": 0, "MOR_BROADCAST_BYTES": 0},  # a delta, shuffled read
], ids=["fold", "delta"])
def test_upsert_after_append_keeps_untouched_duplicates(spark, tmp_path,
                                                        monkeypatch, knobs):
    # an UPSERT replaces only the keys it carries; APPEND duplicates of
    # other keys stay, and a key it does carry keeps one row
    for name, value in knobs.items():
        monkeypatch.setattr(tables, name, value)
    p = _pipeline(spark, tmp_path)
    t = p.cat.table("market_daily_prices", None)
    for _ in range(2):
        p.run_full_pipeline("market", {"trade_date": "2024-01-05"},
                            mode=LoadMode.APPEND)
    p.run_full_pipeline("market", {"trade_date": "2024-01-08"})
    assert t.read(spark).count() == 180
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    assert t.read(spark).count() == 120
    t.compact(spark)
    days = t.read(spark).groupBy("trade_date").count().collect()
    assert sorted((r[0].isoformat(), r[1]) for r in days) == [
        ("2024-01-05", 60), ("2024-01-08", 60)]


def test_add_metadata_stamped_on_loaded_rows(spark, tmp_path):
    # F13 applied in the load path (reference base/loader.py:211-220)
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    t = p.cat.table("market_daily_prices", None).read(spark)
    assert {"created_round", "updated_round", "data_source"} <= set(t.columns)
    row = t.first()
    assert row["data_source"] == "market"
    assert row["created_round"] == "2024-01-05"


def test_update_latest_keeps_max_date_per_uuid(spark, tmp_path):
    # reference update_latest_prices (krx/loader.py:76-77,224-235)
    p = ETLPipeline(spark, str(tmp_path))
    src = MarketDataSource(n_tickers=30)
    src.update_latest = True
    p.register(src)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    p.run_full_pipeline("market", {"trade_date": "2024-01-08"})
    latest = p.cat.table("market_daily_prices_latest", None).read(spark)
    assert latest.count() == 30
    days = {r[0].isoformat() for r in latest.select("trade_date").distinct().collect()}
    assert days == {"2024-01-08"}
    # an OUT-OF-ORDER older load must not regress the slice
    p.run_full_pipeline("market", {"trade_date": "2024-01-02"})
    latest2 = p.cat.table("market_daily_prices_latest", None).read(spark)
    assert latest2.count() == 30
    assert {r[0].isoformat() for r in latest2.select("trade_date").distinct().collect()} \
        == {"2024-01-08"}
    # the main table still accumulated all three days
    assert p.cat.table("market_daily_prices", None).read(spark).count() == 90


def test_latency_alert_trips_with_zero_threshold(spark, tmp_path):
    # reference etl_config.yaml:42-43 (type: latency, threshold: 600)
    p = _pipeline(spark, tmp_path)
    p.latency_thresholds["market"] = 0.0  # everything exceeds 0 seconds
    res = p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    assert res.execution_time > 0 and not res.latency_ok and res.quality_ok
    lin = p.cat.table("etl_lineage", None).read(spark).first()
    assert lin["status"] == "latency_exceeded"
    assert lin["execution_time"] > 0 and lin["latency_threshold"] == 0.0
    # generous budget → success
    p2 = _pipeline(spark, tmp_path / "ok")
    p2.latency_thresholds["market"] = 3600.0
    res2 = p2.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    assert res2.latency_ok
    assert p2.cat.table("etl_lineage", None).read(spark).first()["status"] == "success"


def test_phase_chain_releases_extract_cache(spark, tmp_path):
    # ADVICE r2: the extract envelope's frame must not stay cached once
    # the chain ends — it is fenced with a local checkpoint, which the
    # CacheManager never holds, so nothing is left to release
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    p = _pipeline(spark, tmp_path)
    ex = p.extract_data("market", {"trade_date": "2024-01-05"})
    raw = ex["data"]
    assert ex["record_count"] == 60
    tr = p.transform_data("market", raw)
    res = p.load_data("market", tr["data"], tr["quarantine"])["result"]
    assert res.loaded == 60
    assert not (raw.storageLevel.useMemory or raw.storageLevel.useDisk)
    assert cm.numCachedEntries() == before, \
        "the extract → load chain must leave no cache entry"


def test_insert_mode_clean_then_conflict(spark, tmp_path):
    # reference INSERT: bulk insert; a key conflict is an ERROR and
    # nothing is written (krx/loader.py:139-160 IntegrityError rollback)
    import pytest

    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"}, mode=LoadMode.INSERT)
    t = p.cat.table("market_daily_prices", None)
    assert t.read(spark).count() == 60
    v_before = t.current_version()
    with pytest.raises(ValueError, match="INSERT conflict"):
        p.run_full_pipeline("market", {"trade_date": "2024-01-05"},
                            mode=LoadMode.INSERT)
    assert t.current_version() == v_before  # rollback: no new snapshot
    # a non-overlapping date inserts fine
    p.run_full_pipeline("market", {"trade_date": "2024-01-08"}, mode=LoadMode.INSERT)
    assert t.read(spark).count() == 120


def test_update_mode_only_touches_matched(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    # UPDATE into an empty table: loads nothing, creates nothing
    res0 = p.run_full_pipeline("market", {"trade_date": "2024-01-05"},
                               mode=LoadMode.UPDATE)
    assert res0.loaded == 0
    assert p.cat.table("market_daily_prices", None).read(spark) is None
    # seed day 1, then UPDATE with day-2 params: same (uuid, trade_date)
    # conflict keys never match a different date → still nothing new
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    before = p.cat.table("market_daily_prices", None).read(spark).count()
    p.run_full_pipeline("market", {"trade_date": "2024-01-08"}, mode=LoadMode.UPDATE)
    t = p.cat.table("market_daily_prices", None).read(spark)
    assert t.count() == before  # no inserts in UPDATE mode
    days = {r[0].isoformat() for r in t.select("trade_date").distinct().collect()}
    assert days == {"2024-01-05"}
    # UPDATE with matching keys rewrites the matched rows in place
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"}, mode=LoadMode.UPDATE)
    assert p.cat.table("market_daily_prices", None).read(spark).count() == before


def test_update_mode_counts_skipped_and_trips_quality_gate(spark, tmp_path):
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    # UPDATE against a disjoint date: every row is skipped
    res = p.run_full_pipeline("market", {"trade_date": "2024-01-08"},
                              mode=LoadMode.UPDATE)
    assert res.loaded == 0 and res.skipped == 60
    assert res.success_rate == 0.0 and not res.quality_ok
    lin = p.cat.table("etl_lineage", None).read(spark) \
        .filter("status = 'quality_failed'").first()
    assert lin is not None and lin["skipped"] == 60 and lin["loaded"] == 0


def test_insert_conflict_releases_pinned_extract(spark, tmp_path):
    import pytest

    cm = spark._jsparkSession.sharedState().cacheManager()
    p = _pipeline(spark, tmp_path)
    p.run_full_pipeline("market", {"trade_date": "2024-01-05"})
    before = cm.numCachedEntries()
    env = p.extract_data("market", {"trade_date": "2024-01-05"})
    tr = p.transform_data("market", env["data"])
    with pytest.raises(ValueError, match="INSERT conflict"):
        p.load_data("market", tr["data"], tr["quarantine"], mode=LoadMode.INSERT)
    assert cm.numCachedEntries() == before, \
        "a failed load must leave no cache entry"
    assert not (env["data"].storageLevel.useMemory or env["data"].storageLevel.useDisk)


def test_update_latest_same_order_value_new_batch_wins(spark, tmp_path):
    """A same-date re-load carries corrections: on an equal order value
    the incoming batch must win deterministically."""
    from types import SimpleNamespace

    p = ETLPipeline(spark, str(tmp_path))
    src = SimpleNamespace(target_table="prices", latest_keys=["uuid"],
                          latest_order_col="d")
    b1 = spark.createDataFrame([("u1", "2024-01-05", 10.0)], "uuid string, d string, v double")
    b2 = spark.createDataFrame([("u1", "2024-01-05", 99.0)], "uuid string, d string, v double")
    p._update_latest(src, b1)
    p._update_latest(src, b2)
    got = p.cat.table("prices_latest", None).read(spark).collect()
    assert len(got) == 1 and got[0]["v"] == 99.0
