"""Physical-plan quality gates (SURVEY §7 'no per-row Python' +
pushdown/broadcast discipline). These are the .explain() properties the
engine is designed around; regressions here are scale bugs even when
results stay correct."""

import ast
import dataclasses
import glob
import os
import re

from pyspark.sql import functions as F

from hyperion_crawler_spark.config import CrawlConfig
from hyperion_crawler_spark.plans.round import canonical_url_rows
from hyperion_crawler_spark.synth import gen_frontier_distributed

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_shipdate") < "1996-01-01")
          .select("l_orderkey", "l_quantity"))
    p = _plan(df)
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(df))
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity"}, f"scan reads {cols}"


def test_fk_check_uses_broadcast_join(spark):
    import __spark_entry__ as E

    p = _plan(E.q13_fk_semi_anti(spark, SF))
    assert "BroadcastHashJoin" in p


def test_scheduling_plan_has_no_row_python(spark, crawl_cfg):
    fr = gen_frontier_distributed(spark, 1000, 50)
    cand = canonical_url_rows(fr, "url", "image_id", "priority", crawl_cfg,
                              [F.col("image_id")])
    p = _plan(cand)
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF in the hot path"
    # canonicalizer is Arrow-vectorized and only on the messy branch
    assert "ArrowEvalPython" in p


def test_dedup_is_single_exchange_hash_agg(spark, crawl_cfg):
    fr = gen_frontier_distributed(spark, 1000, 50)
    cand = canonical_url_rows(fr, "url", "image_id", "priority", crawl_cfg,
                              [F.col("image_id")])
    p = _plan(cand)
    assert p.count("Exchange") == 1, "first-wins dedup must be one shuffle"
    # min_by over a struct value lowers to SortAggregate — what matters
    # is the MAP-SIDE PARTIAL aggregation before the exchange (narrow
    # shuffle) and that no global Window sort crept back in
    assert "partial_min_by" in p, "map-side combine missing"
    assert "Window" not in p, "dedup regressed to a window sort"


def test_no_row_udfs_in_source_tree():
    """The reference transforms per-row in Python (its whole
    transformer.py); this engine bans that: no F.udf / @udf outside
    pandas_udf in the package."""
    bad = []
    for path in glob.glob("hyperion_crawler_spark/**/*.py", recursive=True):
        src = open(path).read()
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"\bF\.udf\(|@udf\b|\budf\(lambda", line):
                bad.append(f"{path}:{i}")
    assert not bad, f"row-at-a-time UDFs found: {bad}"


def test_spread_gates_on_partition_count_without_a_job(spark):
    """``relational.spread`` shuffles an under-parallel scan once and
    leaves a frame that is already as wide as the cluster alone, and it
    decides from the plan: no Spark job starts while it runs."""
    from hyperion_crawler_spark.operators.relational import spread

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    scan = spark.read.parquet(f"{SF}/documents.parquet")
    wide = spark.range(1000, numPartitions=sc.defaultParallelism)
    # one partition, but behind an exchange: its RDD would run the map stage
    shuffled = spark.range(1000).repartition(1)
    bus.waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(None))
    spread_scan, spread_wide = spread(scan), spread(wide)
    spread_shuffled = spread(shuffled)
    bus.waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == jobs, \
        "the spread gate ran a Spark job"
    assert scan.rdd.getNumPartitions() == 1
    assert _plan(spread_scan).count("RoundRobinPartitioning") == 1
    assert "Exchange" not in _plan(spread_wide)
    assert spread_shuffled is shuffled


def test_no_ungated_spread_in_source_tree():
    """The input spread lives in one gated helper
    (``relational.spread``): no other code repartitions to a count
    sized from defaultParallelism."""
    paths = (glob.glob("hyperion_crawler_spark/**/*.py", recursive=True)
             + glob.glob("scripts/*.py") + ["__spark_entry__.py"])
    bad = []
    for path in paths:
        src = open(path).read()
        for m in re.finditer(r"repartition\(\s*[^()]*defaultParallelism", src):
            bad.append(f"{path}:{src.count(chr(10), 0, m.start()) + 1}")
    assert not bad, f"ungated spread (use relational.spread): {bad}"


def test_no_cache_calls_in_source_tree():
    """One caching rule (README "Caching"): a frame with two or more
    readers is fenced by the function that makes it, with
    ``localCheckpoint``. No engine module or CLI driver persists,
    caches or releases a frame by hand."""
    paths = (glob.glob("hyperion_crawler_spark/**/*.py", recursive=True)
             + glob.glob("scripts/run_*.py"))
    bad = []
    for path in paths:
        src = open(path).read()
        for m in re.finditer(r"\.persist\(|\.cache\(|\.unpersist\(", src):
            bad.append(f"{path}:{src.count(chr(10), 0, m.start()) + 1}")
    assert not bad, f"persist/cache/unpersist (fence with localCheckpoint): {bad}"


def test_one_url_admission_path():
    """One URL-admission path (README module map): the Bloom
    probe+update is called only in ``plans/round.py`` — by
    ``admit_seeds``, which the bootstrap and every seed-ingest batch
    call, and by ``run_round`` — and no module keeps a second seen set
    in the streaming state store."""
    calls, stateful = [], []
    for path in glob.glob("hyperion_crawler_spark/**/*.py", recursive=True):
        src = open(path).read()
        if "applyInPandasWithState" in src:
            stateful.append(path)
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and getattr(node.func, "id", None) == "probe_and_update"):
                    calls.append((os.path.normpath(path), fn.name))
    round_py = os.path.join("hyperion_crawler_spark", "plans", "round.py")
    assert sorted(calls) == [(round_py, "admit_seeds"), (round_py, "run_round")]
    assert not stateful, f"applyInPandasWithState in {stateful}"


def test_shadow_off_crawl_opens_no_seen_exact_table(spark, fixture_dfs, crawl_cfg,
                                                    tmp_path):
    """With ``exact_seen_shadow`` off, neither the bootstrap nor a round
    opens the ``seen_exact`` table: opening a handle creates its
    directory and ``props.json``, which ``Catalog.expire`` then visits."""
    from hyperion_crawler_spark.plans.loop import run_crawl

    store = str(tmp_path / "store")
    cfg = dataclasses.replace(crawl_cfg, exact_seen_shadow=False)
    out = run_crawl(spark, store, cfg, fixture_dfs["corpus"],
                    fixture_dfs["links"], fixture_dfs["robots"],
                    fixture_dfs["seeds"], n_rounds=2)
    assert [m["round"] for m in out] == [0, 1, 2]
    assert os.path.isdir(os.path.join(store, "seen_filters"))
    assert not os.path.exists(os.path.join(store, "seen_exact"))


def test_failed_round_leaves_no_cached_plans(spark, fixture_dfs, crawl_cfg,
                                             tmp_path, monkeypatch):
    """A round whose archive append raises propagates the error and
    leaves the CacheManager as it found it: the round's fences are
    local checkpoints, so there is no release step for the error to
    skip."""
    import pytest

    from hyperion_crawler_spark.plans.loop import run_crawl
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    store = str(tmp_path / "store")
    run_crawl(spark, store, crawl_cfg, fixture_dfs["corpus"],
              fixture_dfs["links"], fixture_dfs["robots"],
              fixture_dfs["seeds"], n_rounds=0)
    orig_append = SnapshotTable.append

    def failing_append(self, df, *args, **kwargs):
        if self.name == "archive":
            raise RuntimeError("archive append failed")
        return orig_append(self, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "append", failing_append)
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    with pytest.raises(RuntimeError, match="archive append failed"):
        run_crawl(spark, store, crawl_cfg, fixture_dfs["corpus"],
                  fixture_dfs["links"], fixture_dfs["robots"],
                  fixture_dfs["seeds"], n_rounds=1)
    assert cm.numCachedEntries() == before, "failed round leaked cache entries"


def test_embedding_topk_broadcasts_queries(spark):
    """q20's scoring must never shuffle the corpus by a pair key: the
    query set rides to the executors as a broadcast — a task broadcast
    into the scoring kernel on the dim-known path (r7; plan shows
    MapInPandas and no join at all), or a broadcast join relation on
    the fold path. A SortMergeJoin/ShuffledHashJoin here is the
    scale bug this gate exists for."""
    import __spark_entry__ as E
    from hyperion_crawler_spark.operators import similarity as SIM

    p = _plan(E.q20_embedding_topk(spark, SF))
    assert "MapInPandas" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # the dim-agnostic fold form keeps the broadcast-NL-join shape
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    pf = _plan(SIM.brute_force_topk(e.filter(F.col("vec_id") % 100 == 0), e))
    assert "BroadcastNestedLoopJoin" in pf or "BroadcastHashJoin" in pf


def _formatted_plan(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _scheduled_shape(fixture_dfs):
    seeds = fixture_dfs["seeds"]
    return seeds.select(
        F.xxhash64("url").alias("urlhash"), "url",
        F.lower(F.regexp_extract("url", r"://([^/:]+)", 1)).alias("host"),
        "image_id", F.lit(0).alias("retry_count"), "priority",
        F.lit(0).alias("shard"), F.lit(0).alias("discovered_round"))


def test_fetch_plan_never_shuffles_corpus(spark, fixture_dfs):
    """The 100 TB gate: the corpus payload (BinaryType ``bytes``) must
    never cross an Exchange — the schedule is broadcast into an inner
    BroadcastHashJoin and the anti-join projects only image_id."""
    from hyperion_crawler_spark.plans.fetch import fetch_and_validate

    df = fetch_and_validate(_scheduled_shape(fixture_dfs), fixture_dfs["corpus"])
    p = _formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    for block in p.split("\n\n"):
        first = block.strip().splitlines()[0] if block.strip() else ""
        if re.match(r"\(\d+\) .*Exchange", first):
            assert "bytes#" not in block, f"payload crosses an Exchange:\n{block}"


def test_bucketed_corpus_read_prunes_files(spark, fixture_dfs, tmp_path):
    """Storage-partition pruning: a schedule touching a few buckets must
    read only those buckets' payload files from the corpus table."""
    from hyperion_crawler_spark.plans import fetch as FT
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    n_buckets = 16
    t = SnapshotTable(str(tmp_path), "corpus", "img_bucket")
    FT.write_bucketed_corpus(t, fixture_dfs["corpus"], n_buckets)
    sched = fixture_dfs["corpus"].select("image_id").orderBy("image_id").limit(5)
    touched = {r[0] for r in sched.select(
        FT.corpus_bucket(F.col("image_id"), n_buckets).alias("b")).distinct().collect()}
    pruned = FT.read_corpus_for_schedule(spark, t, sched, n_buckets)
    files = pruned.inputFiles()
    all_files = t.read(spark).inputFiles()
    assert files and len(files) < len(all_files), "no file skipping happened"
    for f in files:
        m = re.search(r"_pv=(\d+)", f)
        assert m and int(m.group(1)) in touched, f"cold file read: {f}"
    assert pruned.join(sched, "image_id", "left_semi").count() == 5


def test_bucketed_corpus_modulus_is_persisted_and_guarded(spark, fixture_dfs, tmp_path):
    """The bucket modulus lives in the snapshot meta: a resume that
    passes a different --corpus-buckets must hard-error (mispruning
    would silently quarantine scheduled URLs), and omitting it derives
    the stored value."""
    import pytest

    from hyperion_crawler_spark.plans import fetch as FT
    from hyperion_crawler_spark.sources.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path), "corpus", "img_bucket")
    FT.write_bucketed_corpus(t, fixture_dfs["corpus"], 16)
    assert FT.corpus_bucket_count(t) == 16
    sched = fixture_dfs["corpus"].select("image_id").orderBy("image_id").limit(3)
    assert FT.read_corpus_for_schedule(spark, t, sched).count() > 0      # derived
    assert FT.read_corpus_for_schedule(spark, t, sched, 16).count() > 0  # matching
    with pytest.raises(ValueError, match="bucketed with 16"):
        FT.read_corpus_for_schedule(spark, t, sched, 8)
    # un-bucketed table (no meta) is rejected up front
    t2 = SnapshotTable(str(tmp_path), "plain", "img_bucket")
    t2.overwrite(fixture_dfs["corpus"].withColumn(
        "img_bucket", FT.corpus_bucket(F.col("image_id"), 4)))
    with pytest.raises(ValueError, match="no corpus_buckets meta"):
        FT.read_corpus_for_schedule(spark, t2, sched)


def test_exact_dedup_is_minby_agg_not_window(spark):
    """VERDICT r2 #8: exact_dedup must use the single-exchange min_by
    hash-agg shape (digests are mostly unique — a window sorts the
    whole corpus for nothing)."""
    from hyperion_crawler_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(100)], "doc_id long, text string")
    p = _plan(exact_dedup(docs, "doc_id", "text"))
    assert "Window" not in p, "exact_dedup regressed to a window sort"
    assert "partial_min_by" in p, "map-side combine missing"


def test_fetch_broadcast_guard_falls_back_to_shuffle(spark, fixture_dfs, crawl_cfg,
                                                     monkeypatch):
    """ADVICE r2: above the row cap the schedule must NOT be broadcast
    (Spark's 8GB/512M-row broadcast hard limit would hard-fail the
    round) — and the fallback must produce identical results."""
    from hyperion_crawler_spark.plans import fetch
    from hyperion_crawler_spark.plans.fetch import fetch_and_validate
    from hyperion_crawler_spark.plans.round import canonical_url_rows
    from hyperion_crawler_spark.operators.politeness import schedule_round

    frontier = canonical_url_rows(
        fixture_dfs["seeds"], "url", "image_id", "priority", crawl_cfg,
        [F.col("image_id")]).withColumn("retry_count", F.lit(0)) \
        .withColumn("discovered_round", F.lit(0)) \
        .withColumn("status", F.lit("queued")) \
        .withColumn("next_fetch_ts", F.lit(0).cast("long"))
    sched, _ = schedule_round(frontier, fixture_dfs["robots"], crawl_cfg)
    sched = sched.persist()
    try:
        normal = fetch_and_validate(sched, fixture_dfs["corpus"])
        monkeypatch.setattr(fetch, "BROADCAST_ROW_CAP", 0)
        fallback = fetch_and_validate(sched, fixture_dfs["corpus"])
        # the fallback drops the explicit broadcast hint (AQE may still
        # auto-broadcast a small schedule at test scale — the guard is
        # about not FORCING a broadcast past the hard limit); results
        # must be identical either way
        assert sorted(map(tuple, normal.collect())) == \
            sorted(map(tuple, fallback.collect()))
    finally:
        sched.unpersist()


def _physical_nodes(p):
    """Every node of an executed physical plan, descending into AQE query
    stages and reused exchanges."""
    cls = p.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [p.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [p.plan()]
    elif cls == "ReusedExchangeExec":
        kids = [p.child()]
    else:
        kids = [p.children().apply(i) for i in range(p.children().size())]
    yield p
    for k in kids:
        yield from _physical_nodes(k)


def test_generators_read_the_checkpoint_fence(spark, monkeypatch):
    """The O(L) fingerprint, signature and window-hash projections are
    cut by a local checkpoint before they are exploded: each Generate
    reads the checkpoint's RDD scan through row-local nodes only, so the
    optimizer cannot re-inline the projection into the generator and
    evaluate it once per exploded element."""
    from hyperion_crawler_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .filter(F.col("doc_id") < 30).select("doc_id", "text")
    # planted near-dups (first token dropped): with no candidate pairs
    # AQE would prune the joins, and the generators with them
    docs = docs.unionByName(docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text")))
    row_local = {"ProjectExec", "FilterExec", "WholeStageCodegenExec",
                 "InputAdapter"}
    monkeypatch.setattr(DD, "LONG_DOC_TOKENS", 0)   # every doc: exploded scrub
    cases = {
        "winnowing_pairs": (DD.winnowing_pairs(docs, "doc_id", "text"), None),
        "minhash_lsh_pairs": (DD.minhash_lsh_pairs(docs, "doc_id", "text"), None),
        # the exploded scrub also expands duplicate starts to covered
        # positions — a Generate over a Window, not over the hashes
        "scrub_repeated_windows": (DD.scrub_repeated_windows(
            docs, "doc_id", "text"), "posexplode"),
    }
    for name, (df, generator) in cases.items():
        df.collect()
        gens = [n for n in _physical_nodes(df._jdf.queryExecution().executedPlan())
                if n.getClass().getSimpleName() == "GenerateExec"
                and generator in (None, n.generator().prettyName())]
        assert gens, f"{name}: no Generate in the executed plan"
        for g in gens:
            node = g.child()
            while node.getClass().getSimpleName() in row_local:
                node = node.children().apply(0)
            assert node.getClass().getSimpleName() == "RDDScanExec", \
                f"{name}: Generate reads {node.nodeName()}, not the checkpoint"


# Spark jobs of round 1 on the shared fixture (crawl_cfg, local[8]).
ROUND_JOBS = 25


def test_round_runs_its_job_budget_and_one_lineage_row(spark, fixture_dfs,
                                                       crawl_cfg, tmp_path):
    """A crawl round runs only the jobs its work needs: no job that only
    counts rows or infers a schema, and one barrier aggregate that also
    yields the round's totals. The Spark job count of round 1 on the
    shared fixture is pinned, and the round writes one lineage row
    whose totals equal the returned dict."""
    from hyperion_crawler_spark.plans.loop import run_crawl
    from hyperion_crawler_spark.plans.round import run_round
    from hyperion_crawler_spark.sources.tables import Catalog

    store = str(tmp_path / "store")
    run_crawl(spark, store, crawl_cfg, fixture_dfs["corpus"],
              fixture_dfs["links"], fixture_dfs["robots"],
              fixture_dfs["seeds"], n_rounds=0)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = run_round(spark, Catalog(store, writer="crawl"), crawl_cfg, 1,
                    fixture_dfs["corpus"], fixture_dfs["links"],
                    fixture_dfs["robots"])
    bus.waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    assert len(jobs) == ROUND_JOBS, f"round 1 ran {len(jobs)} Spark jobs"

    lineage = Catalog(store).table("lineage", "round").read(spark).collect()
    assert len(lineage) == 1
    row = lineage[0]
    assert (row["round"], row["status"]) == (1, "success")
    assert out["scheduled"] > 0 and out["fetched"] > 0
    assert (row["urls_scheduled"], row["fetched"], row["failed"], row["deduped"]) \
        == (out["scheduled"], out["fetched"], out["failed"], out["deduped"])


def _compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM (CodegenMetrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_round_reuses_generated_classes(spark, fixture_dfs,
                                                 crawl_cfg, tmp_path):
    """One crawl round generates more classes than Spark's default
    code-generation cache holds (100), so a second round would compile
    them again. ``get_spark`` sizes the cache to hold a round: the same
    round run again, on a restored copy of the store, compiles almost
    nothing."""
    import shutil

    from hyperion_crawler_spark.plans.loop import run_crawl
    from hyperion_crawler_spark.plans.round import run_round
    from hyperion_crawler_spark.sources.tables import Catalog

    store, copy = str(tmp_path / "store"), str(tmp_path / "copy")
    run_crawl(spark, store, crawl_cfg, fixture_dfs["corpus"],
              fixture_dfs["links"], fixture_dfs["robots"],
              fixture_dfs["seeds"], n_rounds=0)
    shutil.copytree(store, copy)
    compiled = []
    for _ in range(2):
        shutil.rmtree(store)
        shutil.copytree(copy, store)
        before = _compiled_classes(spark)
        run_round(spark, Catalog(store, writer="crawl"), crawl_cfg, 1,
                  fixture_dfs["corpus"], fixture_dfs["links"],
                  fixture_dfs["robots"])
        compiled.append(_compiled_classes(spark) - before)
    assert compiled[1] < 10, f"classes compiled per run: {compiled}"
