"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl-scheduling pipeline over
sf0.001; ``queries()`` exposes one callable per implemented operator
from SURVEY.md §2 plus the training-data-pipeline suite; ``oracle_sql``
returns the DuckDB-runnable ANSI mirror of each query (identical
column names and, where floating point is involved, identical
expression shapes so value-hashes match).

Non-SQL-expressible entries (the stateful crawl loop itself, Bloom
probe, LSH recall) are covered by pytest golden tests instead
(tests/test_crawl_parity.py) and intentionally have no oracle entry.
"""

from __future__ import annotations

import gc
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hyperion_crawler_spark.config import CrawlConfig  # noqa: E402
from hyperion_crawler_spark.functions import text as TX  # noqa: E402
from hyperion_crawler_spark.functions import scalars as SC  # noqa: E402
from hyperion_crawler_spark.functions.scalars import (  # noqa: E402
    clean_numeric,
    change_amount,
    json_field,
    trading_value,
    weekend_roll,
)
from hyperion_crawler_spark.operators import dedup as DD  # noqa: E402
from hyperion_crawler_spark.operators import relational as R  # noqa: E402
from hyperion_crawler_spark.operators import ranking as RK  # noqa: E402
from hyperion_crawler_spark.operators import similarity as SIM  # noqa: E402
from hyperion_crawler_spark.operators.politeness import topk_per_host  # noqa: E402
from hyperion_crawler_spark.plans.round import canonical_url_rows  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _with_gc(fn):
    def run(spark, sf_dir):
        # Python-side plan/broadcast wrappers from earlier invocations
        # hold their JVM counterparts alive until finalizers run; a
        # collection here lets the ContextCleaner release them before
        # the next timed execution (measured: the 14th query of a
        # session ran 3.9 s with ~1k uncollected wrappers vs 1.6-2.2 s
        # after collection — same query, same plan). Runs at BUILD
        # time, ~10 ms.
        gc.collect()
        return fn(spark, sf_dir)
    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def _pround(col, n: int):
    """Cross-engine-portable rounding: floor(x·10^n + 0.5)/10^n computed
    on the raw double. Spark's round() re-parses the double's shortest
    decimal repr (BigDecimal HALF_UP) while DuckDB rounds the raw binary
    value — they disagree on exact .5-cent boundaries; floor arithmetic
    is bit-identical in both."""
    s = float(10 ** n)
    return F.floor(col * s + F.lit(0.5)) / s


_SQL_PROUND = "floor({x} * {s} + 0.5) / {s}"


# =====================================================================
# entry — flagship query (smoke check at sf0.001)
# =====================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one crawl-scheduling pass over a frontier derived from
    the orders table — canonicalize → hash → first-wins dedup →
    skew-safe per-host top-k (budget 5) → priority-ordered schedule."""
    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    cfg = CrawlConfig(n_shards=16, salt_buckets=4)
    raw = orders.select(
        F.concat(F.lit("HTTP://Host"), F.lpad(F.pmod("o_custkey", F.lit(50)).cast("string"), 4, "0"),
                 F.lit(".Example:80/o/"), F.col("o_orderkey").cast("string"),
                 F.lit("?utm_source=entry")).alias("raw_url"),
        F.concat(F.lit("img"), F.lpad(F.col("o_orderkey").cast("string"), 10, "0")).alias("image_id"),
        (F.col("o_totalprice") / 1e6).alias("pri"),
    )
    cand = canonical_url_rows(raw, "raw_url", "image_id", "pri", cfg,
                              [F.col("image_id")])
    scheduled = topk_per_host(cand.withColumn("budget", F.lit(5).cast("long")), cfg)
    return scheduled.select("host", "url", "urlhash", F.round("priority", 6).alias("priority")) \
                    .orderBy(F.col("priority").desc(), F.col("urlhash").asc())


# =====================================================================
# query implementations (spark, sf_dir) -> DataFrame
# =====================================================================
def q01_first_wins_dedup(spark, sf):
    # project BEFORE the dedup: min_by(struct(payload)) carries every
    # non-key column through a SortAggregate (struct buffers are not
    # hash-aggregable), so the untrimmed form sorts all 11 lineitem
    # columns; only the order keys + (returnflag, quantity) are ever
    # read downstream (guide §2.3 — project before the exchange;
    # ReadSchema drops 11 → 7 columns, same winner per key)
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_returnflag", "l_quantity")
    # aggregate form: l_orderkey is high-cardinality (the windowed form
    # sorts the whole table; min_by hash-combines map-side)
    kept = R.first_wins_dedup_agg(
        li, ["l_orderkey"],
        [F.col("l_linenumber"), F.col("l_partkey"),
         F.col("l_suppkey"), F.col("l_extendedprice")])
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


def q02_latest_topk(spark, sf):
    """W1 latest-per-key + O1 rank/top-k as one labeled union (r5:
    consolidation of the former q02/q03 so the whole contract fits the
    driver's 50-query correctness window; both operators still run and
    value-check — 'latest' rows from R.latest_per_key, 'topk' rows
    from R.topk_per_key)."""
    # narrow BEFORE the two window sorts: each window sorts its full
    # input rows, so the untouched 9-column orders rows pay ~2× the
    # sort bytes of the 4 columns actually used (guide §2.3)
    o = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    latest = R.latest_per_key(o, ["o_custkey"], F.col("o_orderdate"),
                              [F.col("o_orderkey").desc()]) \
        .select(F.lit("latest").alias("kind"), "o_custkey", "o_orderkey",
                F.lit(1).cast("int").alias("rank"))
    topk = R.topk_per_key(o, ["o_custkey"],
                          [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3) \
        .select(F.lit("topk").alias("kind"), "o_custkey", "o_orderkey", "rank")
    return latest.unionByName(topk)


def q04_consensus_histogram(spark, sf):
    ev = _t(spark, sf, "events")
    return R.consensus_histogram(ev, "event_type", (F.col("event_id") % 5 + 1))


def q05_validity_filter(spark, sf):
    li = _t(spark, sf, "lineitem")
    valid = ((F.col("l_quantity") > 0) & (F.col("l_extendedprice") >= 0)
             & F.col("l_discount").between(0, 0.5) & (F.col("l_tax") >= 0))
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(valid, 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(valid, 0).otherwise(1)).alias("n_invalid"))


def q06_scalar_clean(spark, sf):
    li = _t(spark, sf, "lineitem")
    messy = F.concat(F.lit("₩"), F.floor(F.col("l_extendedprice") * 100).cast("string"))
    cleaned = clean_numeric(messy) / 100.0
    # change_amount/trading_value (scalars.py F3/F4) use Spark round();
    # the oracle query uses the portable floor-round so DuckDB matches
    # bit-for-bit on .5-cent boundaries
    return li.select(
        "l_orderkey", "l_linenumber",
        _pround(cleaned, 2).alias("cleaned_price"),
        _pround(cleaned * (F.col("l_discount") * 100) / 100.0, 2).alias("change_amt"),
        _pround(cleaned * F.col("l_quantity"), 2).alias("trade_val"))


def q08_lookup_or_create(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") % 3 != 0) \
        .select(F.col("c_custkey").alias("o_custkey"), F.col("c_name").alias("uuid"))
    gen = F.concat(F.lit("gen_"), F.substring(F.sha2(F.col("o_custkey").cast("string"), 256), 1, 16))
    return R.lookup_or_create(o, c, ["o_custkey"], "uuid", gen) \
            .select("o_orderkey", "o_custkey", "uuid")


def q10_replace_partition(spark, sf):
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("yr"))
    source = o.filter(F.col("yr") == 1995).withColumn("o_totalprice", F.lit(0.0))
    out = R.replace_partition(o, source, "yr", [1995])
    return out.groupBy("yr").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_total"))


def q12_filter_json(spark, sf):
    """P5/P6 value+set filters composed with the F-scalar JSON
    extraction (r5: consolidation of the former q11/q12 — the filter
    predicates AND the json_field stats value-check in one query)."""
    ev = _t(spark, sf, "events")
    k = json_field(F.col("props"), "$.k").cast("long")
    return (ev.filter((F.col("value") > 0)
                      & F.col("event_type").isin("click", "view", "purchase"))
              .select("event_type", k.alias("k"), "value")
              .groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.round(F.sum("value"), 2).alias("sum_value"),
                   F.round(F.avg("k"), 6).alias("avg_k"),
                   F.min("k").alias("min_k"), F.max("k").alias("max_k")))


def q13_fk_semi_anti(spark, sf):
    li = _t(spark, sf, "lineitem")
    dim = _t(spark, sf, "part").filter(F.col("p_partkey") % 5 != 0) \
        .select(F.col("p_partkey").alias("l_partkey"), F.lit(1).alias("_hit"))
    j = li.join(F.broadcast(dim), "l_partkey", "left")
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).alias("n_valid"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("n_quarantined"))


def q14_projection_defaults(spark, sf):
    c = _t(spark, sf, "customer")
    mapped = R.map_fields(c.withColumn("seg", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))),
                          {"cust_id": "c_custkey", "name": "c_name", "seg": "seg",
                           "acctbal": "c_acctbal"})
    return R.apply_defaults(mapped, {"seg": "UNKNOWN"})


def _docs_with_exact_dups(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    dups = d.filter(F.col("doc_id") % 10 == 0) \
            .withColumn("doc_id", F.col("doc_id") + 200000)
    return d.unionByName(dups)


def q15_exact_dedup_docs(spark, sf):
    d = _docs_with_exact_dups(spark, sf)
    deduped = DD.exact_dedup(d, "doc_id", "text")
    joined = deduped.join(d.select("doc_id", "lang"), "doc_id")
    return joined.groupBy("lang").agg(F.count("*").alias("n_unique"))


def _docs_with_near_dups(spark, sf):
    """documents(doc_id<200) ∪ drop-first-token variants (id+100000)."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200).select("doc_id", "text")
    variants = d.select((F.col("doc_id") + 100000).alias("doc_id"),
                        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"))
    return d.unionByName(variants)


def q16_ngram_jaccard(spark, sf):
    d = _docs_with_near_dups(spark, sf)
    return DD.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


def q18_minhash_lsh_pairs(spark, sf):
    d = _docs_with_near_dups(spark, sf)
    return DD.minhash_lsh_pairs(d, "doc_id", "text", jaccard_threshold=0.5)


def q19_simhash(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return DD.simhash_df(d, "doc_id", "text")


def q20_embedding_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    queries = e.filter(F.col("vec_id") % 25 == 0)
    # peek the (constant) embedding dim at plan-build time so the pair
    # scoring runs in the numpy _exact_scored_rows kernel instead of
    # interpreted HOF folds — bit-identical cos values (same
    # left-associated sum; equality vs the fold form pinned in tests;
    # speedup measured in OPTIMIZATION_r07.md)
    row = e.select("embedding").head()
    dim = len(row[0]) if row else None
    return SIM.brute_force_topk(queries, e, k=5, dim=dim)


def q21_embedding_near_dup(spark, sf):
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200) \
        .select("vec_id", "embedding")
    pert = e.select((F.col("vec_id") + 100000).alias("vec_id"),
                    F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("embedding"))
    return SIM.embedding_near_dup_pairs(e.unionByName(pert), threshold=0.8)


def q22_text_quality(spark, sf):
    # fp (r5): absorbed the former q24_fingerprint — the per-document
    # fingerprint value-checks here without the redundant groupBy query.
    # r5 widening: Gopher-style repetition signals
    # (operators/quality.repetition_profile — top-bigram coverage +
    # duplicate-bigram fraction) ride the same driver window slot.
    from hyperion_crawler_spark.operators.quality import repetition_profile

    d = R.spread(_t(spark, sf, "documents"))
    rep = repetition_profile(d, "doc_id", "text", n=2)
    # PII scrub (r5 widening #2): the corpus text is PII-free, so each
    # doc_id%4 class gets a deterministic identifier suffix — counts
    # and the redacted length then value-check the full scrub pipeline
    m4 = F.col("doc_id") % 4
    ptxt = F.concat(
        F.col("text"),
        F.when(m4 == 0, F.lit(" reach admin@crawl.example.org"))
         .when(m4 == 1, F.lit(" node 172.16.254.3 up"))
         .when(m4 == 2, F.lit(" call +1 650 555 0100"))
         .otherwise(F.lit("")))
    # TWO projection branches joined on doc_id instead of one giant
    # projection: the combined metrics+PII expression list generates a
    # whole-stage method past the JIT compilation threshold and the
    # stage runs ~6× slower (measured 3.0 s vs 0.5+0.4 s for the
    # branches at sf1.0; both joins broadcast under AQE, so the split
    # costs no shuffle). Values are per-row and unchanged.
    base = d.select("doc_id", *TX.quality_metrics(F.col("text")),
                    TX.quality_score(F.col("text")).alias("quality"),
                    TX.fingerprint(F.col("text")).alias("fp"))
    pii = d.select("doc_id", *TX.pii_counts(ptxt),
                   F.length(TX.redact_pii(ptxt)).alias("red_len"))
    out = base.join(pii, "doc_id")
    return out.join(rep, "doc_id").select(
        out["*"], "top_gram",
        _pround(F.col("top_gram_frac"), 6).alias("top_gram_frac"),
        _pround(F.col("dup_gram_frac"), 6).alias("dup_gram_frac"))


def q23_lang_id(spark, sf):
    """Stopword lang-ID + token counts over the real text, PLUS the
    two-tier scripted lang-ID (functions/text.lang_id_scripted) over a
    per-doc_id%8 rewrite into CJK / Hangul / Cyrillic / Arabic / Greek
    / mixed fixtures (r5: consolidation of the former q23/q23b — both
    tiers value-check in one query: the Unicode-block tier routes the
    non-Latin scripts, Latin text falls through to the stopword
    argmax)."""
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 8
    txt = (F.when(m == 0, F.lit("これは 日本語 の テキスト です"))
           .when(m == 1, F.lit("한국어 텍스트 입니다 안녕하세요"))
           .when(m == 2, F.lit("这是一段中文文本没有假名"))
           .when(m == 3, F.lit("это русский текст привет мир"))
           .when(m == 4, F.lit("هذا نص عربي قصير"))
           .when(m == 5, F.lit("αυτό είναι ελληνικό κείμενο"))
           .when(m == 6, F.concat(F.lit("привет "), F.col("text")))
           .otherwise(F.col("text")))
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess"),
                    TX.token_count(F.col("text")).alias("n_tokens"),
                    TX.bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
                    TX.lang_id_scripted(txt).alias("lang_scripted"))


def q25_set_ops(spark, sf):
    """§2.7 set operations: union ∪, intersect ∩, except \\ as one row
    of counts (engine usage: new ∪ retry URLs; frontier minus seen)."""
    o = _t(spark, sf, "orders").select("o_orderkey")
    a = o.filter(F.col("o_orderkey") % 2 == 0)
    b = o.filter(F.col("o_orderkey") % 3 == 0)
    return spark.createDataFrame([(0,)], "dummy int").select(
        F.lit(a.unionByName(b).distinct().count()).cast("long").alias("n_union"),
        F.lit(a.intersect(b).count()).cast("long").alias("n_intersect"),
        F.lit(a.exceptAll(b).count()).cast("long").alias("n_except"),
    )


def q27_scalar_maps(spark, sf):
    """F11 parse_symbols (CSV split → trim → upper → explode → counts)
    + F7 normalize_rating (lowercase, space/dash→underscore, literal
    map lookup with pass-through default) as one labeled union (r5:
    consolidation of the former q27/q28 — both scalar kernels still
    value-check; ROLLUP dropped as a strict special case of the
    GROUPING SETS query q48)."""
    ev = _t(spark, sf, "events")
    syms = F.transform(F.split(F.concat(F.col("event_type"), F.lit(", extra , pad")), ","),
                       lambda x: F.upper(F.trim(x)))
    sym_counts = (ev.select(F.explode(syms).alias("k"))
                  .groupBy("k").agg(F.count("*").alias("n"))
                  .select(F.lit("sym").alias("kind"), "k", "n"))
    norm = F.translate(F.lower(F.col("event_type")), " -", "__")
    mapping = {"click": "engage", "view": "engage", "purchase": "convert"}
    m = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    ratings = (ev.select(F.coalesce(m[norm], norm).alias("k"))
               .groupBy("k").agg(F.count("*").alias("n"))
               .select(F.lit("rating").alias("kind"), "k", "n"))
    return sym_counts.unionByName(ratings)


def q30_politeness_schedule(spark, sf):
    """W2/O2 — the two-phase salted per-host budget top-k itself, made
    SQL-checkable: a frontier derived from orders where ``urlhash`` is
    the (DuckDB-computable) order key, so the exact politeness operator
    — including its skew-safe two-phase form — is value-verified against
    a plain window-SQL oracle."""
    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.col("o_orderkey").alias("urlhash"),
        F.concat(F.lit("http://h"), F.pmod("o_custkey", F.lit(40)).cast("string"),
                 F.lit(".ex/o/"), F.col("o_orderkey").cast("string")).alias("url"),
        F.concat(F.lit("h"), F.pmod("o_custkey", F.lit(40)).cast("string"), F.lit(".ex")).alias("host"),
        (F.col("o_totalprice") / 1e6).alias("priority"),
        (F.pmod("o_custkey", F.lit(4)) + 2).cast("long").alias("budget"),
    )
    cfg = CrawlConfig(salt_buckets=4)
    out = topk_per_host(frontier, cfg)
    return out.select("host", "urlhash", F.round("priority", 6).alias("priority"))


def q31_merge_with_delete(spark, sf):
    """S5/J5 — MERGE with UPDATE, INSERT and DELETE branches (the
    frontier-retirement shape): delete keys are retired first, then
    the upsert runs through the R.merge_upsert operator itself (r5:
    absorbed the former q09_merge_upsert — the operator is now what
    this query exercises, with the DELETE branch on top)."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    source = o.filter((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 5 != 0)) \
              .withColumn("o_totalprice", _pround(F.col("o_totalprice") * 1.1, 2))
    delete_keys = o.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    survivors = target.join(delete_keys, "o_orderkey", "left_anti")
    merged = R.merge_upsert(survivors, source, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), _pround(F.sum("o_totalprice"), 2).alias("sum_total"))


def q32_filing_scalars(spark, sf):
    """The reference's filing/market scalar family in one query (r5:
    consolidation of the former q07/q32/q33/q34 — same fixtures, same
    expressions, one row set):
    F8 normalize_target_price (falsy contract: unparseable OR zero →
    null), F10 get_filing_date_range ((start,end) | (date,date) |
    today dispatch over yyyyMMdd params with the '' ≡ None falsy
    quirk), F14 extract_filing_metadata + F15 parse_xbrl stub, and
    F5 weekend_roll."""
    o = _t(spark, sf, "orders")
    raw = (F.when(F.col("o_orderkey") % 7 == 0, F.lit("n/a"))
            .when(F.col("o_orderkey") % 5 == 0, F.lit("$0"))
            .otherwise(F.concat(F.lit("$"), F.floor(F.col("o_totalprice")).cast("string"))))
    tp = SC.normalize_target_price(raw, "USD")
    both = F.col("o_orderkey") % 3 == 0
    single_p = F.col("o_orderkey") % 3 == 1
    start = F.when(both, F.date_format("o_orderdate", "yyyyMMdd")).otherwise(F.lit(""))
    end = F.when(both, F.date_format(F.date_add("o_orderdate", 30), "yyyyMMdd")).otherwise(F.lit(""))
    single = F.when(single_p, F.date_format("o_orderdate", "yyyyMMdd")).otherwise(F.lit(""))
    today = F.lit("2024-06-30").cast("date")
    rng = SC.filing_date_range(start, end, single, today)
    filing = F.to_json(F.struct(
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("junk"))
         .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("filing_date"),
        F.col("o_orderpriority").alias("document_type"),
        F.concat(F.lit("corp-"), F.col("o_custkey").cast("string")).alias("company_name"),
        F.concat(F.lit("http://filings.example/"),
                 F.col("o_orderkey").cast("string")).alias("filing_url")))
    md = SC.extract_filing_metadata(filing)
    return o.select("o_orderkey", tp.alias("tp"), rng.alias("r"), md.alias("md"),
                    F.to_json(SC.parse_xbrl(F.lit("<xbrl/>"))).alias("xbrl"),
                    F.date_format(weekend_roll(F.col("o_orderdate")),
                                  "yyyy-MM-dd").alias("trade_date")) \
            .select("o_orderkey",
                    F.col("tp.target_price").alias("target_price"),
                    F.col("tp.currency").alias("currency"),
                    F.date_format("r.range_start", "yyyy-MM-dd").alias("range_start"),
                    F.date_format("r.range_end", "yyyy-MM-dd").alias("range_end"),
                    F.col("md.filing_date").alias("filing_date"),
                    F.col("md.document_type").alias("document_type"),
                    F.col("md.company_name").alias("company_name"),
                    F.col("md.filing_url").alias("filing_url"),
                    "xbrl", "trade_date")


def q35_ivf_topk(spark, sf):
    """IVF coarse-quantizer ANN (scale path beside the LSH tables).
    No oracle entry by design: centroid training is an iterative
    DataFrame job, not ANSI-SQL-expressible — recall is measured against
    brute_force_topk in tests/test_dedup_similarity.py instead, and the
    driver records the rows-only check."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 2000)
    queries_df = corpus.filter(F.col("vec_id") % 100 == 0)
    return SIM.ivf_topk(queries_df, corpus, dim=64, k=5, n_centroids=8, n_probe=4)


def q35b_ivf_exact(spark, sf):
    """IVF with n_probe == n_centroids: every query probes every
    cluster, so the probe equi-join covers the whole corpus and the
    result degenerates to EXACT cosine top-k — the value-level oracle
    for the IVF machinery (trained centroids, bucket assignment, probe
    join, ranking) that q35's recall-mode run can't have. The oracle is
    the same SQL-mirrorable brute force as q20 over the identical
    corpus/query slices."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 2000)
    queries_df = corpus.filter(F.col("vec_id") % 100 == 0)
    return SIM.ivf_topk(queries_df, corpus, dim=64, k=5, n_centroids=8, n_probe=8)


def q36_pagerank(spark, sf):
    """Link-graph PageRank (frontier priority re-scoring) — 2 iterations
    over an edge list derived from lineitem (supplier → part buckets),
    portable-rounded per iteration so the unrolled-CTE oracle matches."""
    from hyperion_crawler_spark.operators.graph import pagerank

    li = _t(spark, sf, "lineitem")
    edges = li.select(
        F.concat(F.lit("u"), F.col("l_suppkey").cast("string")).alias("src_url"),
        F.concat(F.lit("u"), (F.col("l_partkey") % 500).cast("string")).alias("dst_url"))
    # final output snapped to 6 digits (vs the 9-digit iteration grain):
    # a float-sum-order difference can flip one engine's 9-digit floor
    # by ±1e-9 near a .5 boundary; the coarser final grain absorbs that
    # instead of hash-mismatching (ADVICE r2)
    pr6 = F.floor(F.col("rank") * 1e6 + F.lit(0.5)) / 1e6
    return pagerank(edges, iters=2).select("url", pr6.alias("pr"))


def q38_winnowing_pairs(spark, sf):
    """Winnowing candidate-pair join: documents sharing ≥ 2 fingerprints
    (exploded fingerprint self-equi-join — shuffle ∝ collisions)."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return DD.winnowing_pairs(d, "doc_id", "text", k=8, w=4, min_shared=2) \
        .withColumn("n_shared", F.col("n_shared").cast("long"))


def q39_dup_clusters(spark, sf):
    """Connected-component duplicate clusters over winnowing candidate
    pairs (min-label propagation, 4 fixed iterations — enough for the
    shallow near-dup components here and SQL-mirrorable as an unrolled
    CTE). The keep-one-per-cluster step every pairwise dedup needs."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = DD.winnowing_pairs(d, "doc_id", "text", k=8, w=4, min_shared=2)
    return DD.dup_clusters(pairs, iters=4)


def q40_bm25(spark, sf):
    """Okapi BM25 relevance of every document against a keyword query
    (training-data selection: score against a target-domain keyword
    description, keep the top slice)."""
    d = R.spread(_t(spark, sf, "documents"))
    return RK.bm25_scores(d, "doc_id", "text",
                          ["spark", "table", "scan", "merge", "vector"])


def q41_trap_signals(spark, sf):
    """Crawler-trap signals (path depth / query-param count / repeated
    path segments) over URLs synthesized deterministically from orders —
    the frontier guard predicates as a value-checked query."""
    from hyperion_crawler_spark.functions import urls as U

    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 3000)
    nseg = F.col("o_orderkey") % 5
    nq = F.col("o_orderkey") % 4
    url = F.concat(
        F.lit("https://h"), (F.col("o_custkey") % 40).cast("string"),
        F.lit(".example.com/"),
        F.repeat(F.lit("a/b/"), nseg.cast("int")), F.lit("page"),
        F.when(nq > 0, F.concat(F.lit("?"),
                                F.substring(F.repeat(F.lit("&k=v"), nq.cast("int")), 2, 1 << 20)))
         .otherwise(F.lit("")))
    d = o.select("o_orderkey", url.alias("url"))
    return d.select(
        "o_orderkey",
        U.path_depth(F.col("url")).alias("depth"),
        U.query_param_count(F.col("url")).alias("n_params"),
        U.max_segment_repeat(F.col("url")).alias("max_repeat"),
        U.is_probable_trap(F.col("url"), max_depth=6, max_params=2,
                           max_repeat=3).alias("is_trap"))


def q42_sessionize(spark, sf):
    """Gap-based sessionization over the events stream (30-min gap):
    one row per (user, session) with counts, epoch-micro bounds and an
    exact integer-cents value sum (double sums would make the value
    hash order-dependent)."""
    from hyperion_crawler_spark.operators.sessions import session_stats

    e = _t(spark, sf, "events")
    return session_stats(e, "user_id", "ts", "event_id",
                         gap_seconds=1800, value_col="value")


def q43_dedup_keep(spark, sf):
    """End-to-end near-duplicate removal: winnowing pairs →
    connected-component clusters → keep the min-id representative per
    cluster plus all unclustered documents."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200) \
        .select("doc_id", "text")
    pairs = DD.winnowing_pairs(d, "doc_id", "text", k=8, w=4, min_shared=30)
    labels = DD.dup_clusters(pairs, iters=4)
    return DD.keep_cluster_representatives(d, "doc_id", labels).select("doc_id")


def q44_sitemap_extract(spark, sf):
    """Sitemap <loc> extraction over XML payloads synthesized from the
    part table — the discovery kernel feeding seeds_from_sitemap_xml /
    the streaming seed ingest."""
    from hyperion_crawler_spark.functions import sitemaps as SM

    p = _t(spark, sf, "part").filter(F.col("p_partkey") < 2000)
    host = (F.col("p_partkey") % 40).cast("string")
    pk = F.col("p_partkey").cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://h"), host, F.lit(".example.com/p/"),
        pk, F.lit("</loc></url>"),
        F.when(F.col("p_partkey") % 3 == 0,
               F.concat(F.lit("<url><loc> https://h"), host,
                        F.lit(".example.com/extra/"), pk, F.lit(" </loc></url>")))
         .otherwise(F.lit("")),
        F.lit("</urlset>"))
    d = p.select("p_partkey", xml.alias("xml"))
    return d.select(
        "p_partkey",
        F.explode(SM.urls_from_sitemap_xml(F.col("xml"))).alias("url"))


def q45_profile(spark, sf):
    """One-pass per-column numeric profile of lineitem (count, nulls,
    min/max, exact cents-mean, exact interpolated median)."""
    from hyperion_crawler_spark.operators.profile import profile_numeric

    li = _t(spark, sf, "lineitem")
    return profile_numeric(li, ["l_quantity", "l_extendedprice", "l_discount"])


def q46_update_only(spark, sf):
    """LoadMode.UPDATE dataflow form: source rows update matching
    target keys; unmatched source rows are skipped, never inserted."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    source = o.filter(F.col("o_orderkey") % 3 == 0) \
              .withColumn("o_totalprice", _pround(F.col("o_totalprice") * 1.2, 2))
    out = R.update_only(target, source, ["o_orderkey"])
    return out.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), _pround(F.sum("o_totalprice"), 2).alias("sum_total"))


def q47_asof_join(spark, sf):
    """As-of join (kdb aj / DuckDB ASOF): every click event gains the
    newest view event at-or-before it for the same user — one shuffle +
    one sort, never a per-key inequality nested loop. The DuckDB oracle
    is a NATIVE ASOF LEFT JOIN."""
    from hyperion_crawler_spark.operators.temporal import asof_join

    e = _t(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    clicks = e.filter(F.col("event_type") == "click") \
              .select("event_id", "user_id", "us", "value")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event"), F.col("user_id"),
        F.col("us"), F.col("value").alias("view_value"))
    return asof_join(clicks, views, "user_id", "us",
                     right_cols=["view_value", "view_event"])


def q48_grouping_sets(spark, sf):
    """OLAP GROUPING SETS with grouping flags (subtotal + grand-total
    rows distinguished from genuine NULL groups). r5: absorbed
    q29_distinct_counts — the A5 distinct aggregates (single- and
    multi-column count DISTINCT) and the F12/F13 deterministic task-id
    stamp now ride the same grouping-sets pass (concat_ws skips NULL
    group keys identically in both engines, so subtotal rows stamp
    'market_daily')."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               count(*) AS n,
               -- 1e2, not 100.0: Spark SQL parses plain decimal
               -- literals as DECIMAL and the whole expression (and its
               -- arrow dtype) would go decimal; scientific notation is
               -- DOUBLE in both engines
               floor(sum(l_quantity) * 1e2 + 0.5) / 1e2 AS sum_qty,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_orderkey, l_linenumber) AS n_lines,
               concat_ws('_', 'market', 'daily', l_returnflag) AS task_id
        FROM li_gs
        GROUP BY l_returnflag, l_linestatus
          GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q49_pivot(spark, sf):
    """Pivot: order counts per status × priority (fixed value list —
    deterministic columns; absent combinations coalesce to 0 to match
    the SQL conditional-aggregation mirror)."""
    o = _t(spark, sf, "orders")
    p = o.groupBy("o_orderstatus").pivot("o_orderpriority", PIVOT_PRIORITIES) \
         .agg(F.count(F.lit(1)))
    return p.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0).cast("long")).alias(v)
          for v in PIVOT_PRIORITIES])


def q50_range_join(spark, sf):
    """Interval (range) join via granule bucketing: points paired with
    every same-key interval containing them — an equi-join on
    (key, granule bucket), never a per-key nested loop. Oracle is the
    plain theta join."""
    from hyperion_crawler_spark.operators.temporal import range_join

    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 3000)
    points = o.select((F.col("o_custkey") % 50).alias("k"),
                      F.col("o_orderkey").alias("p"))
    iv = o.filter(F.col("o_orderkey") % 10 == 0).select(
        (F.col("o_custkey") % 50).alias("k"),
        (F.col("o_orderkey") - (F.col("o_orderkey") % 97)).alias("lo"),
        (F.col("o_orderkey") - (F.col("o_orderkey") % 97) + 40).alias("hi"),
        F.col("o_orderkey").alias("tag"))
    return range_join(points, iv, "k", "p", "lo", "hi", granule=64) \
        .select("k", "p", "lo", "hi", "tag")


def q51_frame_sample(spark, sf):
    """Video frame sampling (operators/multimodal.frame_sample over the
    HYVI codec) composed with image_stats. Videos are synthesized per
    document with SOLID frames whose levels are a closed-form function
    of (doc_id, frame_idx), so a decoded frame's brightness is exactly
    its level — the SQL oracle computes the same values with no codec.
    Exercises: video encode → HYVI decode → stride explode → lossless
    per-frame hypng re-encode → image decode → channel stats."""
    import pandas as pd

    from hyperion_crawler_spark.functions.video import make_solid_video
    from hyperion_crawler_spark.operators.multimodal import (
        frame_sample,
        image_stats,
    )

    # spread BEFORE the Python kernels: a mapInPandas chain inherits the
    # scan's single-task partitioning; only doc_id shuffles (guide §4.1)
    docs = R.spread(_t(spark, sf, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 6 + d % 7
                w = 16 + (d % 3) * 8
                ids.append(str(d))
                blobs.append(make_solid_video(
                    [(d * 7 + i * 13) % 256 for i in range(n)], w, 16))
            yield pd.DataFrame({"video_id": ids, "bytes": blobs})

    videos = docs.mapInPandas(gen, "video_id string, bytes binary")
    frames = frame_sample(videos, every_n=3)
    imgs = frames.select(
        F.concat("video_id", F.lit("#"),
                 F.col("frame_idx").cast("string")).alias("image_id"),
        "bytes", "w", "h", "fmt")
    return image_stats(imgs).select("image_id", "w", "h",
                                    "brightness", "mean_r")


def q52_audio_windows(spark, sf):
    """Windowed audio stats (operators/multimodal.audio_window_stats
    over the HYAU codec). Clips are square waves with per-document
    closed-form (amplitude, half-period, length): every sample is ±a,
    sign flips exactly at half-period multiples — so mean_abs, max_abs
    and per-window zero-crossing counts are SQL-computable without the
    codec. Exercises: int16 PCM encode → HYAU decode → fixed-grid
    windowing → exact integer stats."""
    import pandas as pd

    from hyperion_crawler_spark.functions.audio import (
        encode_audio,
        make_square_wave,
    )
    from hyperion_crawler_spark.operators.multimodal import audio_window_stats

    # spread BEFORE the Python kernels (same rationale as q51)
    docs = R.spread(_t(spark, sf, "documents").select("doc_id"))

    def gen(batches):
        for pdf in batches:
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                a = 100 + (d % 90) * 10
                hp = 8 + d % 25
                n = 2048 + (d % 4) * 512
                ids.append(str(d))
                blobs.append(encode_audio(make_square_wave(a, hp, n), 8000))
            yield pd.DataFrame({"audio_id": ids, "bytes": blobs})

    clips = docs.mapInPandas(gen, "audio_id string, bytes binary")
    return audio_window_stats(clips, window=512)


def q53_mix_sample(spark, sf):
    """Dataset mixing, both modes in one result (r5 widening):
    'fixed' = deterministic per-source hash-sampling rates
    (operators/selection.stratified_mix; rates are exact binary
    fractions so the rate·10000 threshold is exact in BOTH double and
    decimal arithmetic), 'temp' = temperature-weighted n^0.5 domain
    balancing (selection.temperature_mix; sqrt is IEEE
    correctly-rounded, so the computed rates — and therefore the kept
    set — are bit-identical in Spark and DuckDB)."""
    from hyperion_crawler_spark.operators.selection import (
        stratified_mix, temperature_mix)

    d = _t(spark, sf, "documents").select("doc_id", "source")
    fixed = stratified_mix(d, "source", "doc_id",
                           {"src0": 1.0, "src1": 0.5, "src2": 0.25,
                            "src3": 0.125},
                           default_rate=0.0625)
    temp = temperature_mix(d, "source", "doc_id",
                           alpha=0.5, target_fraction=0.5)
    return (fixed.select(F.lit("fixed").alias("mode"), "doc_id", "source")
            .unionByName(temp.select(F.lit("temp").alias("mode"),
                                     "doc_id", "source")))


def q54_decontaminate(spark, sf):
    """Benchmark decontamination (8-gram overlap rule): benchmark texts
    are 16-token windows cut from every 23rd document, so exactly those
    documents share 8-grams with the benchmark and must be dropped."""
    from hyperion_crawler_spark.operators.dedup import decontaminate

    d = R.spread(_t(spark, sf, "documents")).select("doc_id", "source", "text")
    bench = d.filter(F.col("doc_id") % 23 == 0).select(
        F.array_join(F.slice(F.split(F.col("text"), " "), 5, 16), " ")
        .alias("text"))
    clean = decontaminate(d, bench, "doc_id", "text", n=8)
    return clean.select("doc_id", "source")


def q55_span_dedup(spark, sf):
    """Intra-document repeated-span removal, OFF-GRID rolling-window
    form (r5 upgrade per the round-4 verdict: the fixed-grid
    ``dedup_repeated_spans`` misses repeats at offsets ≢ 0 mod
    span_tokens — tests/test_dedup_similarity.py proves the miss on
    this exact fixture). Each text is prefixed with 3 pad tokens plus
    its own first 20 tokens, planting a 20-token repeat at token
    offset 3: the w=10 rolling scrub removes the second copy wherever
    it starts; the reassembled text is value-compared."""
    from hyperion_crawler_spark.operators.dedup import scrub_repeated_windows

    d = R.spread(_t(spark, sf, "documents")).select("doc_id", "text")
    rep = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20), " ")
    planted = d.select(
        "doc_id",
        F.concat(F.lit("pad0 pad1 pad2 "), rep, F.lit(" "),
                 F.col("text")).alias("text"))
    return scrub_repeated_windows(planted, "doc_id", "text", w=10)


def q57_pq_topk(spark, sf):
    """Product-quantization ADC ANN (operators/similarity.pq_topk) —
    the compressed-index scale path beside IVF/LSH. No oracle entry by
    design (approximate by construction; codebooks are a bounded-sample
    Lloyd job) — recall vs brute force is measured in
    tests/test_dedup_similarity.py; the driver records the rows-only
    check."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 2000)
    queries_df = corpus.filter(F.col("vec_id") % 100 == 0)
    return SIM.pq_topk(queries_df, corpus, dim=64, k=5)


def _rescored_top5(cand: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact-twin finish shared by q57b and q58: RE-SCORE an ANN
    operator's (q_id, n_id) candidates with the Catalyst cosine and
    re-rank, so the 6-decimal values hash-match the SQL brute force."""
    q = corpus.select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec"))
    n = corpus.select(F.col("vec_id").alias("n_id"),
                      F.col("embedding").alias("n_vec"))
    rescored = (cand.select("q_id", "n_id").join(q, "q_id").join(n, "n_id")
                .select("q_id", "n_id",
                        F.round(SIM.cosine(F.col("q_vec"), F.col("n_vec")), 6)
                        .alias("cos")))
    return SIM._rank_topk(rescored, 5)


def q57b_pq_exact(spark, sf):
    """PQ in exact mode: sample == corpus and one centroid per sample
    sub-vector, so every vector reconstructs to itself and the ADC scan
    degenerates to exact scoring. The PQ candidates (taken with slack,
    k=10) are then RE-SCORED with the Catalyst cosine and re-ranked —
    so the 6-decimal values hash-match the same SQL brute force as
    q35b, while the candidate SET still comes from the full PQ
    machinery (train → encode → ADC scan → partial top-k)."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 2000)
    queries_df = corpus.filter(F.col("vec_id") % 100 == 0)
    cand = SIM.pq_topk(queries_df, corpus, dim=64, k=10, m_blocks=8,
                       k_codes=1_000_000, sample_cap=1_000_000)
    return _rescored_top5(cand, corpus)


def q56_token_freq(spark, sf):
    """Corpus token-frequency head, TWO modes in one result (round-5
    verdict 'Next round' #2 rides the slot):

    - mode 'ws': top 50 whitespace tokens by count (the original
      vocabulary/frequency profile), deterministic (n DESC, token ASC)
      tie-break.
    - mode 'bpe': top 30 SUBWORD tokens after training an 8-merge BPE
      tokenizer on the corpus itself (functions/bpe.bpe_train — the
      Sennrich '16 trainer as a DataFrame job: one corpus-scale
      word-count shuffle, then one map-side-combinable pair-frequency
      agg per merge round with a deterministic (count DESC, pair ASC)
      tie-break, O(1) driver state). Token counts come from the
      distinct-word frame (count = Σ word_freq × occurrences), which
      is exactly the corpus encoding since training applies every
      merge to all words. The DuckDB oracle unrolls the 8 training
      rounds as CTEs (the q59 LMS precedent) — the merge table and
      all derived counts are bit-deterministic in both engines."""
    from hyperion_crawler_spark.functions import bpe as BPE

    d = _t(spark, sf, "documents")
    ws = (d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
          .groupBy("token").agg(F.count("*").alias("n"))
          .orderBy(F.col("n").desc(), F.col("token").asc()).limit(50)
          .select(F.lit("ws").alias("mode"), "token", "n"))
    merges = BPE.bpe_train(d, "text", n_merges=8)
    toks = BPE.word_counts(d, "text").select(
        F.explode(BPE.encode_word(F.col("word"), merges)).alias("token"),
        "freq")
    bpe_top = (toks.groupBy("token").agg(F.sum("freq").alias("n"))
               .orderBy(F.col("n").desc(), F.col("token").asc()).limit(30)
               .select(F.lit("bpe").alias("mode"), "token", "n"))
    return ws.unionByName(bpe_top)


def q58_ivfpq(spark, sf):
    """IVFADC (operators/similarity.ivfpq_topk) in exact mode,
    corpus-vs-corpus: the query set IS the corpus (the SemDeDup
    self-dedup shape, round-5 verdict 'Next round' #1), so nothing
    about the queries is ever collected to the driver
    (contract pinned in tests/test_dedup_similarity.py) and the plan
    is the one that holds when |queries| = |corpus| = 10^10: probe
    assignment via a GEMM mapInPandas pass, candidates from a
    cogrouped cell equi-join, ADC scoring per (cell, query-chunk)
    against broadcast codebooks only.

    Exact mode: every cell probed, sample == corpus, one residual
    centroid per sample sub-vector and zero Lloyd steps, so every
    vector reconstructs exactly and the ADC scan degenerates to exact
    scoring. Candidates are taken with slack (k=10) and RE-SCORED with
    the Catalyst cosine (same trick as the PQ exact twin), so the
    6-decimal values hash-match the plain SQL brute force while the
    candidate set comes from the full distributed IVFADC machinery
    (coarse train → cell assign → residual encode → probe-assign →
    cogrouped cell scan → per-cell partial top-k). Approximate-mode
    recall, repartition invariance and the probed-cells-only results
    are pinned in tests/test_dedup_similarity.py."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") < 2000)
    cand = SIM.ivfpq_topk(
        corpus, corpus, dim=64, k=10, n_centroids=8,
        n_probe=8, m_blocks=8, k_codes=1_000_000,
        train_iters=0, coarse_iters=2, sample_cap=1_000_000,
        q_chunk=256)
    return _rescored_top5(cand, corpus)


def q59_quality_classify(spark, sf):
    """Model-based quality filter (operators/quality.py): a linear
    classifier LMS-trained as a deterministic DataFrame job — one
    fixed-point (int64) gradient aggregation per iteration, so the
    learned weights are bit-identical on any partitioning AND exactly
    reproducible by the DuckDB oracle's unrolled-iteration CTEs — then
    applied as a pure Catalyst scoring projection with the weights
    inlined as literals. Fixture: odd doc_ids are degraded (uppercased
    + punctuation spam → label 0), even keep their text (label 1); 3
    LMS iterations at lr=1.0 separate them perfectly (accuracy pinned
    in tests/test_quality.py)."""
    from hyperion_crawler_spark.operators import quality as Q

    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 2
    txt = (F.when(m == 1, F.concat(F.upper(F.col("text")),
                                   F.lit(" !!! !!! !!! !!! !!!")))
           .otherwise(F.col("text")))
    y = F.when(m == 1, F.lit(0.0)).otherwise(F.lit(1.0))
    fix = d.select("doc_id", txt.alias("qtxt"), y.alias("y"))
    weights = Q.train_quality_linear(fix, "qtxt", F.col("y"),
                                     iters=3, lr=1.0)
    scored = Q.score_quality(fix, "qtxt", weights)
    return scored.select(
        "doc_id",
        (F.floor(F.col("q_score") * 1e6 + F.lit(0.5)) / 1e6).alias("q_score"),
        "q_keep")


def q60_simhash_dup_pairs(spark, sf):
    """SimHash near-dup PAIRING (dedup.hamming_pairs): Manku-style
    block candidate generation — 5 near-equal blocks for max_dist=4,
    so by pigeonhole every pair within distance 4 agrees exactly on
    ≥1 block and is found by the (block_idx, block_value) equi-join —
    plus exact popcount verify. The oracle brute-forces the O(n²) scan
    with bit_count(xor(...)), so a value match proves the blocked
    candidate generation loses no pair. The same operator serves pHash
    image near-dup (tests/test_multimodal.py)."""
    from hyperion_crawler_spark.operators.dedup import hamming_pairs, simhash_df

    d = R.spread(_t(spark, sf, "documents"))
    sims = simhash_df(d, "doc_id", "text")
    return hamming_pairs(sims, "doc_id", "simhash", max_dist=4) \
        .select("id1", "id2", F.col("dist").cast("int").alias("dist"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # EXACTLY 50 entries — the driver's correctness window is 50
        # rows (CORRECTNESS_r03/_r04 both truncate there), so the
        # round-4 surface (q49-q57b) and the round-5 additions
        # (q58/q59/q60) fit only because redundant legacy queries were
        # consolidated in r5 (q02+q03, q07+q32+q33+q34, q11+q12,
        # q17→q18, q23+q23b, q24→q22, q26→q48, q27+q28, q09→q31,
        # q37→q38, q29→q48) with every operator family still
        # oracle-covered.
        "q01_first_wins_dedup": q01_first_wins_dedup,
        "q02_latest_topk": q02_latest_topk,
        "q04_consensus_histogram": q04_consensus_histogram,
        "q05_validity_filter": q05_validity_filter,
        "q06_scalar_clean": q06_scalar_clean,
        "q08_lookup_or_create": q08_lookup_or_create,
        "q10_replace_partition": q10_replace_partition,
        "q12_filter_json": q12_filter_json,
        "q13_fk_semi_anti": q13_fk_semi_anti,
        "q14_projection_defaults": q14_projection_defaults,
        "q15_exact_dedup_docs": q15_exact_dedup_docs,
        "q16_ngram_jaccard": q16_ngram_jaccard,
        "q18_minhash_lsh_pairs": q18_minhash_lsh_pairs,
        "q19_simhash": q19_simhash,
        "q20_embedding_topk": q20_embedding_topk,
        "q21_embedding_near_dup": q21_embedding_near_dup,
        "q22_text_quality": q22_text_quality,
        "q23_lang_id": q23_lang_id,
        "q25_set_ops": q25_set_ops,
        "q27_scalar_maps": q27_scalar_maps,
        "q30_politeness_schedule": q30_politeness_schedule,
        "q31_merge_with_delete": q31_merge_with_delete,
        "q32_filing_scalars": q32_filing_scalars,
        "q35_ivf_topk": q35_ivf_topk,
        "q35b_ivf_exact": q35b_ivf_exact,
        "q36_pagerank": q36_pagerank,
        "q38_winnowing_pairs": q38_winnowing_pairs,
        "q39_dup_clusters": q39_dup_clusters,
        "q40_bm25": q40_bm25,
        "q41_trap_signals": q41_trap_signals,
        "q42_sessionize": q42_sessionize,
        "q43_dedup_keep": q43_dedup_keep,
        "q44_sitemap_extract": q44_sitemap_extract,
        "q45_profile": q45_profile,
        "q46_update_only": q46_update_only,
        "q47_asof_join": q47_asof_join,
        "q48_grouping_sets": q48_grouping_sets,
        "q49_pivot": q49_pivot,
        "q50_range_join": q50_range_join,
        "q51_frame_sample": q51_frame_sample,
        "q52_audio_windows": q52_audio_windows,
        "q53_mix_sample": q53_mix_sample,
        "q54_decontaminate": q54_decontaminate,
        "q55_span_dedup": q55_span_dedup,
        "q56_token_freq": q56_token_freq,
        "q57_pq_topk": q57_pq_topk,
        "q57b_pq_exact": q57b_pq_exact,
        "q58_ivfpq": q58_ivfpq,
        "q59_quality_classify": q59_quality_classify,
        "q60_simhash_dup_pairs": q60_simhash_dup_pairs,
    }
    return {k: _with_gc(v) for k, v in base.items()}


# =====================================================================
# DuckDB oracle SQL — identical column names & expression shapes
# =====================================================================
_H60 = "CAST(CAST(concat('0x', substr(sha256({x}), 1, 15)) AS UBIGINT) AS BIGINT)"

# winnowing candidate-pair CTE chain (shared by q38 + q39): k=8, w=4,
# documents doc_id < 200 — mirrors dedup.winnowing_fingerprint_rows/_pairs
_winnow_pairs_cte = f"""d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            g AS (
              SELECT doc_id,
                     [{_H60.format(x="substr(text, i, 8)")}
                      for i in generate_series(1, greatest(len(text) - 7, 0))] AS hashes
              FROM d),
            m AS (
              SELECT doc_id,
                     list_distinct(
                       [list_min(hashes[i:i+3])
                        for i in generate_series(1, greatest(len(hashes) - 3, 0))]) AS fps
              FROM g),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM m),
            pairs AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""


def _sql_ngrams(text: str, n: int) -> str:
    """DuckDB distinct word n-grams of a space-split text expr."""
    return (f"list_distinct([array_to_string(string_split({text}, ' ')[i:i+{n - 1}], ' ') "
            f"for i in generate_series(1, greatest(len(string_split({text}, ' ')) - {n - 1}, 0))])")


def _sql_minhash_sigs(text: str) -> list[str]:
    hashes = (f"list_transform({_sql_ngrams(text, 3)}, "
              f"s -> {_H60.format(x='s')} % {DD.MINHASH_DOMAIN})")
    return [
        f"list_min(list_transform({hashes}, x -> ({a} * x + {b}) % {DD.MINHASH_P}))"
        for (a, b) in DD.MINHASH_PERMS
    ]


def _sql_stopword_hits(text: str, lang: str) -> str:
    lit = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (f"len(list_filter(string_split({text}, ' '), "
            f"t -> list_contains([{lit}], t)))")


def _sql_near_dup_docs() -> str:
    return (
        "(SELECT doc_id, text FROM documents WHERE doc_id < 200 "
        "UNION ALL SELECT doc_id + 100000 AS doc_id, "
        "substr(text, instr(text, ' ') + 1) AS text FROM documents WHERE doc_id < 200)"
    )


def _sql_plane_sig(vec: str) -> str:
    planes = SIM._hyperplanes(8, 64)
    bits = []
    for i, p in enumerate(planes):
        lits = ", ".join(repr(w) for w in p)
        bits.append(
            f"(CASE WHEN list_dot_product(list_transform({vec}, x -> CAST(x AS DOUBLE)), "
            f"[{lits}]) >= 0 THEN 1 ELSE 0 END) * {1 << i}"
        )
    return "(" + " + ".join(bits) + ")"


# argmax tie-break mirrors functions/text.lang_id: fixed STOPWORDS
# iteration order (first language hitting the max wins)
_SQL_LANG_BEST = "greatest(" + ", ".join(f"s_{lg}" for lg in TX.STOPWORDS) + ")"
_SQL_LANG_BEST_B = "greatest(" + ", ".join(f"sb_{lg}" for lg in TX.STOPWORDS) + ")"


def _cc_iters_cte(iters: int) -> str:
    """Unrolled min-label-propagation CTEs l0..l{iters} (the DuckDB
    mirror of dedup.dup_clusters with fixed ``iters``)."""
    out = ["l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"]
    for i in range(1, iters + 1):
        out.append(
            f"l{i} AS (SELECT node, min(label) AS label FROM ("
            f"SELECT node, label FROM l{i - 1} "
            f"UNION ALL SELECT e.dst AS node, l{i - 1}.label "
            f"FROM e JOIN l{i - 1} ON e.src = l{i - 1}.node) GROUP BY node)")
    return ",\n            ".join(out)

def _sql_quality_classify(iters: int = 3, lr: str = "1.0") -> str:
    """DuckDB mirror of q59: the LMS quality-classifier training loop
    unrolled as CTEs (same scheme as the q36 PageRank unroll). Each
    iteration is one scalar-aggregate CTE (fixed-point BIGINT gradient
    sums → bit-identical to Spark's distributed agg) + one weight-
    update CTE; the final SELECT scores every document with the
    learned weights — the exact expression shapes
    operators/quality.py uses (left-associated w·x, floor·1e9 grain,
    double division), so values hash-match."""
    nf = 6
    feats = f"""
                 1.0 AS f0,
                 least(len(string_split(qtxt, ' ')), 1000) / 1000.0 AS f1,
                 {_sql_stopword_hits('qtxt', 'en')}
                   / len(string_split(qtxt, ' ')) AS f2,
                 length(regexp_replace(qtxt, '[^.,;:!?]', '', 'g'))
                   / greatest(length(qtxt), 1) AS f3,
                 length(regexp_replace(qtxt, '[^A-Z]', '', 'g'))
                   / greatest(length(qtxt), 1) AS f4,
                 least(length(qtxt) / len(string_split(qtxt, ' ')), 20.0)
                   / 20.0 AS f5"""

    def _grad(wname: str) -> str:
        dotx = " + ".join(f"{wname}.w{j} * f{j}" for j in range(nf))
        sums = ", ".join(
            f"CAST(sum(CAST(floor((y - ({dotx})) * f{j} * 1e9) AS BIGINT)) "
            f"AS BIGINT) AS g{j}" for j in range(nf))
        return f"SELECT count(*) AS n, {sums} FROM f CROSS JOIN {wname}"

    def _upd(gname: str, wname: str) -> str:
        cols = ", ".join(
            f"{wname}.w{j} + {lr} * ((CAST({gname}.g{j} AS DOUBLE) / {gname}.n)"
            f" / 1e9) AS w{j}" for j in range(nf))
        return f"SELECT {cols} FROM {gname} CROSS JOIN {wname}"

    ctes = ["w0 AS (SELECT " + ", ".join(f"0.0 AS w{j}" for j in range(nf))
            + ")"]
    for i in range(1, iters + 1):
        ctes.append(f"g{i} AS ({_grad(f'w{i - 1}')})")
        ctes.append(f"w{i} AS ({_upd(f'g{i}', f'w{i - 1}')})")
    dot_final = " + ".join(f"w{iters}.w{j} * f{j}" for j in range(nf))
    return f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 1
                      THEN upper(text) || ' !!! !!! !!! !!! !!!'
                      ELSE text END AS qtxt,
                 CASE WHEN doc_id % 2 = 1 THEN 0.0 ELSE 1.0 END AS y
          FROM documents),
        f AS (SELECT doc_id, y, {feats}
              FROM base),
        {", ".join(ctes)}
        SELECT doc_id,
               floor(({dot_final}) * 1e6 + 0.5) / 1e6 AS q_score,
               ({dot_final}) > 0.5 AS q_keep
        FROM f CROSS JOIN w{iters}
    """


_SQL_COS = ("round(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            "list_transform({b}, x -> CAST(x AS DOUBLE))) / "
            "(sqrt(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            "list_transform({a}, x -> CAST(x AS DOUBLE)))) * "
            "sqrt(list_dot_product(list_transform({b}, x -> CAST(x AS DOUBLE)), "
            "list_transform({b}, x -> CAST(x AS DOUBLE))))), 6)")


def _bpe_oracle_sql(n_merges: int) -> str:
    """DuckDB mirror of q56's widened shape: the ws-mode top-50 plus
    an UNROLLED 8-round BPE training loop (the q59 LMS precedent) over
    the delimited-string symbol form (functions/bpe.py docstring —
    replace of DaDDbD with DabD IS the greedy left-to-right merge).
    Per round: pair counts from the current word frame, argmax with
    the (count DESC, a ASC, b ASC) tie-break, one string replace. If a
    round finds no pair (fully fused corpus) the coalesce turns the
    replace into a no-op, matching the trainer's early break."""
    d31 = "chr(31)"
    dd = f"{d31}||{d31}"
    ctes = [f"""
        w0 AS MATERIALIZED (
          SELECT regexp_replace(regexp_replace(word, chr(31), '', 'g'),
                                '(.)', {d31}||'\\1'||{d31}, 'g') AS s,
                 CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word)"""]
    for k in range(1, n_merges + 1):
        p = f"""
        p{k} AS MATERIALIZED (
          SELECT l[i] AS a, l[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (SELECT string_split(trim(s, chr(31)), {dd}) AS l, freq
                FROM w{k-1}) ww,
               LATERAL unnest(generate_series(1, len(l) - 1)) AS t(i)
          GROUP BY 1, 2),
        m{k} AS MATERIALIZED (SELECT a, b FROM p{k}
                 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
        w{k} AS MATERIALIZED (
          SELECT replace(s,
            coalesce((SELECT {d31}||a||{dd}||b||{d31} FROM m{k}), chr(30)),
            coalesce((SELECT {d31}||a||b||{d31} FROM m{k}), chr(30))) AS s,
            freq
          FROM w{k-1})"""
        ctes.append(p)
    return f"""
        WITH {','.join(ctes)},
        bpe AS (
          SELECT token, CAST(sum(freq) AS BIGINT) AS n
          FROM (SELECT unnest(string_split(trim(s, chr(31)), {dd})) AS token,
                       freq
                FROM w{n_merges})
          GROUP BY token ORDER BY n DESC, token ASC LIMIT 30),
        ws AS (
          SELECT token, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS token
                FROM documents)
          GROUP BY token ORDER BY n DESC, token ASC LIMIT 50)
        SELECT 'ws' AS mode, token, n FROM ws
        UNION ALL
        SELECT 'bpe' AS mode, token, n FROM bpe
    """


def oracle_sql() -> dict[str, str]:
    sigs = _sql_minhash_sigs("text")
    sig_cols = ", ".join(f"{s} AS sig_{j}" for j, s in enumerate(sigs))
    bkeys = [
        "concat_ws('-', " + ", ".join(
            f"CAST(sig_{bi * DD.LSH_BAND_ROWS + r} AS VARCHAR)"
            for r in range(DD.LSH_BAND_ROWS)) + f") AS bkey_{bi}"
        for bi in range(DD.N_MINHASH // DD.LSH_BAND_ROWS)
    ]
    g = _sql_ngrams("text", 3)
    sw = {lg: _sql_stopword_hits("text", lg) for lg in TX.STOPWORDS}
    swb = {lg: _sql_stopword_hits("txt", lg) for lg in TX.STOPWORDS}
    punct = "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
    upper = "length(regexp_replace(text, '[^A-Z]', '', 'g'))"
    ntok = "len(string_split(text, ' '))"
    # PII mirror (q22): same patterns, same progressive redaction order
    # (counts for kind k run on text already redacted for kinds < k)
    pii_email, pii_ip, pii_phone = (p[1] for p in TX.PII_PATTERNS)
    red1 = f"regexp_replace(ptxt, '{pii_email}', '<EMAIL>', 'g')"
    red2 = f"regexp_replace({red1}, '{pii_ip}', '<IP>', 'g')"
    red3 = f"regexp_replace({red2}, '{pii_phone}', '<PHONE>', 'g')"

    return {
        "q01_first_wins_dedup": """
            WITH kept AS (
              SELECT *, row_number() OVER (PARTITION BY l_orderkey
                        ORDER BY l_linenumber ASC, l_partkey ASC,
                                 l_suppkey ASC, l_extendedprice ASC) AS rn
              FROM lineitem)
            SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM kept WHERE rn = 1 GROUP BY l_returnflag
        """,
        "q02_latest_topk": """
            WITH l AS (
              SELECT o_custkey, o_orderkey, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders),
            t AS (
              SELECT o_custkey, o_orderkey, CAST(row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
                AS INTEGER) AS rank
              FROM orders)
            SELECT 'latest' AS kind, o_custkey, o_orderkey,
                   CAST(1 AS INTEGER) AS rank
            FROM l WHERE rn = 1
            UNION ALL
            SELECT 'topk' AS kind, o_custkey, o_orderkey, rank
            FROM t WHERE rank <= 3
        """,
        "q04_consensus_histogram": """
            SELECT event_type,
                   floor(avg(event_id % 5 + 1) * 100.0 + 0.5) / 100.0 AS avg_rating,
                   count(*) AS n_ratings,
                   CAST(sum(CASE WHEN event_id % 5 + 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rating_1,
                   CAST(sum(CASE WHEN event_id % 5 + 1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rating_2,
                   CAST(sum(CASE WHEN event_id % 5 + 1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rating_3,
                   CAST(sum(CASE WHEN event_id % 5 + 1 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_rating_4,
                   CAST(sum(CASE WHEN event_id % 5 + 1 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rating_5
            FROM events GROUP BY event_type
        """,
        "q05_validity_filter": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_quantity > 0 AND l_extendedprice >= 0
                        AND l_discount BETWEEN 0 AND 0.5 AND l_tax >= 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN l_quantity > 0 AND l_extendedprice >= 0
                        AND l_discount BETWEEN 0 AND 0.5 AND l_tax >= 0
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
            FROM lineitem GROUP BY l_returnflag
        """,
        "q06_scalar_clean": """
            WITH c AS (
              SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
                     CAST(regexp_replace(concat('₩', CAST(CAST(floor(l_extendedprice * 100)
                          AS BIGINT) AS VARCHAR)), '[,$₩]', '', 'g') AS DOUBLE) / 100.0 AS cleaned
              FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   floor(cleaned * 100.0 + 0.5) / 100.0 AS cleaned_price,
                   floor(cleaned * (l_discount * 100) / 100.0 * 100.0 + 0.5) / 100.0 AS change_amt,
                   floor(cleaned * l_quantity * 100.0 + 0.5) / 100.0 AS trade_val
            FROM c
        """,
        "q08_lookup_or_create": """
            SELECT o.o_orderkey, o.o_custkey,
                   coalesce(c.c_name, concat('gen_',
                       substr(sha256(CAST(o.o_custkey AS VARCHAR)), 1, 16))) AS uuid
            FROM orders o
            LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 != 0) c
              ON o.o_custkey = c.c_custkey
        """,
        "q10_replace_partition": """
            WITH t AS (SELECT o_orderkey, o_totalprice,
                              CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders),
            merged AS (
              SELECT * FROM t WHERE yr != 1995
              UNION ALL SELECT o_orderkey, 0.0 AS o_totalprice, yr FROM t WHERE yr = 1995)
            SELECT yr, count(*) AS n, round(sum(o_totalprice), 2) AS sum_total
            FROM merged GROUP BY yr
        """,
        "q12_filter_json": """
            WITH k AS (
              SELECT event_type, value,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
              WHERE value > 0 AND event_type IN ('click', 'view', 'purchase'))
            SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
                   round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
            FROM k GROUP BY event_type
        """,
        "q13_fk_semi_anti": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
            FROM lineitem l
            LEFT JOIN (SELECT p_partkey FROM part WHERE p_partkey % 5 != 0) p
              ON l.l_partkey = p.p_partkey
            GROUP BY l_returnflag
        """,
        "q14_projection_defaults": """
            SELECT c_custkey AS cust_id, c_name AS name,
                   coalesce(nullif(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS seg,
                   c_acctbal AS acctbal
            FROM customer
        """,
        "q15_exact_dedup_docs": """
            WITH all_docs AS (
              SELECT doc_id, text, lang FROM documents
              UNION ALL SELECT doc_id + 200000, text, lang FROM documents WHERE doc_id % 10 = 0),
            kept AS (
              SELECT doc_id, row_number() OVER (PARTITION BY sha256(text)
                     ORDER BY doc_id ASC) AS rn
              FROM all_docs)
            SELECT d.lang, count(*) AS n_unique
            FROM kept k JOIN all_docs d ON k.doc_id = d.doc_id
            WHERE k.rn = 1 GROUP BY d.lang
        """,
        "q16_ngram_jaccard": f"""
            WITH docs AS (SELECT * FROM {_sql_near_dup_docs()} t),
            sh AS (
              SELECT doc_id, {_H60.format(x='shingle')} AS sh
              FROM (SELECT doc_id, unnest({g}) AS shingle FROM docs)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT id1, id2, n_common, s1.n_sh AS n1, s2.n_sh AS n2,
                   round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes s1 ON common.id1 = s1.doc_id
            JOIN sizes s2 ON common.id2 = s2.doc_id
            WHERE round(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.5
        """,
        "q18_minhash_lsh_pairs": f"""
            WITH docs AS (SELECT * FROM {_sql_near_dup_docs()} t),
            sigs AS (SELECT doc_id, text, {sig_cols} FROM docs),
            bands AS (
              SELECT doc_id, text, band, bkey FROM (
                SELECT doc_id, text, {', '.join(bkeys)} FROM sigs
              ) UNPIVOT (bkey FOR band IN ({', '.join(f'bkey_{bi}' for bi in range(4))}))),
            cand AS (
              SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                     a.text AS t1, b.text AS t2
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
            , verified AS (
              SELECT id1, id2,
                     round(len(list_intersect({_sql_ngrams('t1', 3)}, {_sql_ngrams('t2', 3)})) /
                           (len({_sql_ngrams('t1', 3)}) + len({_sql_ngrams('t2', 3)})
                            - len(list_intersect({_sql_ngrams('t1', 3)}, {_sql_ngrams('t2', 3)}))),
                           6) AS jaccard
              FROM cand)
            SELECT id1, id2, jaccard FROM verified WHERE jaccard >= 0.5
        """,
        "q19_simhash": f"""
            WITH tok AS (
              SELECT doc_id, {_H60.format(x='t')} AS h
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents WHERE doc_id < 200)),
            sums AS (
              SELECT doc_id,
                     {', '.join(f"CAST(sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{j}" for j in range(64))}
              FROM tok GROUP BY doc_id)
            SELECT doc_id,
                   CAST({' + '.join(f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * CAST({1 << j} AS BIGINT)" for j in range(63))}
                   + (CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END) AS BIGINT) AS simhash
            FROM sums
        """,
        "q20_embedding_topk": f"""
            WITH scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     {_SQL_COS.format(a='q.embedding', b='c.embedding')} AS cos
              FROM (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q
              CROSS JOIN embeddings c
              WHERE q.vec_id != c.vec_id),
            ranked AS (
              SELECT q_id, n_id, cos, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rank
              FROM scored)
            SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        """,
        "q21_embedding_near_dup": f"""
            WITH base AS (
              SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id < 200
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01) AS vec
              FROM embeddings WHERE vec_id < 200),
            sigs AS (SELECT id, vec, {_sql_plane_sig('vec')} AS bucket FROM base),
            pairs AS (
              SELECT a.id AS id1, b.id AS id2,
                     {_SQL_COS.format(a='a.vec', b='b.vec')} AS cos
              FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.id < b.id)
            SELECT id1, id2, cos FROM pairs WHERE cos >= 0.8
        """,
        "q22_text_quality": f"""
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars_q,
                   CAST({ntok} AS INTEGER) AS n_tokens,
                   round(length(text) / {ntok}, 6) AS mean_token_len,
                   round({punct} / length(text), 6) AS punct_ratio,
                   round({sw['en']} / {ntok}, 6) AS stopword_ratio,
                   round({upper} / length(text), 6) AS upper_ratio,
                   round(least(1.0,
                       (CASE WHEN {ntok} BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END)
                       + round({sw['en']} / {ntok}, 6) * 2.0
                       - {punct} / length(text)), 6) AS quality,
                   sha256(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 64)) AS fp,
                   CAST(len(regexp_extract_all(ptxt, '{pii_email}')) AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all({red1}, '{pii_ip}')) AS INTEGER) AS n_ipv4,
                   CAST(len(regexp_extract_all({red2}, '{pii_phone}')) AS INTEGER) AS n_phone,
                   CAST(length({red3}) AS INTEGER) AS red_len,
                   p.top_gram,
                   floor(coalesce((p.top_c * length(p.top_gram)) / p.nc, 0.0) * 1e6 + 0.5) / 1e6 AS top_gram_frac,
                   floor(coalesce(CAST(p.dup AS DOUBLE) / CAST(p.tot AS DOUBLE), 0.0) * 1e6 + 0.5) / 1e6 AS dup_gram_frac
            FROM (SELECT *,
                         text || CASE doc_id % 4
                           WHEN 0 THEN ' reach admin@crawl.example.org'
                           WHEN 1 THEN ' node 172.16.254.3 up'
                           WHEN 2 THEN ' call +1 650 555 0100'
                           ELSE '' END AS ptxt
                  FROM documents) documents
            LEFT JOIN (
              WITH tok AS (
                SELECT doc_id, length(text) AS nc,
                       string_split(text, ' ') AS ts
                FROM documents),
              occ AS (
                SELECT doc_id, nc,
                       array_to_string(ts[i:i+1], ' ') AS gram
                FROM tok, unnest(generate_series(1, len(ts) - 1)) AS u(i)),
              counts AS (
                SELECT doc_id, nc, gram, count(*) AS c
                FROM occ GROUP BY doc_id, nc, gram)
              SELECT doc_id,
                     first(gram ORDER BY c DESC, gram DESC) AS top_gram,
                     first(c ORDER BY c DESC, gram DESC) AS top_c,
                     max(nc) AS nc, sum(c) AS tot,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
              FROM counts GROUP BY doc_id
            ) p USING (doc_id)
        """,
        "q23_lang_id": f"""
            WITH base AS (
              SELECT doc_id, text,
                     CASE doc_id % 8
                       WHEN 0 THEN 'これは 日本語 の テキスト です'
                       WHEN 1 THEN '한국어 텍스트 입니다 안녕하세요'
                       WHEN 2 THEN '这是一段中文文本没有假名'
                       WHEN 3 THEN 'это русский текст привет мир'
                       WHEN 4 THEN 'هذا نص عربي قصير'
                       WHEN 5 THEN 'αυτό είναι ελληνικό κείμενο'
                       WHEN 6 THEN 'привет ' || text
                       ELSE text END AS txt
              FROM documents),
            s AS (
              SELECT doc_id, text, txt,
                     {", ".join(f"{sw[lg]} AS s_{lg}" for lg in TX.STOPWORDS)},
                     {", ".join(f"{swb[lg]} AS sb_{lg}" for lg in TX.STOPWORDS)}
              FROM base)
            SELECT doc_id,
                   CASE WHEN {_SQL_LANG_BEST} <= 0 THEN 'unknown'
                        {" ".join(f"WHEN s_{lg} = {_SQL_LANG_BEST} THEN '{lg}'"
                                  for lg in TX.STOPWORDS)}
                   END AS lang_guess,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
                        AS INTEGER) AS n_subtokens,
                   CASE
                     {" ".join(
                         f"WHEN {TX.SCRIPT_DOMINANCE_DEN} * "
                         f"len(regexp_extract_all(txt, '[{rng}]')) > "
                         f"{TX.SCRIPT_DOMINANCE_NUM} * length(txt) "
                         f"THEN '{lg}'"
                         for lg, rng in TX.SCRIPT_RANGES)}
                     ELSE CASE WHEN {_SQL_LANG_BEST_B} <= 0 THEN 'unknown'
                          {" ".join(f"WHEN sb_{lg} = {_SQL_LANG_BEST_B} THEN '{lg}'"
                                    for lg in TX.STOPWORDS)}
                          END
                   END AS lang_scripted
            FROM s
        """,
        "q53_mix_sample": f"""
            WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                       FROM documents GROUP BY source),
            w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS sw FROM c),
            t AS (SELECT sum(sw) AS tw, sum(n) AS tn FROM w),
            r AS (SELECT source,
                         least(1.0, (0.5 * tn * (sw / tw)) / n) AS rate
                  FROM w, t)
            SELECT 'fixed' AS mode, doc_id, source FROM documents
            WHERE {_H60.format(x="concat('|', CAST(doc_id AS VARCHAR))")}
                  % 10000 <
                  (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                               WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.125
                               ELSE 0.0625 END) * 10000
            UNION ALL
            SELECT 'temp' AS mode, d.doc_id, d.source
            FROM documents d
            JOIN r ON d.source IS NOT DISTINCT FROM r.source
            WHERE {_H60.format(x="concat('|', CAST(d.doc_id AS VARCHAR))")}
                  % 10000 < rate * 10000
        """,
        "q54_decontaminate": f"""
            WITH d AS (SELECT doc_id, source, text FROM documents),
            b AS (SELECT array_to_string(string_split(text, ' ')[5:20], ' ')
                         AS text FROM d WHERE doc_id % 23 = 0),
            bsh AS (SELECT DISTINCT {_H60.format(x='g')} AS sh
                    FROM (SELECT unnest({_sql_ngrams('text', 8)}) AS g FROM b)),
            csh AS (SELECT doc_id, {_H60.format(x='g')} AS sh
                    FROM (SELECT doc_id, unnest({_sql_ngrams('text', 8)}) AS g
                          FROM d)),
            bad AS (SELECT DISTINCT doc_id FROM csh
                    WHERE sh IN (SELECT sh FROM bsh))
            SELECT doc_id, source FROM d
            WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "q55_span_dedup": f"""
            WITH d2 AS (
              SELECT doc_id,
                     'pad0 pad1 pad2 '
                     || array_to_string(string_split(text, ' ')[1:20], ' ')
                     || ' ' || text AS text
              FROM documents),
            tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d2),
            hs AS (SELECT doc_id, t,
                          [{_H60.format(x="array_to_string(t[i:i+9], ' ')")}
                           for i in generate_series(1, greatest(len(t) - 9, 0))]
                          AS h
                   FROM tk),
            fs AS (SELECT doc_id, t,
                          [list_position(h, h[i])
                           for i in generate_series(1, len(h))] AS fp
                   FROM hs),
            kp AS (SELECT doc_id, t, fp,
                          [t[i] for i in generate_series(1, len(t))
                           if len(list_filter(
                                generate_series(greatest(i - 9, 1),
                                                least(i, len(fp))),
                                j -> fp[j] < j)) = 0] AS k
                   FROM fs)
            SELECT doc_id, array_to_string(k, ' ') AS text_clean,
                   CAST(len(t) AS INTEGER) AS n_tokens,
                   CAST(len(t) - len(k) AS INTEGER) AS n_scrubbed
            FROM kp
        """,
        "q56_token_freq": _bpe_oracle_sql(8),
        "q25_set_ops": """
            WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
                 b AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
            SELECT
              (SELECT count(*) FROM (SELECT o_orderkey FROM a UNION SELECT o_orderkey FROM b)) AS n_union,
              (SELECT count(*) FROM (SELECT o_orderkey FROM a INTERSECT SELECT o_orderkey FROM b)) AS n_intersect,
              (SELECT count(*) FROM (SELECT o_orderkey FROM a EXCEPT ALL SELECT o_orderkey FROM b)) AS n_except
        """,
        "q27_scalar_maps": """
            SELECT 'sym' AS kind, k, count(*) AS n
            FROM (SELECT unnest(list_transform(
                     string_split(concat(event_type, ', extra , pad'), ','),
                     x -> upper(trim(x)))) AS k
                  FROM events)
            GROUP BY k
            UNION ALL
            SELECT 'rating' AS kind, k, count(*) AS n
            FROM (SELECT coalesce(
                     CASE replace(replace(lower(event_type), ' ', '_'), '-', '_')
                       WHEN 'click' THEN 'engage'
                       WHEN 'view' THEN 'engage'
                       WHEN 'purchase' THEN 'convert' END,
                     replace(replace(lower(event_type), ' ', '_'), '-', '_')) AS k
                  FROM events)
            GROUP BY k
        """,
        "q30_politeness_schedule": """
            WITH frontier AS (
              SELECT o_orderkey AS urlhash,
                     concat('h', CAST(o_custkey % 40 AS VARCHAR), '.ex') AS host,
                     o_totalprice / 1e6 AS priority,
                     o_custkey % 4 + 2 AS budget
              FROM orders),
            ranked AS (
              SELECT host, urlhash, priority, budget, row_number() OVER (
                PARTITION BY host ORDER BY priority DESC, urlhash ASC) AS rn
              FROM frontier)
            SELECT host, urlhash, round(priority, 6) AS priority
            FROM ranked WHERE rn <= budget
        """,
        "q31_merge_with_delete": """
            WITH target AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
            source AS (
              SELECT o_orderkey, o_orderstatus,
                     floor(o_totalprice * 1.1 * 100.0 + 0.5) / 100.0 AS o_totalprice
              FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 != 0),
            gone AS (
              SELECT o_orderkey FROM source
              UNION SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0),
            merged AS (
              SELECT t.* FROM target t ANTI JOIN gone g ON t.o_orderkey = g.o_orderkey
              UNION ALL SELECT * FROM source)
            SELECT o_orderstatus, count(*) AS n,
                   floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS sum_total
            FROM merged GROUP BY o_orderstatus
        """,
        "q32_filing_scalars": """
            WITH c AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'n/a'
                          WHEN o_orderkey % 5 = 0 THEN '$0'
                          ELSE concat('$', CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR))
                     END AS raw
              FROM orders),
            p AS (
              SELECT o_orderkey,
                     TRY_CAST(regexp_replace(raw, '[,$₩]', '', 'g') AS DOUBLE) AS pv
              FROM c)
            SELECT o.o_orderkey,
                   CASE WHEN pv IS NOT NULL AND pv <> 0 THEN pv END AS target_price,
                   CASE WHEN pv IS NOT NULL AND pv <> 0 THEN 'USD' END AS currency,
                   CASE WHEN o.o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                        WHEN o.o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                        ELSE '2024-06-30' END AS range_start,
                   CASE WHEN o.o_orderkey % 3 = 0
                          THEN strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')
                        WHEN o.o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                        ELSE '2024-06-30' END AS range_end,
                   CASE WHEN o.o_orderkey % 11 = 0 THEN NULL
                        ELSE strftime(o_orderdate, '%Y-%m-%d') END AS filing_date,
                   o_orderpriority AS document_type,
                   concat('corp-', CAST(o_custkey AS VARCHAR)) AS company_name,
                   concat('http://filings.example/', CAST(o.o_orderkey AS VARCHAR)) AS filing_url,
                   '{}' AS xbrl,
                   strftime(CASE WHEN dayofweek(o_orderdate) = 0
                                 THEN o_orderdate - INTERVAL 2 DAY
                                 WHEN dayofweek(o_orderdate) = 6
                                 THEN o_orderdate - INTERVAL 1 DAY
                                 ELSE o_orderdate END, '%Y-%m-%d') AS trade_date
            FROM orders o JOIN p ON o.o_orderkey = p.o_orderkey
        """,
        "q36_pagerank": """
            WITH edges AS (
              SELECT concat('u', CAST(l_suppkey AS VARCHAR)) AS src,
                     concat('u', CAST(l_partkey % 500 AS VARCHAR)) AS dst
              FROM lineitem),
            nodes AS (
              SELECT DISTINCT url FROM (
                SELECT src AS url FROM edges UNION SELECT dst AS url FROM edges)),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            r0 AS (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            c1 AS (
              SELECT e.dst AS url, sum(r.rank / d.deg) AS s
              FROM edges e JOIN r0 r ON e.src = r.url JOIN deg d ON e.src = d.src
              GROUP BY e.dst),
            r1 AS (
              SELECT n.url,
                     floor(((1.0 - 0.85) / (SELECT n FROM nn)
                            + 0.85 * coalesce(c1.s, 0)) * 1e9 + 0.5) / 1e9 AS rank
              FROM nodes n LEFT JOIN c1 ON n.url = c1.url),
            c2 AS (
              SELECT e.dst AS url, sum(r.rank / d.deg) AS s
              FROM edges e JOIN r1 r ON e.src = r.url JOIN deg d ON e.src = d.src
              GROUP BY e.dst),
            r2 AS (
              SELECT n.url,
                     floor(((1.0 - 0.85) / (SELECT n FROM nn)
                            + 0.85 * coalesce(c2.s, 0)) * 1e9 + 0.5) / 1e9 AS rank
              FROM nodes n LEFT JOIN c2 ON n.url = c2.url)
            SELECT url, floor(rank * 1e6 + 0.5) / 1e6 AS pr FROM r2
        """,
        "q35b_ivf_exact": f"""
            WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
            scored AS (
              SELECT q.vec_id AS q_id, t.vec_id AS n_id,
                     {_SQL_COS.format(a='q.embedding', b='t.embedding')} AS cos
              FROM (SELECT * FROM c WHERE vec_id % 100 = 0) q
              CROSS JOIN c t
              WHERE q.vec_id != t.vec_id),
            ranked AS (
              SELECT q_id, n_id, cos, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rank
              FROM scored)
            SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        """,
        "q57b_pq_exact": f"""
            WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
            scored AS (
              SELECT q.vec_id AS q_id, t.vec_id AS n_id,
                     {_SQL_COS.format(a='q.embedding', b='t.embedding')} AS cos
              FROM (SELECT * FROM c WHERE vec_id % 100 = 0) q
              CROSS JOIN c t
              WHERE q.vec_id != t.vec_id),
            ranked AS (
              SELECT q_id, n_id, cos, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rank
              FROM scored)
            SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        """,
        # q58: distributed IVFADC in exact mode degenerates to exact
        # cosine top-k (all cells probed + perfect reconstruction +
        # Catalyst re-score), so the oracle is the plain brute force —
        # corpus-vs-corpus: the query set IS the corpus (SemDeDup
        # self-dedup shape)
        "q58_ivfpq": f"""
            WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
            scored AS (
              SELECT q.vec_id AS q_id, t.vec_id AS n_id,
                     {_SQL_COS.format(a='q.embedding', b='t.embedding')} AS cos
              FROM c q
              CROSS JOIN c t
              WHERE q.vec_id != t.vec_id),
            ranked AS (
              SELECT q_id, n_id, cos, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INTEGER) AS rank
              FROM scored)
            SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
        """,
        # q59: the LMS training loop unrolled as CTEs — the fixed-point
        # (floor·1e9 → BIGINT sum) gradients make each iteration's
        # weights BIT-IDENTICAL to the Spark DataFrame job's, so the
        # final scores value-hash across engines
        "q59_quality_classify": _sql_quality_classify(),
        "q60_simhash_dup_pairs": f"""
            WITH tok AS (
              SELECT doc_id, {_H60.format(x='t')} AS h
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents)),
            sums AS (
              SELECT doc_id,
                     {', '.join(f"CAST(sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s{j}" for j in range(64))}
              FROM tok GROUP BY doc_id),
            sims AS (
              SELECT doc_id,
                     CAST({' + '.join(f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * CAST({1 << j} AS BIGINT)" for j in range(63))}
                     + (CASE WHEN s63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END) AS BIGINT) AS simhash
              FROM sums)
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
            FROM sims a JOIN sims b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
        """,
        "q38_winnowing_pairs": f"""
            WITH {_winnow_pairs_cte}
            SELECT id1, id2, n_shared FROM pairs WHERE n_shared >= 2
        """,
        "q39_dup_clusters": f"""
            WITH {_winnow_pairs_cte},
            kept AS (SELECT id1, id2 FROM pairs WHERE n_shared >= 2),
            e AS (SELECT id1 AS src, id2 AS dst FROM kept
                  UNION ALL SELECT id2 AS src, id1 AS dst FROM kept),
            {_cc_iters_cte(4)}
            SELECT node AS doc_id, label AS cluster_id FROM l4
        """,
        "q40_bm25": f"""
            WITH d2 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 t -> t != '') AS toks
              FROM documents),
            d3 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d2),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(dl) AS BIGINT) AS sumdl FROM d3),
            tf AS (
              SELECT doc_id, dl, t AS term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d3)
              WHERE t IN ('merge', 'scan', 'spark', 'table', 'vector')
              GROUP BY doc_id, dl, t),
            dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
            contrib AS (
              SELECT tf.doc_id,
                     floor((ln(1.0 + (n - df + 0.5) / (df + 0.5))
                            * (tf * (1.2 + 1.0))
                            / (tf + 1.2 * ((1.0 - 0.75)
                               + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))))
                           * 1e9 + 0.5) / 1e9 AS c
              FROM tf JOIN dft USING (term) CROSS JOIN stats),
            s AS (SELECT doc_id, sum(c) AS sc FROM contrib GROUP BY doc_id)
            SELECT d3.doc_id,
                   floor(coalesce(s.sc, 0.0) * 1e6 + 0.5) / 1e6 AS score
            FROM d3 LEFT JOIN s USING (doc_id)
        """,
        "q50_range_join": """
            WITH o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 3000),
            pts AS (SELECT o_custkey % 50 AS k, o_orderkey AS p FROM o),
            iv AS (SELECT o_custkey % 50 AS k,
                          o_orderkey - (o_orderkey % 97) AS lo,
                          o_orderkey - (o_orderkey % 97) + 40 AS hi,
                          o_orderkey AS tag
                   FROM o WHERE o_orderkey % 10 = 0)
            SELECT pts.k, pts.p, iv.lo, iv.hi, iv.tag
            FROM pts JOIN iv ON pts.k = iv.k AND pts.p BETWEEN iv.lo AND iv.hi
        """,
        "q47_asof_join": """
            WITH e AS (SELECT event_id, user_id, event_type, value,
                              epoch_us(ts) AS us FROM events),
            c AS (SELECT event_id, user_id, us, value FROM e
                  WHERE event_type = 'click'),
            v AS (SELECT event_id AS view_event, user_id, us,
                         value AS view_value FROM e
                  WHERE event_type = 'view')
            SELECT c.event_id, c.user_id, c.us, c.value,
                   v.view_value, v.view_event
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND c.us >= v.us
        """,
        "q51_frame_sample": """
            -- closed-form mirror of the HYVI solid-frame pipeline: a
            -- sampled frame's brightness/mean_r are exactly its level
            WITH f AS (
                SELECT doc_id,
                       unnest(generate_series(0, 6 + doc_id % 7 - 1)) AS i
                FROM documents)
            SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR)
                       AS image_id,
                   CAST(16 + (doc_id % 3) * 8 AS INTEGER) AS w,
                   CAST(16 AS INTEGER) AS h,
                   CAST((doc_id * 7 + i * 13) % 256 AS DOUBLE) AS brightness,
                   CAST((doc_id * 7 + i * 13) % 256 AS DOUBLE) AS mean_r
            FROM f WHERE i % 3 = 0
        """,
        "q52_audio_windows": """
            -- closed-form mirror of the HYAU square-wave windows:
            -- every sample is ±a (mean_abs = max_abs = a) and the sign
            -- flips exactly at half-period multiples, so crossings in
            -- window [s, s+511] = floor((s+511)/hp) - floor(s/hp)
            WITH w AS (
                SELECT doc_id,
                       100 + (doc_id % 90) * 10 AS a,
                       8 + doc_id % 25 AS hp,
                       2048 + (doc_id % 4) * 512 AS n,
                       unnest(generate_series(
                           0, (2048 + (doc_id % 4) * 512) // 512 - 1)) AS wi
                FROM documents)
            SELECT CAST(doc_id AS VARCHAR) AS audio_id,
                   CAST(wi AS INTEGER) AS window_idx,
                   CAST(a AS DOUBLE) AS mean_abs,
                   CAST(a AS DOUBLE) AS max_abs,
                   CAST((wi * 512 + 511) // hp - (wi * 512) // hp
                        AS INTEGER) AS zero_crossings,
                   CAST(n AS DOUBLE) / 8e3 AS duration_s
            FROM w
        """,
        "q48_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
                   CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
                   CAST(count(*) AS BIGINT) AS n,
                   floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
                   CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_lines,
                   concat_ws('_', 'market', 'daily', l_returnflag) AS task_id
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """,
        "q49_pivot": """
            SELECT o_orderstatus,
                   CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
                   CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
                   CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
                   CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
                   CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
            FROM orders GROUP BY o_orderstatus
        """,
        "q46_update_only": """
            WITH target AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
            source AS (
              SELECT o_orderkey, o_orderstatus,
                     floor(o_totalprice * 1.2 * 100.0 + 0.5) / 100.0 AS o_totalprice
              FROM orders WHERE o_orderkey % 3 = 0),
            matched AS (
              SELECT s.* FROM source s SEMI JOIN target t ON s.o_orderkey = t.o_orderkey),
            merged AS (
              SELECT t.* FROM target t ANTI JOIN matched m ON t.o_orderkey = m.o_orderkey
              UNION ALL SELECT * FROM matched)
            SELECT o_orderstatus, count(*) AS n,
                   floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS sum_total
            FROM merged GROUP BY o_orderstatus
        """,
        "q42_sessionize": """
            WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
            f AS (
              SELECT user_id, event_id, us, value,
                     CASE WHEN lag(us) OVER w IS NULL
                               OR us - lag(us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            s AS (
              SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
                           ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                         AS BIGINT) AS session_idx
              FROM f)
            SELECT user_id, session_idx,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(us) AS t_start_us, max(us) AS t_end_us,
                   max(us) - min(us) AS duration_us,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM s GROUP BY user_id, session_idx
        """,
        "q43_dedup_keep": f"""
            WITH {_winnow_pairs_cte},
            kept AS (SELECT id1, id2 FROM pairs WHERE n_shared >= 30),
            e AS (SELECT id1 AS src, id2 AS dst FROM kept
                  UNION ALL SELECT id2 AS src, id1 AS dst FROM kept),
            {_cc_iters_cte(4)},
            reps AS (SELECT min(node) AS doc_id FROM l4 GROUP BY label),
            labeled AS (SELECT DISTINCT node AS doc_id FROM l4)
            SELECT d.doc_id FROM d
            WHERE d.doc_id NOT IN (SELECT doc_id FROM labeled)
               OR d.doc_id IN (SELECT doc_id FROM reps)
        """,
        "q44_sitemap_extract": """
            WITH p AS (SELECT p_partkey FROM part WHERE p_partkey < 2000),
            x AS (
              SELECT p_partkey,
                     '<urlset><url><loc>https://h' || CAST(p_partkey % 40 AS VARCHAR)
                     || '.example.com/p/' || CAST(p_partkey AS VARCHAR) || '</loc></url>'
                     || CASE WHEN p_partkey % 3 = 0
                             THEN '<url><loc> https://h' || CAST(p_partkey % 40 AS VARCHAR)
                                  || '.example.com/extra/' || CAST(p_partkey AS VARCHAR)
                                  || ' </loc></url>'
                             ELSE '' END
                     || '</urlset>' AS xml
              FROM p)
            SELECT p_partkey,
                   unnest(regexp_extract_all(xml,
                     '<loc>\\s*(?:<!\\[CDATA\\[)?\\s*([^<\\s][^<]*?)\\s*(?:\\]\\]>)?\\s*</loc>', 1)) AS url
            FROM x
        """,
        "q45_profile": """
            WITH s AS (
              SELECT 'l_quantity' AS col_name,
                     CAST(count(l_quantity) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                     min(l_quantity) AS min_v, max(l_quantity) AS max_v,
                     floor(CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
                           / count(l_quantity) / 100.0 * 1e6 + 0.5) / 1e6 AS mean_c,
                     floor(quantile_cont(l_quantity, 0.5) * 1e6 + 0.5) / 1e6 AS p50
              FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice',
                     CAST(count(l_extendedprice) AS BIGINT),
                     CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     min(l_extendedprice), max(l_extendedprice),
                     floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                           / count(l_extendedprice) / 100.0 * 1e6 + 0.5) / 1e6,
                     floor(quantile_cont(l_extendedprice, 0.5) * 1e6 + 0.5) / 1e6
              FROM lineitem
              UNION ALL
              SELECT 'l_discount',
                     CAST(count(l_discount) AS BIGINT),
                     CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     min(l_discount), max(l_discount),
                     floor(CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
                           / count(l_discount) / 100.0 * 1e6 + 0.5) / 1e6,
                     floor(quantile_cont(l_discount, 0.5) * 1e6 + 0.5) / 1e6
              FROM lineitem)
            SELECT * FROM s
        """,
        "q41_trap_signals": """
            WITH u AS (
              SELECT o_orderkey,
                     'https://h' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com/'
                     || repeat('a/b/', CAST(o_orderkey % 5 AS INTEGER)) || 'page'
                     || CASE WHEN o_orderkey % 4 > 0
                             THEN '?' || substr(repeat('&k=v',
                                                CAST(o_orderkey % 4 AS INTEGER)), 2)
                             ELSE '' END AS url
              FROM orders WHERE o_orderkey < 3000),
            p AS (
              SELECT o_orderkey,
                     list_filter(string_split(
                       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]+(/[^?#]*)', 1),
                       '/'), x -> x != '') AS segs,
                     regexp_extract(url, '\\?([^#]*)', 1) AS q
              FROM u),
            m AS (
              SELECT o_orderkey,
                     CAST(len(segs) AS INTEGER) AS depth,
                     CAST(CASE WHEN q = '' THEN 0
                          ELSE len(string_split(q, '&')) END AS INTEGER) AS n_params,
                     CAST(coalesce(list_max(list_transform(segs,
                            s -> len(list_filter(segs, x -> x = s)))), 0)
                          AS INTEGER) AS max_repeat
              FROM p)
            SELECT o_orderkey, depth, n_params, max_repeat,
                   (depth > 6 OR n_params > 2 OR max_repeat > 3) AS is_trap
            FROM m
        """,
    }
