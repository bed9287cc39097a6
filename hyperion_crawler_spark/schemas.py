"""Engine table schemas (FIXTURES.md §1-7).

The reference declares its sink schema by hand
(/root/reference/api/src/etl/krx/transformer.py:127-149) and validates
required keys on read (transformer.py:98-125). Here schemas are enforced
StructTypes — `spark.read.schema(...)` / `createDataFrame(..., schema)`,
never inferred.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary corpus: image + caption pairs (BASELINE.json input_hint).
CORPUS = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
])

SEEDS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("priority", T.DoubleType(), False),
])

LINKS = T.StructType([
    T.StructField("src_url", T.StringType(), False),
    T.StructField("dst_url", T.StringType(), False),
    T.StructField("dst_image_id", T.StringType(), False),
    T.StructField("dst_priority", T.DoubleType(), False),
])

ROBOTS = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), False),
    T.StructField("allow_prefixes", T.ArrayType(T.StringType()), False),
    T.StructField("crawl_delay_s", T.DoubleType(), False),
    T.StructField("max_per_round", T.IntegerType(), False),
])

# Frontier status machine mirrors CrawlerTaskLog.status
# (/root/reference/api/src/models/task_log.py:19): pending/running/success/
# failed → queued/in_flight/fetched/failed/excluded.
FRONTIER = T.StructType([
    T.StructField("urlhash", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("priority", T.DoubleType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("retry_count", T.IntegerType(), False),
    T.StructField("next_fetch_ts", T.LongType(), False),
    T.StructField("discovered_round", T.IntegerType(), False),
])

SEEN_FILTERS = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("filter_bytes", T.BinaryType(), False),
    T.StructField("n_items", T.LongType(), False),
])

SEEN_EXACT = T.StructType([
    T.StructField("urlhash", T.LongType(), False),
    T.StructField("shard", T.IntegerType(), False),
])

RESULTS = T.StructType([
    T.StructField("urlhash", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("round", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),   # fetched | failed
    T.StructField("psnr_db", T.DoubleType(), True),
    T.StructField("caption_ok", T.BooleanType(), True),
    T.StructField("phash", T.LongType(), True),
    T.StructField("caption", T.StringType(), True),
])

# Mirrors CrawlerTaskLog fields (task_log.py:11-46) + LoadResult tallies
# (base/loader.py:24-59), one row per round.
LINEAGE = T.StructType([
    T.StructField("round", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("urls_scheduled", T.LongType(), False),
    T.StructField("fetched", T.LongType(), False),
    T.StructField("failed", T.LongType(), False),
    T.StructField("deduped", T.LongType(), False),
    T.StructField("execution_time", T.DoubleType(), False),
    T.StructField("params", T.StringType(), True),
])
