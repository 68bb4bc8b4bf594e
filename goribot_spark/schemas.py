"""Fixed schemas for the engine's tables (SURVEY.md §1.7).

The reference is dynamically typed (``map[string]interface{}`` Meta,
``interface{}`` items — reference net.go:98, scheduler.go:26-33); the Spark
engine pins every table to an explicit StructType.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Frontier row = reference Task/Request (goribot.go:29-36, net.go:88-102).
# Ordering columns (priority, discovery_epoch, seq) replace FIFO/LIFO queue
# position (scheduler.go:39-68); handler closures become handler_id strings
# resolved against the registered-handler registry (SURVEY.md §2.10 U1).
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("priority", IntegerType(), False),
        StructField("discovery_epoch", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("retry_count", IntegerType(), False),
        StructField("referer", StringType(), True),
        StructField("handler_id", StringType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

# Seen-set (reference extensions.go:289, manager.go:186): just the 64-bit
# canonical hash. At 10^10 scale this is bucketed by url_hash.
SEEN = StructType([StructField("url_hash", LongType(), False)])

# Fetched page after the synthetic-fetch join (reference Response,
# net.go:176-188) + parse outputs (net.go:191-228).
FETCHED = StructType(
    list(FRONTIER.fields)
    + [
        StructField("status", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("body", BinaryType(), True),
        StructField("links", ArrayType(StringType()), True),
        StructField("image_refs", ArrayType(StringType()), True),
        StructField("title", StringType(), True),
    ]
)

# Results table per BASELINE.json input_hint: image + caption payload.
RESULTS = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
        StructField("decode_error", StringType(), True),
        StructField("src_url", StringType(), True),
        StructField("wave", IntegerType(), False),
    ]
)

# Errors table (reference ErrorItem extensions.go:157-160, OnError
# goribot.go:345-352).
ERRORS = StructType(
    [
        StructField("url", StringType(), True),
        StructField("url_hash", LongType(), True),
        StructField("depth", IntegerType(), True),
        StructField("retry_count", IntegerType(), True),
        StructField("error_kind", StringType(), False),
        StructField("error_msg", StringType(), True),
        StructField("wave", IntegerType(), False),
    ]
)

# Per-wave metrics (reference SpiderLogPrint counters, extensions.go:216-247)
# + per-partition lineage rows required by the north rule.
METRICS = StructType(
    [
        StructField("wave", IntegerType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("urls_scheduled", LongType(), False),
        StructField("urls_fetched", LongType(), False),
        StructField("images_decoded", LongType(), False),
        StructField("errors", LongType(), False),
        StructField("distinct_hosts", LongType(), False),
        StructField("wall_sec", DoubleType(), False),
    ]
)

# Per-host session state — the cookie jar analog (net.go:261-263,
# net_test.go:116-137), merged and re-snapshotted per wave (cross-wave
# semantics, SURVEY §7.3 item 5). Rate-token carry-over lives in the run
# manifest's driver_state (config-scale), not here.
HOST_STATE = StructType(
    [
        StructField("host", StringType(), False),
        StructField("cookies", MapType(StringType(), StringType()), True),
    ]
)

# Politeness / limit rules (reference LimitRule, limiter.go:22-38).
LIMIT_RULES = StructType(
    [
        StructField("rule_id", IntegerType(), False),
        StructField("host_glob", StringType(), False),
        StructField("allow", BooleanType(), False),
        StructField("delay_sec", DoubleType(), True),
        StructField("rate_per_sec", DoubleType(), True),
        StructField("parallelism", IntegerType(), True),
        StructField("max_req", IntegerType(), True),
        StructField("max_depth", IntegerType(), True),
    ]
)

# robots.txt rules (reference RobotsTxt, extensions.go:131-151).
ROBOTS_RULES = StructType(
    [
        StructField("host", StringType(), False),
        StructField("ua", StringType(), False),
        StructField("path_prefix", StringType(), False),
        StructField("allow", BooleanType(), False),
    ]
)

# Synthetic web graph (fixture stand-in for HTTP; SURVEY.md §2.1 S4/J5).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("status", IntegerType(), False),
        StructField("fail_times", IntegerType(), False),
        StructField("content_type", StringType(), False),
        StructField("body", BinaryType(), True),
        StructField("links", ArrayType(StringType()), True),
        StructField("image_refs", ArrayType(StringType()), True),
        StructField("title", StringType(), True),
        StructField("gzipped", BooleanType(), False),
        # Set-Cookie analog (net.go:261-263): map of cookies this page sets.
        StructField("set_cookies", MapType(StringType(), StringType()), True),
    ]
)

IMAGES = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)

SEEDS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("handler_id", StringType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
        StructField("priority", IntegerType(), False),
    ]
)
