"""Input/output schemas (BASELINE.json input_hint; SURVEY.md §1.2)."""
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType, MapType,
    StringType, StructField, StructType, TimestampType,
)

# Common-Crawl-style pages table (input_hint)
PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

SPAN_TYPE = StructType([
    StructField("node_id", IntegerType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
])

# Kernel stage (S5) output. content_hash is a PASSTHROUGH column (like
# part_key): the job computes xxhash64(html) JVM-side before the kernel so
# the post-parse dedup window can tiebreak equal-warc_ts snapshots on raw
# content without the raw html ever crossing an exchange.
PARSED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("part_key", LongType()),
    StructField("content_hash", LongType()),
    StructField("status", StringType()),
    StructField("title", StringType()),
    StructField("text", StringType()),
    StructField("main_text", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("errors", MapType(StringType(), LongType())),
    StructField("n_errors", LongType()),
    StructField("n_nodes", LongType()),
    StructField("n_elements", LongType()),
    StructField("html_bytes", LongType()),
])

# (url, warc_ts) is the page key — a url can have several snapshots in the
# corpus; the exploded per-element tables lead with it.
PAGE_KEY_FIELDS = PARSED_SCHEMA.fields[:2]

# One <a href> outlink (kernel/links.py); seq is the anchor's document-order
# index.
LINK_TYPE = StructType([
    StructField("seq", IntegerType()),
    StructField("href", StringType()),
    StructField("href_abs", StringType()),
    StructField("dst_host", StringType()),
    StructField("anchor", StringType()),
    StructField("nofollow", BooleanType()),
])

# One arena DOM node (FIXTURES.md §4) for SQL-checkable X1/X2 stats. The
# arena's direct_text_len is text_len here, its subtree text_len is
# subtree_text_len.
NODE_TYPE = StructType([
    StructField("node_id", IntegerType()),
    StructField("parent_id", IntegerType()),
    StructField("kind", StringType()),
    StructField("tag", StringType()),
    StructField("depth", IntegerType()),
    StructField("text_len", LongType()),
    StructField("subtree_text_len", LongType()),
    StructField("link_text_len", LongType()),
    StructField("n_desc_tags", LongType()),
    StructField("is_anchor_desc", BooleanType()),
])

# Optional web-graph columns parse_batch can emit in ADDITION to
# PARSED_SCHEMA: the page's outlinks and its indexing metadata (<base>,
# <link rel=canonical>, <meta robots>, <meta name=description>).
PARSED_LINK_FIELDS = [
    StructField("links", ArrayType(LINK_TYPE)),
    StructField("base_href", StringType()),
    StructField("canonical", StringType()),
    StructField("robots_noindex", BooleanType()),
    StructField("robots_nofollow", BooleanType()),
    StructField("meta_description", StringType()),
]

# Every column parse_batch can emit; kernel_stage.parsed_schema selects them
# by name and default consumers never build or ship the optional ones.
PARSED_FULL_SCHEMA = StructType(
    PARSED_SCHEMA.fields + PARSED_LINK_FIELDS
    + [StructField("nodes", ArrayType(NODE_TYPE))])

# job.explode_pages of the links / nodes column: one row per outlink / per
# DOM node.
LINKS_SCHEMA = StructType(PAGE_KEY_FIELDS + LINK_TYPE.fields)
NODES_SCHEMA = StructType(PAGE_KEY_FIELDS + NODE_TYPE.fields)

# Per-partition lineage manifest (S9): ≤ B rows, one per part_key. Carries
# the byte/error tallies as well so job-level metrics are a sum over the
# manifest — never a scan of the sink.
LINEAGE_SCHEMA = StructType([
    StructField("part_key", LongType()),
    StructField("n_rows", LongType()),
    StructField("n_ok", LongType()),
    StructField("n_bytes", LongType()),
    StructField("n_errors", LongType()),
    StructField("checksum", LongType()),
    # flag the partition was parsed under (run_pipeline(transcode=...)):
    # resume compares it against the current run's flag and fails fast on
    # mismatch, since completed partitions are never re-parsed.
    StructField("transcode", BooleanType()),
    # the B of part_key = pmod(xxhash64(url), B) (job.sink_buckets): resume
    # adopts it and refuses a manifest without exactly one value
    StructField("buckets", IntegerType()),
    # the manifest layout (job.LINEAGE_FORMAT): resume refuses any other
    StructField("format", IntegerType()),
])
